package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** Scan planning from the snapshot manifest: a `FileIndex` whose file list is
  * exactly the [[DataFile]] entries a snapshot names, with the byte length
  * the writer recorded at commit. Spark's path-based reader would stat every
  * listed file again (and above `parallelPartitionDiscovery.threshold` paths
  * run a distributed listing job) to learn what the manifest already says;
  * this index answers from memory, so building a read makes no filesystem
  * call at any table size. Data files are immutable, so the recorded length
  * stays exact; the modification time is unknown and reported as 0.
  *
  * Unpartitioned: bucket pruning happens before the index is built (the
  * caller passes only the buckets it reads). Equality is by file set, like
  * Spark's own index over explicit paths, so two reads of the same files
  * share cached plans and reused exchanges.
  */
private[lake] final class ManifestFileIndex(private val dataDir: HPath, files: Seq[DataFile])
    extends FileIndex {

  private val statuses: Seq[FileStatusWithMetadata] = files.map(f =>
    FileStatusWithMetadata(new FileStatus(f.bytes, false, 0, 0L, 0L,
      new HPath(dataDir, f.path))))

  private lazy val pathSet: Set[String] = files.iterator.map(_.path).toSet

  override def rootPaths: Seq[HPath] = statuses.map(_.getPath)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, statuses))

  override def inputFiles: Array[String] = statuses.map(_.getPath.toUri.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.iterator.map(_.bytes).sum

  override def partitionSchema: StructType = new StructType()

  override def equals(other: Any): Boolean = other match {
    case o: ManifestFileIndex => dataDir == o.dataDir && pathSet == o.pathSet
    case _ => false
  }

  override def hashCode(): Int = (dataDir, pathSet).hashCode()

  override def toString: String = s"ManifestFileIndex(${files.size} files in $dataDir)"
}
