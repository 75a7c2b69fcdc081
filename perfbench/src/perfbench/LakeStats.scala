package perfbench

import graft.lake.LakeTable

/** Table facts read from the snapshot history, the way any reader of the
  * lake format could: commits, compaction commits and what they rewrote,
  * file layout of the latest snapshot, and metadata bytes per commit. */
object LakeStats {
  case class Facts(commits: Long, compactions: Int, compactionBytes: Long,
      dataFiles: Int, filesPerBucketMax: Int, storedRows: Long, storedBytes: Long,
      metaBytesPerCommit: Double)

  /** Facts about versions after `fromVersion` and the latest snapshot.
    * A compaction commit carries its parent's (appId, batchId), which is
    * how it is told apart from a merge commit. */
  def of(root: String, fromVersion: Long)(implicit spark: org.apache.spark.sql.SparkSession): Facts = {
    val t = LakeTable(root)
    val latest = t.latestVersion
    val snaps = (math.max(0L, fromVersion) to latest).map(t.snapshot)
    val comp = snaps.sliding(2).collect {
      case Seq(p, s) if s.version > fromVersion && s.batchId == p.batchId && s.appId == p.appId =>
        val before = p.files.map(_.path).toSet
        s.files.filterNot(f => before.contains(f.path)).map(_.bytes).sum
    }.toSeq
    val last = snaps.last
    val meta = Host.dirBytes(java.nio.file.Path.of(root, "meta"))
    Facts(latest - fromVersion, comp.size, comp.sum, last.files.size,
      if (last.files.isEmpty) 0 else last.files.groupBy(_.bucket).values.map(_.size).max,
      last.files.map(_.rows).sum, last.files.map(_.bytes).sum,
      meta.toDouble / (latest + 1))
  }

  /** Median seconds of reading the latest snapshot through a fresh table
    * handle (no cached manifests), over `n` reads. */
  def snapshotReadS(root: String, n: Int)(implicit spark: org.apache.spark.sql.SparkSession): Double =
    Stats.median((1 to n).map { _ =>
      val t0 = System.nanoTime()
      LakeTable(root).currentSnapshot
      (System.nanoTime() - t0) / 1e9
    })
}
