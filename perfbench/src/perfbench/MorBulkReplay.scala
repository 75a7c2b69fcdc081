package perfbench

import org.apache.spark.sql.functions.col

import graft.cdc.{CdcPipeline, MergeStats}
import graft.lake.LakeTable
import graft.model.SyntheticEvents

/** Closed loop, one driver: replay a pre-materialised synthetic change
  * stream into a fresh merge-on-read table in a few large LSN-range batches,
  * then drain background compaction. One unit operation is one whole replay
  * (all batches plus the drain); throughput is events applied per second. */
object MorBulkReplay {
  val Events = 100000L
  val Batches = 3
  val Buckets = 32
  // the last batch's generation (the third) triggers compaction, so it runs
  // after the merges instead of racing them
  val CompactEveryFiles = 2
  val Setups = 3

  /** Writes the seeded event stream as LSN-ranged parquet files. */
  def generate(c: Ctx, dir: String): Unit =
    SyntheticEvents.generate(c.spark, Events, nRepos = 2000, filesPerRepo = 500, seed = c.seed)
      .repartitionByRange(8, col("lsn"))
      .write.mode("overwrite").parquet(dir)

  /** One replay + drain into a new table at `root`. */
  def replayOnce(c: Ctx, events: org.apache.spark.sql.DataFrame, root: String): (Seq[MergeStats], Double) = {
    implicit val spark = c.spark
    val p = new CdcPipeline(LakeTable(root), "perfbench", mergeOnRead = true,
      compactEveryFiles = CompactEveryFiles)
    p.bootstrap(numBuckets = Buckets)
    c.timed {
      val stats = c.trace.span("cdc.pipeline.replay")(p.replay(events, Batches))
      c.trace.span("cdc.pipeline.await_maintenance")(p.awaitMaintenance())
      stats
    }
  }

  def run(c: Ctx): Outcome = {
    val setups = (0 until Setups).map { i =>
      c.timed(c.trace.span("model.generate")(generate(c, c.dir(s"events-$i"))))._2
    }
    val events = c.spark.read.parquet(c.dir(s"events-${Setups - 1}"))
    c.log("set-up done")
    replayOnce(c, events, c.dir("warmup")) // JIT and code generation, untimed
    Host.deleteRecursively(java.nio.file.Path.of(c.dir("warmup")))
    c.log("warm-up done")

    var attempted = 0L; var failed = 0L
    val times = Seq.newBuilder[Double]
    val allStats = Seq.newBuilder[MergeStats]
    val roots = Seq.newBuilder[String]
    var measured = 0.0; var rep = 0
    while (measured < c.seconds) {
      val root = c.dir(s"table-$rep")
      attempted += Batches
      try {
        val (stats, sec) = replayOnce(c, events, root)
        measured += sec
        if (stats.map(_.eventsIn).sum != Events || stats.size != Batches) {
          c.log(s"rep $rep applied ${stats.map(_.eventsIn).sum} of $Events events in ${stats.size} batches")
          failed += Batches
        } else { times += sec; allStats ++= stats; roots += root }
        c.log(f"replay $rep: $sec%.3fs")
      } catch {
        case e: Exception =>
          c.log(s"rep $rep failed: $e"); failed += Batches; measured += 1.0
      }
      rep += 1
    }

    c.log(s"measured $rep replays")
    // correctness: every rep applied every event (checked above); the last
    // measured table's live state against the benchmark's reference
    val ref = Gate.digest(Gate.referenceLive(events))
    var correct = failed == 0
    val tables = roots.result()
    val last = tables.lastOption.map { r =>
      val d = Gate.digest(CdcPipeline.liveState(LakeTable(r)(c.spark)))
      if (!Gate.matches(d, ref)) {
        c.log(s"gate mismatch in $r: engine ${d.rows} rows ${d.sha256}, reference ${ref.rows} rows ${ref.sha256}")
        failed += Batches; correct = false
      }
      d
    }
    c.log("gate done")
    val ts = times.result()
    val layer =
      if (!c.trace.enabled || tables.isEmpty) Map.empty[String, Double]
      else layers(c, allStats.result(), tables, last.get, setups, Events / Stats.median(ts))
    tables.foreach(r => Host.deleteRecursively(java.nio.file.Path.of(r)))
    Outcome(attempted, failed, correct && ts.nonEmpty, setups,
      if (ts.isEmpty) 0.0 else Events / Stats.median(ts), ts, layer)
  }

  private def layers(c: Ctx, stats: Seq[MergeStats], tables: Seq[String], last: Gate.Digest,
      setups: Seq[Double], eventsPerS: Double): Map[String, Double] = {
    implicit val spark = c.spark
    c.trace.drain()
    val replays = c.trace.spans("cdc.pipeline.replay").drop(1) // first is the warm-up
    val fg = c.trace.jobsOf(replays)
    val a = c.trace.agg(fg)
    val nb = stats.size.toDouble
    val facts = tables.map(LakeStats.of(_, 0L))
    val lastFacts = facts.last
    val maint = c.trace.agg(c.trace.maintenanceJobs)
    val m = MergeLayer(a, stats.map(s => (s.eventsIn, s.rowsWritten, s.bucketsTouched.toLong,
      s.filesRewritten.toLong, s.bytesWritten, s.lwwConflicts)), stats.count(_.eventsIn == 0)) ++ Map(
      "cdc.pipeline.apply_s" -> replays.map(_.seconds).sum / nb,
      "cdc.pipeline.apply_driver_s" -> replays.map(c.trace.driverOnlySeconds).sum / nb,
      "cdc.pipeline.jobs_per_batch" -> fg.size / nb,
      "cdc.pipeline.maintenance_wait_s" ->
        Stats.median(c.trace.spanSeconds("cdc.pipeline.await_maintenance").drop(1)),
      "cdc.compaction.runs" -> facts.map(_.compactions).sum.toDouble / tables.size,
      "cdc.compaction.bytes_rewritten" -> facts.map(_.compactionBytes).sum.toDouble / tables.size,
      "cdc.compaction.executor_s" -> maint.runS / (tables.size + 1), // warm-up replay included
      "lake.commits" -> facts.map(_.commits).sum.toDouble / tables.size,
      "lake.meta_bytes_per_commit" -> lastFacts.metaBytesPerCommit,
      "lake.data_files" -> lastFacts.dataFiles.toDouble,
      "lake.files_per_bucket_max" -> lastFacts.filesPerBucketMax.toDouble,
      "lake.bytes_per_live_byte" -> lastFacts.storedBytes.toDouble / math.max(1L, last.liveBytes),
      "lake.snapshot_read_s" -> LakeStats.snapshotReadS(tables.last, 5),
      "model.generate_s" -> Stats.median(setups))
    m ++ Map("cdc.scaling.efficiency_1_to_k" -> scaling(c, eventsPerS))
  }

  /** One replay at local[1]; efficiency = (rate at k cores / rate at 1) / k. */
  private def scaling(c: Ctx, eventsPerS: Double): Double = {
    c.spark.stop()
    c.spark = c.newSession(1)
    val events = c.spark.read.parquet(c.dir(s"events-${Setups - 1}"))
    val (_, sec) = replayOnce(c, events, c.dir("table-local1"))
    val one = Events / sec
    c.log(f"scaling: local[1] $one%.0f events/s, local[${c.cores}] $eventsPerS%.0f events/s")
    (eventsPerS / one) / c.cores
  }
}

/** Per-batch merge facts (MergeStats or lineage records) and the Spark work
  * of the apply spans, as `cdc.merge.*` metrics. Each batch is
  * (eventsIn, rowsWritten, bucketsTouched, filesWritten, bytesWritten,
  * lwwConflicts). */
object MergeLayer {
  def apply(a: Trace#Agg, batches: Seq[(Long, Long, Long, Long, Long, Long)],
      emptyCommits: Int): Map[String, Double] = {
    val n = math.max(1, batches.size).toDouble
    Map(
      "cdc.merge.executor_cpu_s" -> a.cpuS / n,
      "cdc.merge.executor_run_s" -> a.runS / n,
      "cdc.merge.gc_s" -> a.gcS / n,
      "cdc.merge.shuffle_write_bytes" -> a.shuffleWrite / n,
      "cdc.merge.shuffle_read_bytes" -> a.shuffleRead / n,
      "cdc.merge.spill_bytes" -> a.spill / n,
      "cdc.merge.task_skew" -> a.skew,
      "cdc.merge.rewrite_ratio" -> batches.map(_._2).sum.toDouble / math.max(1L, batches.map(_._1).sum),
      "cdc.merge.buckets_touched" -> batches.map(_._3).sum / n,
      "cdc.merge.files_rewritten" -> batches.map(_._4).sum / n,
      "cdc.merge.bytes_written" -> batches.map(_._5).sum / n,
      "cdc.merge.lww_conflicts" -> batches.map(_._6).sum / n,
      "cdc.merge.empty_commits" -> emptyCommits.toDouble)
  }
}
