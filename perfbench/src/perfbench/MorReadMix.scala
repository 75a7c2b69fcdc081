package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.cdc.{CdcFeed, CdcPipeline}
import graft.lake.LakeTable
import graft.model.SyntheticEvents

/** Closed loop, one client, reads only: point lookups, full live-state
  * scans and change-feed polls from a lagging version, against a
  * merge-on-read table built in set-up with many generations per bucket and
  * compaction off. Each cycle is `LookupsPerCycle` lookups, one scan and one
  * poll. Unit operation = one lookup; throughput = rows delivered per second
  * by the bulk reads (scan rows plus feed events over scan plus poll time). */
object MorReadMix {
  val Events = 32000L
  val Generations = 4
  val Buckets = 8
  val LookupsPerCycle = 6
  val WarmupCycles = 2
  val LagVersions = 3
  val SampledKeys = 64
  val Setups = 3

  def setup(c: Ctx, i: Int): String = {
    implicit val spark = c.spark
    val dir = c.dir(s"events-$i")
    c.trace.span("model.generate") {
      SyntheticEvents.generate(spark, Events, nRepos = 100, filesPerRepo = 100, seed = c.seed)
        .repartitionByRange(4, col("lsn")).write.mode("overwrite").parquet(dir)
    }
    val root = c.dir(s"table-$i")
    val p = new CdcPipeline(LakeTable(root), "perfbench", mergeOnRead = true, compactEveryFiles = 0)
    p.bootstrap(numBuckets = Buckets)
    c.trace.span("cdc.pipeline.populate")(p.replay(spark.read.parquet(dir), Generations))
    root
  }

  def run(c: Ctx): Outcome = {
    implicit val spark = c.spark
    val setups = (0 until Setups).map(i => c.timed(setup(c, i)))
    val root = setups.last._1
    val events = spark.read.parquet(c.dir(s"events-${Setups - 1}"))
    val table = LakeTable(root)

    // expectations, from the benchmark's own reference
    val refLive = Gate.referenceLive(events)
    val ref = Gate.digest(refLive)
    val keys = events.select(Gate.Keys.map(col): _*).distinct()
      .orderBy(xxhash64(lit(c.seed) +: Gate.Keys.map(col): _*)).limit(SampledKeys).collect().toSeq
    val keyDf = spark.createDataFrame(java.util.Arrays.asList(keys: _*), keys.head.schema)
    val expected: Map[Seq[Any], Set[Seq[Any]]] = refLive.join(keyDf, Gate.Keys).collect()
      .groupBy(r => Gate.Keys.map(r.getAs[Any](_)).toSeq)
      .map { case (k, rs) => k -> rs.map(r => Gate.Payload.map(r.getAs[Any](_)).toSeq).toSet }
    val snap = table.currentSnapshot.get
    val latest = snap.version
    val from = latest - LagVersions
    val before = table.snapshot(from).files.map(_.path).toSet
    val addedFiles = snap.files.filterNot(f => before.contains(f.path))
    val feedExpected = addedFiles.map(_.rows).sum

    def lookup(k: Row): Boolean = {
      val kv = Gate.Keys.map(n => n -> k.getAs[Any](n)).toMap
      val got = c.trace.span("cdc.read.lookup")(CdcPipeline.lookup(table, kv).collect())
        .map(r => Gate.Payload.map(r.getAs[Any](_)).toSeq).toSet
      got == expected.getOrElse(Gate.Keys.map(kv).toSeq, Set.empty)
    }
    def scan(): Gate.Digest = c.trace.span("cdc.read.scan")(Gate.digest(CdcPipeline.liveState(table)))
    def poll(): Long = c.trace.span("cdc.feed.poll") {
      CdcFeed.poll(table, from).map(_._2.count()).getOrElse(-1L)
    }

    c.log("set-up done")
    // warm-up, untimed: lookups are mostly driver-side planning, which the
    // JIT keeps speeding up long after the first call
    (0 until WarmupCycles).foreach { _ =>
      keys.take(LookupsPerCycle).foreach(lookup); scan(); poll()
    }

    var attempted = 0L; var failed = 0L
    val lookupS = Seq.newBuilder[Double]
    var scanRows = 0L; var scanS = 0.0
    var feedEvents = 0L; var feedS = 0.0
    var measured = 0.0; var i = 0
    def attempt[T](f: => T)(ok: T => Boolean): Option[(T, Double)] = {
      attempted += 1
      try {
        val (r, sec) = c.timed(f)
        measured += sec
        if (ok(r)) Some((r, sec)) else { failed += 1; None }
      } catch { case e: Exception => c.log(s"read failed: $e"); failed += 1; None }
    }
    while (measured < c.seconds) {
      (0 until LookupsPerCycle).foreach { _ =>
        val k = keys(i % keys.size); i += 1
        attempt(lookup(k))(identity).foreach(x => lookupS += x._2)
      }
      attempt(scan())(d => Gate.matches(d, ref)).foreach { case (d, sec) =>
        scanRows += d.rows; scanS += sec }
      attempt(poll())(_ == feedExpected).foreach { case (n, sec) =>
        feedEvents += n; feedS += sec }
      c.log(f"cycle: lookups ${lookupS.result().takeRight(LookupsPerCycle).map(x => f"$x%.3f").mkString(" ")}")
    }
    if (failed > 0) c.log(s"read mix: $failed of $attempted reads failed or mismatched")
    c.log(f"read mix: scan ${scanRows / math.max(scanS, 1e-9)}%.0f rows/s, feed ${feedEvents / math.max(feedS, 1e-9)}%.0f events/s")

    val layer =
      if (!c.trace.enabled) Map.empty[String, Double]
      else {
        c.trace.drain()
        val scans = c.trace.spans("cdc.read.scan").drop(WarmupCycles)
        val a = c.trace.agg(c.trace.jobsOf(scans))
        val facts = LakeStats.of(root, 0L)
        val polls = c.trace.spanSeconds("cdc.feed.poll").drop(WarmupCycles)
        val bucketFiles = keys.map { k =>
          val b = table.bucketOf(snap, Gate.Keys, Gate.Keys.map(n => n -> k.getAs[Any](n)).toMap)
          snap.files.count(_.bucket == b).toDouble
        }
        Map(
          "cdc.read.lookup_files_scanned" -> bucketFiles.sum / bucketFiles.size,
          "cdc.read.rows_examined_per_row_returned" -> facts.storedRows.toDouble / math.max(1L, ref.rows),
          "cdc.read.scan_executor_cpu_s" -> a.cpuS / math.max(1, scans.size),
          "cdc.read.scan_shuffle_bytes" -> (a.shuffleRead + a.shuffleWrite).toDouble / math.max(1, scans.size),
          "cdc.read.scan_spill_bytes" -> a.spill.toDouble / math.max(1, scans.size),
          "cdc.read.scan_rows_per_s" -> scanRows / math.max(scanS, 1e-9),
          "cdc.feed.poll_s" -> (if (polls.isEmpty) 0.0 else Stats.median(polls)),
          "cdc.feed.files_read" -> addedFiles.size.toDouble,
          "cdc.feed.events_out" -> feedExpected.toDouble,
          "cdc.feed.events_per_s" -> feedEvents / math.max(feedS, 1e-9),
          "lake.commits" -> facts.commits.toDouble,
          "lake.meta_bytes_per_commit" -> facts.metaBytesPerCommit,
          "lake.data_files" -> facts.dataFiles.toDouble,
          "lake.files_per_bucket_max" -> facts.filesPerBucketMax.toDouble,
          "lake.bytes_per_live_byte" -> facts.storedBytes.toDouble / math.max(1L, ref.liveBytes),
          "lake.snapshot_read_s" -> LakeStats.snapshotReadS(root, 5),
          "model.generate_s" -> Stats.median(c.trace.spanSeconds("model.generate")))
      }
    val ls = lookupS.result()
    Outcome(attempted, failed, failed == 0 && ls.nonEmpty, setups.map(_._2),
      (scanRows + feedEvents) / math.max(scanS + feedS, 1e-9), ls, layer)
  }
}
