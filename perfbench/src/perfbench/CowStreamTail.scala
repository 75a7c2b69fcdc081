package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.cdc.{CdcPipeline, Lineage}
import graft.lake.LakeTable
import graft.model.SyntheticEvents
import graft.streaming.CdcStream

/** Open loop: `CdcStream` (ProcessingTime trigger) tails a directory into a
  * copy-on-write table populated during set-up, while one generator thread
  * moves small pre-written event files into the directory on a fixed
  * schedule. A file's freshness runs from its due time to the end of the
  * first trigger whose committed snapshot watermark covers its LSNs. Unit
  * operation = one event file; throughput = events committed per second of
  * schedule. */
object CowStreamTail {
  val PopulateEvents = 10000L
  val Buckets = 8
  val EventsPerFile = 100
  val IntervalMs = 100L // 10 files/s, 1000 events/s offered
  // shorter than any trigger's work, so each trigger starts when the
  // previous one ends and takes every file released meanwhile
  val TriggerMs = 250L
  val WarmupFiles = 15
  val Setups = 3
  val AppId = "tail"

  case class Progress(batchId: Long, startMs: Long, endMs: Long, durations: Map[String, Long])

  /** Collects the progress record of every trigger that ran a batch. */
  final class ProgressLog extends StreamingQueryListener {
    val all = mutable.ArrayBuffer.empty[Progress]
    @volatile var runId: String = ""
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      runId = e.runId.toString
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      if (p.numInputRows > 0) all.synchronized {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        all += Progress(p.batchId, start, start + d.getOrElse("triggerExecution", 0L), d)
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def snapshot: Seq[Progress] = all.synchronized(all.toList)
  }

  /** File i holds LSNs [PopulateEvents + i * EventsPerFile, + EventsPerFile)
    * and sits alone in `stagingDir/f=i/`. */
  case class Setup(populateDir: String, stagingDir: String, nFiles: Int,
      tableRoot: String, populateVersion: Long) {
    def maxLsn(i: Int): Long = PopulateEvents + (i + 1L) * EventsPerFile - 1
  }

  /** Writes the populate events and the tail files, and populates the
    * copy-on-write table. */
  def setup(c: Ctx, i: Int, nFiles: Int): Setup = {
    implicit val spark = c.spark
    val all = SyntheticEvents.generate(spark, PopulateEvents + nFiles.toLong * EventsPerFile,
      nRepos = 2000, filesPerRepo = 500, seed = c.seed)
    val populateDir = c.dir(s"populate-$i")
    val staging = c.dir(s"staging-$i")
    c.trace.span("model.generate") {
      all.filter(col("lsn") < PopulateEvents).write.mode("overwrite").parquet(populateDir)
      val f = ((col("lsn") - PopulateEvents) / EventsPerFile).cast("int")
      all.filter(col("lsn") >= PopulateEvents).repartition(f).withColumn("f", f)
        .write.mode("overwrite").partitionBy("f").parquet(staging)
    }
    val root = c.dir(s"table-$i")
    val p = new CdcPipeline(LakeTable(root), "populate")
    p.bootstrap(numBuckets = Buckets)
    c.trace.span("cdc.pipeline.populate")(p.replay(spark.read.parquet(populateDir), 1))
    Setup(populateDir, staging, nFiles, root, LakeTable(root).latestVersion)
  }

  def run(c: Ctx): Outcome = {
    implicit val spark = c.spark
    val measuredFiles = math.ceil(c.seconds * 1000 / IntervalMs).toInt
    val nFiles = WarmupFiles + measuredFiles
    val setups = (0 until Setups).map(i => c.timed(setup(c, i, nFiles)))
    val s = setups.last._1
    c.log("set-up done")
    val watch = c.dir("watch")
    Files.createDirectories(Path.of(watch))

    val log = new ProgressLog
    spark.streams.addListener(log)
    val table = LakeTable(s.tableRoot)
    val (q, pipeline) = CdcStream.startWithPipeline(spark, watch, table, c.dir("checkpoint"), AppId,
      trigger = Trigger.ProcessingTime(TriggerMs))
    def released(i: Int) = Path.of(watch, f"events-$i%05d.parquet")
    val start = System.currentTimeMillis() + 1000
    val loop = new OpenLoop(start, IntervalMs, s.nFiles, i => {
      val src = Files.list(Path.of(s.stagingDir, s"f=$i")).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toList match {
          case one :: Nil => one
          case other => throw new IllegalStateException(s"expected one file for f=$i, found $other")
        }
      Files.setLastModifiedTime(src, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      Files.move(src, released(i), StandardCopyOption.ATOMIC_MOVE)
    }).start()
    loop.join()

    c.log("schedule done")
    // drain: wait until the last released file is covered, then stop
    val reader = LakeTable(s.tableRoot)
    val lastLsn = s.maxLsn(loop.released - 1)
    val deadline = System.currentTimeMillis() + 60000
    // covered once a committed snapshot's watermark includes the last file
    // and the trigger that committed it has reported its progress
    def covered = reader.currentSnapshot.exists(sn => sn.watermarkLsn >= lastLsn &&
      log.snapshot.exists(_.batchId == sn.batchId))
    while (!covered && q.exception.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
    val streamError = q.exception
    q.stop()
    pipeline.awaitMaintenance()
    spark.streams.removeListener(log)
    streamError.foreach(e => c.log(s"stream failed: $e"))

    // coverage of each trigger from the snapshot it committed
    val snaps = ((s.populateVersion + 1) to reader.latestVersion).map(reader.snapshot)
    val wmByBatch = snaps.filter(_.appId == AppId).map(x => x.batchId -> x.watermarkLsn).toMap
    val progress = log.snapshot.sortBy(_.endMs)
    val completions = progress.flatMap { p =>
      wmByBatch.get(p.batchId).map(wm => (p.endMs, coveredIndex(s, wm)))
    }
    val fresh = OpenLoop.freshnessS(loop.dueMs.take(loop.released).toSeq, completions)
    val measured = fresh.drop(WarmupFiles)
    val ok = measured.flatten
    var failed = measured.count(_.isEmpty).toLong
    val attempted = measured.size.toLong

    // correctness: live state against the reference over everything offered
    val offered = spark.read.parquet(s.populateDir)
      .unionByName(spark.read.parquet((0 until loop.released).map(released(_).toString): _*))
    val ref = Gate.digest(Gate.referenceLive(offered))
    val got = Gate.digest(CdcPipeline.liveState(LakeTable(s.tableRoot)))
    val lineage = Lineage.read(spark, s.tableRoot).filter(col("version") > s.populateVersion)
      .collect().toSeq
    val eventsIn = lineage.map(_.getAs[Long]("eventsIn")).sum
    val tailEvents = loop.released.toLong * EventsPerFile
    var correct = streamError.isEmpty && loop.error == null
    if (!Gate.matches(got, ref)) {
      c.log(s"gate mismatch: engine ${got.rows} rows ${got.sha256}, reference ${ref.rows} rows ${ref.sha256}")
      correct = false; failed = attempted
    }
    if (eventsIn != tailEvents) {
      c.log(s"lineage eventsIn $eventsIn != offered $tailEvents"); correct = false; failed = attempted
    }
    val eventsOf = lineage.map(r => r.getAs[Long]("batchId") -> r.getAs[Long]("eventsIn")).toMap
    c.log(f"stream: files=${loop.released} triggers=${progress.size} offered=${loop.offeredPerS}%.2f files/s " +
      f"generator_late_max=${if (loop.lateS.isEmpty) 0.0 else loop.lateS.max}%.3fs")

    // processing rate: events committed per second of trigger execution,
    // over the triggers that committed measured files (the offered rate is
    // fixed, so events per wall second would not move)
    val timed = progress.filter(_.endMs >= loop.dueMs(WarmupFiles))
    val workPerS = timed.map(p => eventsOf.getOrElse(p.batchId, 0L)).sum /
      math.max(1e-9, timed.map(p => p.endMs - p.startMs).sum / 1000.0)
    val layer =
      if (!c.trace.enabled) Map.empty[String, Double]
      else layers(c, s, log.runId, progress.filter(_.batchId >= 0), lineage, loop)
    Outcome(attempted, failed, correct && ok.nonEmpty, setups.map(_._2), workPerS, ok, layer)
  }

  /** Highest file index whose LSNs are all at or below watermark `wm`. */
  def coveredIndex(s: Setup, wm: Long): Int =
    math.min(s.nFiles - 1L, (wm - PopulateEvents + 1) / EventsPerFile - 1).toInt

  private def layers(c: Ctx, s: Setup, runId: String, progress: Seq[Progress],
      lineage: Seq[org.apache.spark.sql.Row], loop: OpenLoop): Map[String, Double] = {
    implicit val spark = c.spark
    c.trace.drain()
    val jobs = c.trace.jobsInGroup(runId)
    val n = math.max(1, progress.size).toDouble
    def dur(k: String) = progress.map(_.durations.getOrElse(k, 0L)).sum / 1000.0 / n
    val driver = progress.map { p =>
      val add = p.durations.getOrElse("addBatch", 0L)
      val js = jobs.filter(j => j.startMs >= p.startMs && j.startMs <= p.endMs)
      math.min(add / 1000.0, c.trace.uncoveredSeconds(p.endMs - add, p.endMs, js))
    }
    // files released by each trigger's start but not yet covered before it
    val coveredBefore = progress.scanLeft(-1) { (acc, p) =>
      val wm = lineage.find(_.getAs[Long]("batchId") == p.batchId).map(_.getAs[Long]("maxLsn"))
      math.max(acc, wm.map(coveredIndex(s, _)).getOrElse(acc))
    }
    val backlog = progress.zip(coveredBefore).map { case (p, cov) =>
      loop.releasedMs.take(loop.released).count(r => r >= 0 && r <= p.startMs) - (cov + 1)
    }
    val facts = LakeStats.of(s.tableRoot, s.populateVersion)
    val live = Gate.digest(CdcPipeline.liveState(LakeTable(s.tableRoot)))
    def l(k: String) = lineage.map(r => r.getAs[Any](k) match {
      case x: java.lang.Number => x.longValue
      case _ => 0L
    })
    val batches = l("eventsIn").indices.map(i => (l("eventsIn")(i), l("rowsWritten")(i),
      l("bucketsTouched")(i), l("filesRewritten")(i), l("bytesWritten")(i), l("lwwConflicts")(i)))
    MergeLayer(c.trace.agg(jobs), batches, l("eventsIn").count(_ == 0)) ++ Map(
      "cdc.pipeline.apply_s" -> dur("addBatch"),
      "cdc.pipeline.apply_driver_s" -> driver.sum / n,
      "cdc.pipeline.jobs_per_batch" -> jobs.size / n,
      "streaming.trigger_s" -> dur("triggerExecution"),
      "streaming.add_batch_s" -> dur("addBatch"),
      "streaming.latest_offset_s" -> dur("latestOffset"),
      "streaming.wal_commit_s" -> dur("walCommit"),
      "streaming.rows_per_trigger" -> l("eventsIn").sum / n,
      "streaming.backlog_files_max" -> (if (backlog.isEmpty) 0.0 else backlog.max.toDouble),
      "streaming.generator_late_s" -> (if (loop.lateS.isEmpty) 0.0 else loop.lateS.max),
      "lake.commits" -> facts.commits.toDouble,
      "lake.meta_bytes_per_commit" -> facts.metaBytesPerCommit,
      "lake.data_files" -> facts.dataFiles.toDouble,
      "lake.files_per_bucket_max" -> facts.filesPerBucketMax.toDouble,
      "lake.bytes_per_live_byte" -> facts.storedBytes.toDouble / math.max(1L, live.liveBytes),
      "lake.snapshot_read_s" -> LakeStats.snapshotReadS(s.tableRoot, 5),
      "model.generate_s" -> Stats.median(c.trace.spanSeconds("model.generate")))
  }
}
