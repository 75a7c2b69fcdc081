package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans around the benchmark's calls into each layer, and the Spark work
  * each span caused.
  *
  * A span is (id, name, start, end, parent). While a span is open on the
  * driver thread its id is the Spark job group, so every stage a job runs is
  * attributed to the innermost open span that submitted it. Background
  * maintenance (auto-compaction on the `graft-maintenance-*` thread) keeps
  * the job group that was current when its thread was created, so its jobs
  * are told apart by their call site, which names the maintenance task, and
  * by a group whose span had already closed when the job started. Spans are
  * kept in memory and written out when the run ends. With tracing off,
  * [[span]] runs its body and records nothing. */
final class Trace(spark: SparkSession, val enabled: Boolean) {

  final class Span(val id: Int, val name: String, val parent: Int,
      val startMs: Long, val startNs: Long) {
    @volatile var endMs: Long = -1L
    @volatile var endNs: Long = -1L
    def group: String = s"perfbench-$id"
    def seconds: Double = (endNs - startNs) / 1e9
  }

  final case class Job(id: Int, group: String, startMs: Long, maintenance: Boolean) {
    @volatile var endMs: Long = -1L
  }

  final class StageAgg {
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  /** Sums over a set of stages; `skew` is max/median task time of the
    * stage that ran longest. */
  case class Agg(runS: Double, cpuS: Double, gcS: Double, shuffleWrite: Long,
      shuffleRead: Long, spill: Long, skew: Double)

  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private val sc = spark.sparkContext

  private val MaintenanceMarkers = Seq("CdcPipeline$$anon", "graft.cdc.Compaction", "Lineage$.compact")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      val calledFromMaintenance = e.stageInfos.exists(si =>
        MaintenanceMarkers.exists(m => Option(si.details).exists(_.contains(m))))
      val staleGroup = spanBuf.exists(s => s.group == group && s.endMs >= 0 && s.endMs <= e.time)
      jobs(e.jobId) = Job(e.jobId, group, e.time, calledFromMaintenance || staleGroup)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.taskMs += m.executorRunTime
      }
    }
  }
  private val lock = new Object

  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = lock.synchronized {
        val s = new Span(spanBuf.size, name, stack.headOption.map(_.id).getOrElse(-1),
          System.currentTimeMillis(), System.nanoTime())
        spanBuf += s
        s
      }
      stack = s :: stack
      sc.setJobGroup(s.group, name, interruptOnCancel = false)
      try f
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Every listener event posted so far has been delivered. */
  def drain(): Unit = if (enabled && !sc.isStopped) org.apache.spark.perfbench.Bus.drain(sc)

  def spans(prefix: String): Seq[Span] = lock.synchronized(spanBuf.filter(_.name.startsWith(prefix)).toSeq)

  def spanSeconds(prefix: String): Seq[Double] = spans(prefix).filter(_.endNs >= 0).map(_.seconds)

  /** Foreground jobs submitted inside the given spans. */
  def jobsOf(ss: Seq[Span]): Seq[Job] = lock.synchronized {
    val groups = ss.map(_.group).toSet
    jobs.values.filter(j => groups.contains(j.group) && !j.maintenance).toSeq
  }

  /** Jobs whose group is `group`, e.g. a streaming query's run id. */
  def jobsInGroup(group: String): Seq[Job] = lock.synchronized(
    jobs.values.filter(j => j.group == group && !j.maintenance).toSeq)

  def maintenanceJobs: Seq[Job] = lock.synchronized(jobs.values.filter(_.maintenance).toSeq)

  def agg(js: Seq[Job]): Agg = lock.synchronized {
    val ids = js.map(_.id).toSet
    val st = stageJob.collect { case (s, j) if ids.contains(j) => s }.flatMap(stages.get).toSeq
    val skew = st.filter(_.taskMs.size >= 2).sortBy(-_.runMs).headOption.map { a =>
      val med = Stats.median(a.taskMs.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else a.taskMs.max / med
    }.getOrElse(1.0)
    Agg(st.map(_.runMs).sum / 1e3, st.map(_.cpuNs).sum / 1e9, st.map(_.gcMs).sum / 1e3,
      st.map(_.shuffleWrite).sum, st.map(_.shuffleRead).sum, st.map(_.spill).sum, skew)
  }

  /** Seconds of [startMs, endMs] during which none of `js` was running. */
  def uncoveredSeconds(startMs: Long, endMs: Long, js: Seq[Job]): Double = {
    val iv = js.map(j => (math.max(j.startMs, startMs),
      math.min(if (j.endMs < 0) endMs else j.endMs, endMs))).filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L; var curS = 0L; var curE = 0L
    iv.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    math.max(0.0, (endMs - startMs - covered) / 1e3)
  }

  /** Seconds of a span not covered by any of its foreground jobs. */
  def driverOnlySeconds(s: Span): Double = uncoveredSeconds(s.startMs, s.endMs, jobsOf(Seq(s)))

  /** Writes every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = lock.synchronized(spanBuf.toList).map { s =>
      val name = s.name.replace("\\", "\\\\").replace("\"", "\\\"")
      s"""{"id":${s.id},"name":"$name","parent":${s.parent},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"jobs":${jobsOf(Seq(s)).size}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def close(): Unit = if (enabled && !sc.isStopped) sc.removeSparkListener(listener)
}
