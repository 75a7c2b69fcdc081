package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]].
  *
  * @param setupS   seconds of each repeated set-up (median is `setup_s`)
  * @param workPerS the workload's throughput (see README.md per workload)
  * @param opS      seconds of each unit operation (median and tail)
  * @param layer    per-layer metrics this workload measured; the rest read 0
  */
case class Outcome(attempted: Long, failed: Long, correct: Boolean,
    setupS: Seq[Double], workPerS: Double, opS: Seq[Double],
    layer: Map[String, Double])

/** Everything a workload needs: the session (re-creatable with another core
  * count), seed, measured seconds, tracer and a private work directory. */
final class Ctx(var spark: SparkSession, val seed: Long, val seconds: Double,
    val trace: Trace, val work: Path, val cores: Int,
    val newSession: Int => SparkSession) {
  def dir(name: String): String = work.resolve(name).toString
  private val t0 = System.nanoTime()
  def log(msg: String): Unit = println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%6.1fs] $msg")

  /** Runs `f`, returning its result and wall seconds. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "mor_bulk_replay" -> MorBulkReplay.run,
    "cow_stream_tail" -> CowStreamTail.run,
    "mor_read_mix" -> MorReadMix.run)

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload '$workload' (${Workloads.keys.mkString(", ")})"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val cores = opts("cores").toInt
    val work = Path.of(opts("work")).toAbsolutePath
    Files.createDirectories(work)

    val spark = session(cores, work)
    val trace = new Trace(spark, traced)
    val ctx = new Ctx(spark, seed, seconds, trace, work, cores, k => session(k, work))
    val cpu0 = Host.cpuTicks(); val load0 = Host.loadAvg1m()
    val out = run(ctx)
    val steal = Host.stealPct(cpu0, Host.cpuTicks())
    val load = (load0 + Host.loadAvg1m()) / 2
    trace.drain()
    opts.get("spans").foreach(p => trace.write(Path.of(p)))
    trace.close()
    ctx.spark.stop()

    val tail = Stats.tail(out.opS)
    val e2e = Map(
      "setup_s" -> Stats.median(out.setupS),
      "peak_rss_mb" -> Host.peakRssMb(),
      "work_per_s" -> out.workPerS,
      "op_p50_s" -> Stats.median(out.opS),
      "op_tail_s" -> tail.value)
    ctx.log(f"workload=$workload seed=$seed cores=$cores traced=$traced " +
      f"attempted=${out.attempted} failed=${out.failed} correct=${out.correct}")
    ctx.log(f"op samples=${tail.samples} tail=p${tail.percentile}%.1f " +
      f"(supported=${tail.supported}) setups=${out.setupS.map(x => f"$x%.3f").mkString(",")}")
    ctx.log(f"host steal_pct=$steal%.2f loadavg_1m=$load%.2f")
    e2e.toSeq.sortBy(_._1).foreach { case (k, v) => ctx.log(f"e2e $k=$v%.6f") }
    val metrics =
      if (!traced) e2e
      else out.layer ++ Map(
        "host.steal_pct" -> steal, "host.loadavg_1m" -> load,
        "trace.work_per_s" -> out.workPerS, "trace.op_p50_s" -> Stats.median(out.opS))
    val body = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$k":$x"""
    }.mkString(",")
    println(s"""{"correct":${out.correct},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":{$body}}""")
  }
}
