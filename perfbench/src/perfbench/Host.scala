package perfbench

import java.nio.file.{Files, Path}

/** Host noise and process facts, read from procfs. */
object Host {

  /** (steal ticks, total ticks) of the aggregate cpu line of /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) } finally src.close()
  }

  /** Steal as a percentage of all cpu ticks between two [[cpuTicks]] reads. */
  def stealPct(before: (Long, Long), after: (Long, Long)): Double = {
    val total = after._2 - before._2
    if (total <= 0) 0.0 else 100.0 * (after._1 - before._1) / total
  }

  def loadAvg1m(): Double =
    try Files.readString(Path.of("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case _: Exception => 0.0 }

  /** Peak resident set of this process in MB (VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try {
        var n = 0L
        s.filter(Files.isRegularFile(_)).forEach(x => n += Files.size(x))
        n
      } finally s.close()
    }
}
