package perfbench

/** Open-loop release schedule: item i is due at `startMs + i * intervalMs`,
  * whatever the consumer is doing. One thread releases items in order; a
  * release that runs late is recorded, never re-based, so a stalled consumer
  * shows up as higher freshness on every item due during the stall while
  * the offered rate stays fixed. */
final class OpenLoop(startMs: Long, intervalMs: Long, count: Int, release: Int => Unit) {
  val dueMs: Array[Long] = Array.tabulate(count)(i => startMs + i * intervalMs)
  val releasedMs: Array[Long] = Array.fill(count)(-1L)
  @volatile var released: Int = 0
  @volatile var error: Throwable = null

  private val thread = new Thread(() => {
    try {
      var i = 0
      while (i < count) {
        val wait = dueMs(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        release(i)
        releasedMs(i) = System.currentTimeMillis()
        released = i + 1
        i += 1
      }
    } catch { case e: Throwable => error = e }
  }, "perfbench-generator")
  thread.setDaemon(true)

  def start(): this.type = { thread.start(); this }
  def join(): Unit = thread.join()

  /** How late each released item went out, in seconds. */
  def lateS: Seq[Double] = (0 until released).map(i => (releasedMs(i) - dueMs(i)) / 1000.0)

  /** Offered rate over the released items, per second of schedule. */
  def offeredPerS: Double =
    if (released < 2) 0.0 else (released - 1) * 1000.0 / (dueMs(released - 1) - dueMs(0))
}

object OpenLoop {
  /** Freshness of each item: from its due time to the first completion
    * whose coverage includes it. `completions` is (completion time ms,
    * highest item index covered), in completion order; uncovered items get
    * None. */
  def freshnessS(dueMs: Seq[Long], completions: Seq[(Long, Int)]): Seq[Option[Double]] = {
    val sorted = completions.sortBy(_._1)
    dueMs.indices.map { i =>
      sorted.find(_._2 >= i).map { case (t, _) => (t - dueMs(i)) / 1000.0 }
    }
  }
}
