package perfbench

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.cdc.CdcPipeline
import graft.lake.LakeTable
import graft.model.SyntheticEvents

/** The benchmark's own tests: percentile maths, the correctness gate, and
  * the open-loop generator. Run with `python3 perfbench/selftest.py`; exits
  * non-zero if any check fails. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  error: $e"); false }
    println(s"${if (ok) "PASS" else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def percentiles(): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    check("tail of 100 samples is p90 with ten beyond") {
      val t = Stats.tail(xs)
      t.supported && t.percentile == 90.0 && t.value == 90.0 && xs.count(_ > t.value) == 10
    }
    check("tail of 11 samples has exactly ten beyond") {
      val t = Stats.tail(xs.take(11).reverse)
      t.supported && t.value == 1.0 && math.abs(t.percentile - 100.0 / 11) < 1e-9
    }
    check("tail of 10 samples is unsupported and reports the maximum") {
      val t = Stats.tail(xs.take(10))
      !t.supported && t.value == 10.0 && t.percentile == 100.0
    }
    check("tail of 1000 samples is p99") {
      val t = Stats.tail((1 to 1000).map(_.toDouble))
      t.percentile == 99.0 && t.value == 990.0
    }
    check("median and quartiles interpolate between ranks") {
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5 &&
        Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.25) == 2.0 &&
        Stats.quantile(Seq(7.0), 0.9) == 7.0
    }
  }

  def gate(): Unit = {
    val work = Files.createTempDirectory("perfbench-selftest")
    val spark = Main.session(2, work)
    try {
      implicit val s = spark
      val events = SyntheticEvents.generate(spark, 4000, nRepos = 20, filesPerRepo = 10, seed = 7L)
        .cache()
      val ref = Gate.digest(Gate.referenceLive(events))
      val root = work.resolve("table").toString
      val p = new CdcPipeline(LakeTable(root), "selftest", mergeOnRead = true, compactEveryFiles = 0)
      p.bootstrap(numBuckets = 8)
      p.replay(events, 4)
      val engine = CdcPipeline.liveState(LakeTable(root))
      check("gate accepts the engine's state after a full replay") {
        Gate.matches(Gate.digest(engine), ref)
      }
      check("gate rejects a state with one batch dropped") {
        val dropped = Gate.referenceLive(events.filter(col("lsn") < 1000 || col("lsn") >= 2000))
        !Gate.matches(Gate.digest(dropped), ref)
      }
      check("gate rejects a state with one delete resurrected") {
        // a key whose winning event is a delete, brought back with its last write
        val w = org.apache.spark.sql.expressions.Window.partitionBy(Gate.Keys.map(col): _*)
          .orderBy(col("lsn").desc)
        val deleted = events.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1 && col("op") === "D").select(Gate.Keys.map(col): _*).limit(1)
        val lastWrite = events.join(deleted, Gate.Keys).filter(col("op") =!= "D")
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select((Gate.Keys ++ Gate.Payload).map(col): _*)
        deleted.count() == 1 && lastWrite.count() == 1 &&
          !Gate.matches(Gate.digest(engine.unionByName(lastWrite)), ref)
      }
      check("gate digest does not depend on row order") {
        Gate.digest(engine.orderBy(col("content").desc).repartition(3)) == Gate.digest(engine)
      }
    } finally {
      spark.stop()
      Host.deleteRecursively(work)
    }
  }

  def openLoop(): Unit = {
    // consumer polls every 10 ms but is stalled from 100 ms to 400 ms
    val t0 = System.currentTimeMillis() + 50
    val loop = new OpenLoop(t0, 20L, 30, _ => ()).start()
    val completions = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    while (loop.released < 30 || completions.lastOption.forall(_._2 < 29)) {
      val now = System.currentTimeMillis()
      if (now - t0 >= 100 && now - t0 < 400) Thread.sleep(400 - (now - t0))
      else {
        if (loop.released > 0) completions += ((System.currentTimeMillis(), loop.released - 1))
        Thread.sleep(10)
      }
    }
    loop.join()
    val fresh = OpenLoop.freshnessS(loop.dueMs.toSeq, completions.toSeq).map(_.get)
    check("generator keeps its schedule while the consumer stalls") {
      loop.released == 30 && loop.lateS.max < 0.05 && math.abs(loop.offeredPerS - 50.0) < 2.5
    }
    check("freshness runs from the due time, so the stall raises it") {
      // items due at 120-380 ms are consumed at >= 400 ms
      val stalled = (6 to 18).map(fresh)
      stalled.zipWithIndex.forall { case (f, j) => f >= (400 - 20 * (j + 6)) / 1000.0 - 0.005 } &&
        fresh.take(4).forall(_ < 0.05) && stalled.head > 0.25
    }
    check("a release slower than the interval is recorded late, not re-based") {
      val slow = new OpenLoop(System.currentTimeMillis(), 10L, 5, i => if (i == 1) Thread.sleep(60)).start()
      slow.join()
      slow.dueMs.sliding(2).forall(p => p(1) - p(0) == 10) && slow.lateS(2) >= 0.04
    }
  }

  def main(args: Array[String]): Unit = {
    percentiles()
    openLoop()
    gate()
    println(if (failures == 0) "all checks passed" else s"$failures check(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
