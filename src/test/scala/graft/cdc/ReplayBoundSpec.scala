package graft.cdc

import org.apache.spark.sql.functions._

import graft.{SparkSuite, SparkTestBase}
import graft.lake.LakeTable
import graft.model.SyntheticEvents

/** The copy-on-write replay precomputes every slice's pre-pass stats only
  * while numBatches × numBuckets stays under a bound; above it each batch
  * runs its own pre-pass. Both paths must apply every event. */
class ReplayBoundSpec extends SparkSuite {

  test("replay above the slice-precompute bound applies every batch, same as under it") {
    val events = SyntheticEvents.generate(spark, 4000L, nRepos = 40, filesPerRepo = 20)
    val (first, second) = (events.filter(col("lsn") < 2000L), events.filter(col("lsn") >= 2000L))
    val offered = second.count()

    def run(bound: Long): (Long, org.apache.spark.sql.DataFrame) = {
      val p = new CdcPipeline(LakeTable(SparkTestBase.tmpDir("replay-bound"))(spark),
        "app-bound", lineage = false)
      p.bootstrap(numBuckets = 16)
      p.replay(first, numBatches = 1) // a non-empty target for the CoW batches
      val stats = p.replay(second, numBatches = 20, startBatchId = 1L, precomputeBound = bound)
      (stats.map(_.eventsIn).sum, p.state())
    }
    val (underIn, under) = run(CdcPipeline.PrecomputeBound)
    val (overIn, over) = run(0L) // 20 × 16 > 0: precompute skipped
    assert(underIn === offered)
    assert(overIn === underIn, "every above-bound batch must apply its events")
    assert(over.count() === under.count())
    assert(over.exceptAll(under).count() === 0 && under.exceptAll(over).count() === 0)
  }
}
