package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The benchmark's own correctness reference for the CDC workloads.
  *
  * It is written from the change-event contract alone: per primary key the
  * event with the highest LSN wins, a delete beats a write at the same LSN,
  * and content breaks any remaining tie; a key whose winner is a delete is
  * not live. It deliberately calls nothing in the engine (no
  * `CdcModel.lwwResolve`, no `Dedup`), so an engine defect cannot hide in a
  * shared helper. */
object Gate {
  val Keys: Seq[String] = Seq("repo", "path", "commit")
  val Payload: Seq[String] = Seq("lang", "content")

  /** Live rows (key + payload) that a correct engine must hold after
    * applying `events`, computed with a `row_number` window. */
  def referenceLive(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(Keys.map(col): _*).orderBy(
      col("lsn").desc,
      when(col("op") === "D", 1).otherwise(0).desc,
      coalesce(col("content"), lit("")).desc)
    events.withColumn("_ref_rn", row_number().over(w))
      .filter(col("_ref_rn") === 1 && col("op") =!= "D")
      .select((Keys ++ Payload).map(col): _*)
  }

  /** Order-independent content digest of a live state: row count, a sha256
    * over four exact sums of 60-bit slices of each row's sha256, and the
    * payload bytes (for space-amplification ratios). */
  case class Digest(rows: Long, sha256: String, liveBytes: Long)

  private def field(c: String): Column =
    coalesce(col(c).cast("string"), lit("\u0000"))

  def digest(live: DataFrame): Digest = {
    val h = sha2(concat_ws("\u0001", (Keys ++ Payload).map(field): _*), 256)
    val slices = (0 until 4).map(i =>
      sum(conv(substring(h, 1 + 15 * i, 15), 16, 10).cast("decimal(38,0)")))
    val bytes = sum((Keys ++ Payload).map(c => coalesce(length(col(c)), lit(0)).cast("long"))
      .reduce(_ + _))
    val r = live.agg(count(lit(1)), (slices :+ bytes): _*).collect()(0)
    val parts = (0 to 4).map(i => Option(r.get(i)).map(_.toString).getOrElse("0"))
    val md = java.security.MessageDigest.getInstance("SHA-256")
      .digest(parts.mkString("|").getBytes("UTF-8"))
    Digest(r.getLong(0), md.map("%02x".format(_)).mkString,
      if (r.isNullAt(5)) 0L else r.getLong(5))
  }

  /** True when the engine's state holds the same rows as the reference. */
  def matches(engine: Digest, reference: Digest): Boolean =
    engine.rows == reference.rows && engine.sha256 == reference.sha256
}
