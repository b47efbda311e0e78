package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.GlobalOrder

/** Round-17 pins for the two-phase global ordering (VERDICT r16 #4):
  * [[GlobalOrder]] must be VALUE-IDENTICAL to the naive
  * single-partition `Window.orderBy` it replaces in c83/c74 —
  * including when the range layout genuinely splits the relation
  * across several partitions, so the partition-boundary offsets are
  * exercised, not just the degenerate one-partition case. */
class GlobalOrderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Deterministic (token, freq) relation with UNIQUE (freq desc,
    * token asc) order keys and enough rows to span range partitions. */
  private def freqs = (1 to 500).map { i =>
    (f"tok$i%04d", (i * 7919L) % 1000 + 1)
  }.toDF("token", "_f")

  /** [[freqs]] plus as many rows with a NULL `_f`: ordered `_f desc`
    * (nulls last), the later range partitions hold only nulls, so their
    * local running-sum prefix is all null while the preceding
    * partitions' sum is not. */
  private def freqsWithNulls = freqs.union((501 to 1000).map { i =>
    (f"tok$i%04d", Option.empty[Long])
  }.toDF("token", "_f"))

  private def withMultiPartitions[A](body: => A): A = {
    val coalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try body
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", coalesce)
  }

  test("rank + running sum match the naive global window (multi-partition)") {
    withMultiPartitions {
      Seq(freqs, freqsWithNulls).foreach { in =>
        val order = Seq(col("_f").desc, col("token").asc)
        val w = Window.orderBy(order: _*)
        val naive = in
          .withColumn("_rk", row_number().over(w))
          .withColumn("_cum", sum(col("_f"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .collect().map(r => (r.getString(0), r.get(1), r.getInt(2), r.get(3)))
          .toSet
        // with AQE coalescing disabled the range exchange keeps the
        // session's 4 shuffle partitions, so the boundary offsets are
        // genuinely exercised (the rows split 4 ways)
        val staged = GlobalOrder.withRankAndRunningSum(
          in, order, Some("_rk"), Some(("_f", "_cum")))
        val twoPhase = staged
          .select(col("token"), col("_f"), col("_rk"), col("_cum"))
          .collect().map(r => (r.getString(0), r.get(1), r.getInt(2), r.get(3)))
          .toSet
        assert(twoPhase == naive)
        graft.operators.Ckpt.releaseIssued(spark)
      }
    }
  }

  test("rank-only and cumsum-only forms match the naive window") {
    withMultiPartitions {
      val order = Seq(col("_f").desc, col("token").asc)
      val w = Window.orderBy(order: _*)
      val naiveRank = freqs.withColumn("r", row_number().over(w))
        .collect().map(r => (r.getString(0), r.getInt(2))).toSet
      val rank = GlobalOrder.withRowNumber(freqs, order, "r")
        .select("token", "r")
        .collect().map(r => (r.getString(0), r.getInt(1))).toSet
      assert(rank == naiveRank)
      val naiveCum = freqs.withColumn("c",
          sum(col("_f")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .collect().map(r => (r.getString(0), r.getLong(2))).toSet
      val cum = GlobalOrder.withRunningSum(freqs, order, "_f", "c")
        .select("token", "c")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(cum == naiveCum)
      graft.operators.Ckpt.releaseIssued(spark)
    }
  }

  test("empty input yields empty output") {
    val empty = freqs.filter(col("_f") < 0)
    assert(GlobalOrder.withRowNumber(empty, Seq(col("_f").desc), "r").count() == 0)
    graft.operators.Ckpt.releaseIssued(spark)
  }

  test("a rank past Int.MaxValue fails loud instead of wrapping") {
    val fits = Seq((0, Int.MaxValue.toLong - 1, Option.empty[Long]), (1, 1L, None))
    assert(GlobalOrder.offsets(fits).map(_._2) == Seq(0L, Int.MaxValue.toLong - 1))
    intercept[IllegalArgumentException] {
      GlobalOrder.offsets(Seq((0, Int.MaxValue.toLong, Option.empty[Long]), (1, 1L, None)))
    }
  }

  test("output rank column stays IntegerType (schema parity with row_number)") {
    val out = GlobalOrder.withRowNumber(freqs, Seq(col("_f").desc, col("token").asc), "r")
    assert(out.schema("r").dataType == org.apache.spark.sql.types.IntegerType)
    graft.operators.Ckpt.releaseIssued(spark)
  }
}
