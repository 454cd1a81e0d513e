package graft

import graft.functions.Det
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck-generated properties for the float-determinism core (SURVEY
  * §5.2): Det.dsum must be EXACTLY partition-order independent — that is the
  * whole point of the decimal path (a 1000-executor run must agree
  * bit-for-bit with local runs and with the oracle). Raw ScalaCheck Gen with
  * fixed seeds (the scalatest bridge artifact isn't in the offline cache).
  */
class DetPropSpec extends AnyFunSuite {
  import SparkFixture._

  private val moneyGen: Gen[List[Double]] =
    Gen.choose(1, 60).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-9.99e6, 9.99e6)
        .map(v => math.rint(v * 100) / 100)))

  private def samples(n: Int): Seq[List[Double]] =
    (1 to n).map(i => moneyGen.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  test("dsum is bit-identical across partition counts and matches BigDecimal") {
    import spark.implicits._
    samples(10).foreach { xs =>
      val expected = {
        val s = xs.map(BigDecimal(_)).sum
          .setScale(2, BigDecimal.RoundingMode.HALF_UP)
        (s * 100).toLongExact.toDouble / 100.0
      }
      val results = Seq(1, 2, 7).map { p =>
        xs.toDF("x").repartition(p)
          .agg(Det.dsum(col("x")).as("s")).collect()(0).getDouble(0)
      }
      assert(results.distinct.size == 1, s"partition-dependent: $results for $xs")
      assert(results.head == expected, s"${results.head} != BigDecimal $expected")
    }
  }

  test("davg is partition-order independent") {
    import spark.implicits._
    samples(6).foreach { xs =>
      val rs = Seq(1, 3, 8).map { p =>
        xs.toDF("x").repartition(p)
          .agg(Det.davg(col("x")).as("m")).collect()(0).getDouble(0)
      }
      assert(rs.distinct.size == 1, s"partition-dependent: $rs for $xs")
    }
  }

  test("dsumPartial → dsumMerge over arbitrary chunkings == direct dsum (bit-identical)") {
    import spark.implicits._
    // The materialized-rollup contract (q_agg_incremental): partials keep
    // the full decimal, so merge-of-partials must equal the from-scratch
    // sum whatever the chunk boundaries — day files, micro-batches,
    // backfill chunks.
    samples(8).zipWithIndex.foreach { case (xs, i) =>
      val df = xs.zipWithIndex.map { case (v, j) => (v, j % (i + 2)) }
        .toDF("x", "chunk")
      val direct = df.agg(Det.dsum(col("x"), 4)).collect()(0).getDouble(0)
      val merged = df.groupBy(col("chunk"))
        .agg(Det.dsumPartial(col("x")).as("p"))
        .agg(Det.dsumMerge(col("p"), 4)).collect()(0).getDouble(0)
      assert(merged == direct, s"chunked merge drifted: $merged != $direct for $xs")
    }
  }

  test("raw double sum IS partition-sensitive on adversarial input (control)") {
    import spark.implicits._
    // Control experiment documenting WHY dsum exists: catastrophic-
    // cancellation inputs make plain sum(double) drift across partition
    // counts, while dsum stays fixed.
    val xs = List(1e15, 3.14159, -1e15, 2.71828, 1e13, -1e13, 0.5)
    val raw = Seq(1, 2, 3, 5, 7).map { p =>
      xs.toDF("x").repartition(p).agg(sum(col("x"))).collect()(0).getDouble(0)
    }.distinct
    val det = Seq(1, 2, 3, 5, 7).map { p =>
      xs.toDF("x").repartition(p).agg(Det.dsum(col("x"), 5)).collect()(0).getDouble(0)
    }.distinct
    assert(det.size == 1, s"dsum drifted: $det")
    // raw may or may not drift on a given Spark build — only dsum is asserted.
    info(s"raw sum variants across partitionings: $raw; dsum: $det")
  }

  test("groupedPrefixSum == running-sum window on random grouped data (bucket edges stressed)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // Random (group, unique-ord, value) rows; 16 range partitions for 4
    // groups put group boundaries and group runs across partition edges —
    // the carry must keep the sums EXACT there. The scan takes one range
    // partition per input split, so a one-byte split lets these few rows
    // take all 16.
    val rowsGen = Gen.choose(20, 200).flatMap(n =>
      Gen.listOfN(n, for {
        g <- Gen.choose(0, 3)
        v <- Gen.choose(-1000L, 1000L)
      } yield (g, v)))
    (1 to 5).foreach { i => withShufflePartitions(16)(withMaxPartitionBytes(1) {
      val rows = rowsGen.pureApply(Gen.Parameters.default, Seed(100L + i))
        .zipWithIndex.map { case ((g, v), ord) => (g, ord.toLong, v) }
      val df = rows.toDF("g", "o", "v").repartition(7)
      val got = graft.operators.ScaleOps
        .groupedPrefixSum(df, col("g"), col("o"), col("v"))
        .select(col("g"), col("o"), col("__run")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      val w = Window.partitionBy(col("g")).orderBy(col("o"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val exp = df.withColumn("r", sum(col("v")).over(w))
        .select(col("g"), col("o"), col("r")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == exp,
        s"seed ${100 + i}: missing=${(exp -- got).take(3)} extra=${(got -- exp).take(3)}")
    })}
  }
}
