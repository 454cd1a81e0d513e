package graft

import graft.operators.ScaleOps
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** ScaleOps.prefixScan, the exact running-total primitive under every scale
  * form: equal to the window form on seeded random inputs at every range
  * partition count, failing on overflow as the SQL sum does, and one
  * shuffle that a carry job and an apply job both read. */
class PrefixScanSpec extends AnyFunSuite {
  import SparkFixture._

  /** `k` is unique, so (g, o, k) is a total order; `o` has few values, so
    * its ties (peer runs) span range partitions. */
  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("g", StringType),
    StructField("o", LongType, nullable = false),
    StructField("v", LongType),
    StructField("d", DecimalType(38, 10))))

  private def frame(rows: Seq[Row], slices: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)

  private val rowsGen: Gen[Seq[Row]] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 2 -> Gen.choose(1, 5), 5 -> Gen.choose(6, 150))
    rows <- Gen.listOfN(n, for {
      g <- Gen.oneOf("a", "b", "c", null)
      o <- Gen.choose(-3L, 3L)
      v <- Gen.frequency(1 -> Gen.const(null), 6 -> Gen.choose(-1000L, 1000L).map(Long.box))
      d <- Gen.frequency(1 -> Gen.const(null), 6 -> Gen.chooseNum(-10L, 10L).flatMap(i =>
        Gen.chooseNum(0L, 9999999999L).map(f =>
          new java.math.BigDecimal(java.math.BigInteger.valueOf(i * 10000000000L + f), 10))))
    } yield (g, o, v, d))
  } yield rows.zipWithIndex.map { case ((g, o, v, d), k) => Row(k.toLong, g, o, v, d) }

  private def sums: Seq[(String, Column)] =
    Seq("rv" -> col("v"), "rd" -> col("d"), "rn" -> lit(1L))

  /** The window twin: running sums over (g; o, k) ROWS, and the sums
    * strictly before the row's peer run on o as a RANGE frame. */
  private def windowForm(df: DataFrame, desc: Boolean): DataFrame = {
    val o = if (desc) col("o").desc else col("o")
    val rows = Window.partitionBy(col("g")).orderBy(o, col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val before = Window.partitionBy(col("g")).orderBy(o)
      .rangeBetween(Window.unboundedPreceding, -1)
    df.select(col("k"),
      sum(col("v")).over(rows).as("rv"), sum(col("d")).over(rows).as("rd"),
      sum(lit(1L)).over(rows).as("rn"),
      sum(col("v")).over(before).as("rv_before"), sum(col("d")).over(before).as("rd_before"),
      sum(lit(1L)).over(before).as("rn_before"))
  }

  private val outCols = Seq("k", "rv", "rd", "rn", "rv_before", "rd_before", "rn_before")

  /** Run `body` with `parts` shuffle partitions and a one-byte split, so
    * the scan takes all `parts` range partitions whatever its input's
    * size. */
  private def atWidth[T](parts: Int)(body: => T): T =
    withShufflePartitions(parts)(withMaxPartitionBytes(1)(body))

  test("property: prefixScan == window form (nulls, both directions, ties across partitions, 1 to 64 partitions)") {
    for (i <- 1 to 30) {
      val rows = rowsGen.pureApply(Gen.Parameters.default, Seed(9000L + i))
      val parts = Seq(1, 2, 5, 16, 64)(i % 5)
      val desc = i % 2 == 0
      val df = frame(rows, 1 + i % 4)
      val o = if (desc) col("o").desc else col("o")
      val exp = windowForm(df, desc)
      val (got, totals) = atWidth(parts) {
        val s = ScaleOps.prefixScan(df, Seq(col("g")), Seq(o, col("k")), sums, peers = 1)
        (s.frame.select(outCols.map(col): _*), s.totals)
      }
      assert(got.schema.map(_.dataType) == exp.schema.map(_.dataType),
        s"case $i: output types ${got.schema} != window form's ${exp.schema}")
      val g = got.collect().map(_.toSeq).toSet
      val e = exp.collect().map(_.toSeq).toSet
      assert(g == e, s"case $i ($parts partitions, desc=$desc, ${rows.size} rows): " +
        s"missing=${(e -- g).take(3)} extra=${(g -- e).take(3)}")
      val all = df.agg(sum(col("v")), sum(col("d")), sum(lit(1L))).head().toSeq
      assert(totals == all, s"case $i: totals $totals != $all")
    }
  }

  test("empty input: no rows, null totals") {
    val s = withShufflePartitions(8) {
      ScaleOps.prefixScan(frame(Nil, 2), Seq(col("g")), Seq(col("o"), col("k")), sums, peers = 1)
    }
    assert(s.frame.collect().isEmpty)
    assert(s.totals == Seq(null, null, null))
  }

  test("globalRanksDesc == row_number / rank / count windows with value ties across partitions") {
    for (i <- 1 to 6) {
      val rows = rowsGen.pureApply(Gen.Parameters.default, Seed(9100L + i))
      val df = frame(rows, 3).select(col("k"), col("o"))
      val exp = df.select(col("k"),
        row_number().over(Window.orderBy(col("o").desc, col("k"))).cast("long").as("__pos"),
        rank().over(Window.orderBy(col("o").desc)).cast("long").as("__rnk"),
        count(lit(1)).over(Window.partitionBy()).as("__n"))
        .collect().map(_.toSeq).toSet
      val got = atWidth(Seq(1, 7, 32)(i % 3)) {
        ScaleOps.globalRanksDesc(df, col("o"), Seq(col("k")))
          .select(col("k"), col("__pos"), col("__rnk"), col("__n"))
          .collect().map(_.toSeq).toSet
      }
      assert(got == exp, s"seed ${9100 + i}: missing=${(exp -- got).take(3)} extra=${(got -- exp).take(3)}")
    }
  }

  /** The error condition of the first Spark error `body` throws, wherever
    * Spark wrapped it; None when it throws none. */
  private def condition(body: => Any): Option[String] =
    try { body; None } catch {
      case e: Throwable =>
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collectFirst {
          case t: org.apache.spark.SparkThrowable => t.getCondition
        }
    }

  test("overflow: a running sum past LONG or DECIMAL(38,10) fails as the SQL sum does, in a partition and across one") {
    val big = new java.math.BigDecimal("9000000000000000000000000000") // 9e27 < 1e28
    val cases = Seq(
      "decimal" -> (col("d"), Seq(Row(0L, "a", 1L, 1L, big), Row(1L, "a", 2L, 1L, big))),
      "long" -> (col("v"), Seq(Row(0L, "a", 1L, Long.MaxValue, big), Row(1L, "a", 2L, 1L, big))))
    for ((name, (value, rows)) <- cases) {
      val df = frame(rows, 2)
      assert(condition(df.groupBy(col("g")).agg(sum(value)).collect())
        .contains("ARITHMETIC_OVERFLOW"), s"$name: the SQL sum accepted the overflow")
      // The window form fails too; for decimals Spark names it
      // NUMERIC_VALUE_OUT_OF_RANGE.
      val w = Window.partitionBy(col("g")).orderBy(col("o"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      assert(condition(df.select(sum(value).over(w)).collect()).isDefined,
        s"$name: the window form accepted the overflow")
      for (parts <- Seq(1, 16))
        assert(condition(atWidth(parts) {
          ScaleOps.prefixScan(df, Seq(col("g")), Seq(col("o")), Seq("r" -> value)).frame.collect()
        }).contains("ARITHMETIC_OVERFLOW"), s"$name ($parts partitions): prefixScan accepted the overflow")
    }
  }

  test("job shape: one shuffle map stage, read by a carry job and an apply job") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.{ListenerBusDrain, StageShuffle}
    import org.apache.spark.scheduler._
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val rows = (0 until 200).map(k =>
      Row(k.toLong, Seq("a", "b", null)(k % 3), (k % 7).toLong, k.toLong, null))
    /** The jobs a scan of `df` runs, each by its stages; the shuffles whose
      * map stages ran; and the jobs that read one of those without writing
      * it again (they hold a skipped stage of it). */
    def shape(df: => DataFrame): (Seq[Seq[StageInfo]], Seq[Int], Seq[Seq[StageInfo]]) = {
      val jobs = new ConcurrentLinkedQueue[Seq[StageInfo]]()
      val ran = new ConcurrentLinkedQueue[StageInfo]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.stageInfos)
        override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = ran.add(e.stageInfo)
      }
      ListenerBusDrain(sc)
      sc.addSparkListener(listener)
      try {
        ScaleOps.prefixScan(df, Seq(col("g")), Seq(col("o"), col("k")), sums).frame.collect()
        ListenerBusDrain(sc)
      } finally sc.removeSparkListener(listener)
      val written = ran.asScala.toSeq.flatMap(StageShuffle(_))
      val ranIds = ran.asScala.map(_.stageId).toSet
      val readers = jobs.asScala.toSeq.filter(_.exists(s =>
        StageShuffle(s).exists(written.contains) && !ranIds(s.stageId)))
      (jobs.asScala.toSeq, written, readers)
    }

    // Wider than one split: one map stage, read by the carry job and the
    // apply job.
    val (_, written, readers) = atWidth(8)(shape(frame(rows, 3)))
    assert(written.size == 1, s"map stages ran for shuffles $written; expected one, once")
    assert(readers.size == 2,
      s"${readers.size} jobs read shuffle ${written.head}; expected the carry job and the apply job")

    // One split: one range partition, so no bounds sample and no carry job.
    // What runs is the exchange's map stage and the apply job that reads
    // it; every job touches the scan's shuffle, so none is a sample.
    val (jobs1, written1, readers1) = withShufflePartitions(8)(
      shape(spark.createDataFrame(rows.asJava, schema)))
    assert(written1.size == 1, s"map stages ran for shuffles $written1; expected one, once")
    assert(readers1.size == 1, s"${readers1.size} jobs read shuffle ${written1.head}; " +
      "expected the apply job alone")
    assert(jobs1.forall(_.exists(s => StageShuffle(s).exists(written1.contains))),
      s"a job that touches no scan shuffle ran (a bounds sample): ${jobs1.map(_.map(_.name))}")
    assert(jobs1.size == 2, s"${jobs1.size} jobs ran; expected the map stage and the apply job")
  }
}
