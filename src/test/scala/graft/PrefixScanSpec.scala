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
  * partition count, failing on overflow as the SQL sum does, and lazy: it
  * runs inside the caller's query, adding only the carry job, and only when
  * its exchange is wider than one partition. */
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
      val got = atWidth(parts) {
        ScaleOps.prefixScan(df, Seq(col("g")), Seq(o, col("k")), sums, peers = 1)
          .select(outCols.map(col): _*)
      }
      assert(got.schema.map(_.dataType) == exp.schema.map(_.dataType),
        s"case $i: output types ${got.schema} != window form's ${exp.schema}")
      val g = got.collect().map(_.toSeq).toSet
      val e = exp.collect().map(_.toSeq).toSet
      assert(g == e, s"case $i ($parts partitions, desc=$desc, ${rows.size} rows): " +
        s"missing=${(e -- g).take(3)} extra=${(g -- e).take(3)}")
    }
  }

  test("empty input: no rows from the scan or from globalRanksDesc") {
    withShufflePartitions(8) {
      assert(ScaleOps.prefixScan(frame(Nil, 2), Seq(col("g")), Seq(col("o"), col("k")), sums,
        peers = 1).collect().isEmpty)
      assert(ScaleOps.globalRanksDesc(frame(Nil, 2), col("o"), Seq(col("k"))).collect().isEmpty)
    }
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
          ScaleOps.prefixScan(df, Seq(col("g")), Seq(col("o")), Seq("r" -> value)).collect()
        }).contains("ARITHMETIC_OVERFLOW"), s"$name ($parts partitions): prefixScan accepted the overflow")
    }
  }

  /** The jobs `body` runs, each as its stages and the SQL execution it
    * ran in (null outside one), and the ids of the stages that ran (a job
    * that reads a shuffle written before holds a skipped stage of it). */
  private def jobsOf(body: => Any)
      : (Seq[(Seq[org.apache.spark.scheduler.StageInfo], String)], Set[Int]) = {
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.ListenerBusDrain
    import org.apache.spark.scheduler._
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[(Seq[StageInfo], String)]()
    val ran = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((e.stageInfos, Option(e.properties)
          .map(_.getProperty("spark.sql.execution.id")).orNull))
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        ran.add(e.stageInfo.stageId)
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain(sc) } finally sc.removeSparkListener(listener)
    (jobs.asScala.toSeq, ran.asScala.toSet)
  }

  test("job shape: lazy to build; one split adds no job; wider adds one carry job") {
    import org.apache.spark.StageShuffle
    import scala.jdk.CollectionConverters._
    val rows = (0 until 200).map(k =>
      Row(k.toLong, Seq("a", "b", null)(k % 3), (k % 7).toLong, k.toLong, null))
    val by = Seq(col("g").asc, col("o"), col("k"))
    def scan(df: DataFrame) = ScaleOps.prefixScan(df, Seq(col("g")), Seq(col("o"), col("k")), sums)
    /** The same range exchange and sort as the scan's, alone. */
    def exchange(df: DataFrame, parts: Int) =
      df.repartitionByRange(parts, by: _*).sortWithinPartitions(by: _*)

    // One split: one range partition, no carry. The scan's query runs the
    // jobs of its exchange and sort alone, all in one SQL execution.
    withShufflePartitions(8) {
      val df = spark.createDataFrame(rows.asJava, schema)
      assert(jobsOf(scan(df))._1.isEmpty, "building a one-split scan ran a job")
      val (jobs, _) = jobsOf(scan(df).collect())
      val (own, _) = jobsOf(exchange(df, 1).collect())
      assert(jobs.size == own.size, s"${jobs.size} jobs ran; the exchange and sort alone run ${own.size}")
      assert(jobs.map(_._2).distinct.size == 1 && jobs.head._2 != null,
        s"the scan's jobs ran outside one SQL execution: ${jobs.map(_._2)}")
    }

    // Wider than one split: one more job than the exchange and sort alone,
    // the carry job, which reads the exchange's output as the apply does;
    // every job runs in the caller's SQL execution.
    atWidth(8) {
      val df = frame(rows, 3)
      assert(jobsOf(scan(df))._1.isEmpty, "building a wide scan ran a job")
      val (jobs, ran) = jobsOf(scan(df).collect())
      val (own, _) = jobsOf(exchange(df, 8).collect())
      assert(jobs.size == own.size + 1,
        s"${jobs.size} jobs ran; expected the ${own.size} of the exchange and sort, and the carry job")
      assert(jobs.map(_._2).distinct.size == 1 && jobs.head._2 != null,
        s"the scan's jobs ran outside one SQL execution: ${jobs.map(_._2)}")
      val written = jobs.flatMap(_._1).filter(s => ran(s.stageId)).flatMap(StageShuffle(_))
      assert(written.size == 1, s"map stages ran for shuffles $written; expected one, once")
      val readers = jobs.filter(_._1.exists(s =>
        StageShuffle(s).exists(written.contains) && !ran(s.stageId)))
      assert(readers.size == 2,
        s"${readers.size} jobs read the range exchange; expected the carry job and the apply job")
    }
  }

  test("building q_window_range or a scan-backed scale form runs no job") {
    import graft.queries.{LlmOps, MlSuffStats, Relational, Windows}
    // q_events_rfm's scale form is left out: it collects its edges when
    // built, by design.
    val forms = Seq[(String, Windows.Q)](
      "q_window_range" -> Windows.qWindowRange,
      "q_window_ntile" -> Windows.ntileScaleForm,
      "q_agg_median" -> Relational.medianScaleForm,
      "q_agg_weighted_median" -> Relational.wmedianScaleForm,
      "q_stats_winsorize" -> Relational.winsorScaleForm,
      "q_sample_quota" -> LlmOps.qSampleQuota,
      "q_pack_sequences" -> LlmOps.qPackSequences,
      "q_ml_eval_auc" -> MlSuffStats.aucScaleForm)
    for ((name, q) <- forms) {
      q(spark, Sf0001) // opens and signs the tables once
      val (jobs, _) = withSplitScans(jobsOf(q(spark, Sf0001)))
      ScaleOps.releaseTracked()
      assert(jobs.isEmpty, s"building $name ran ${jobs.size} jobs")
    }
  }
}
