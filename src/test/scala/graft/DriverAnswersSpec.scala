package graft

import graft.plans.FooterAggregate
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The optimizer rules that answer on the driver what it already holds
  * (plans/DriverAnswers): an ungrouped MIN/MAX/COUNT over a parquet scan
  * from the footers, and a sort of local rows. Each answer equals Spark's
  * own — the rule excluded through `spark.sql.optimizer.excludedRules`,
  * or the same rows sorted from a non-local frame — and runs no job. */
class DriverAnswersSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkFixture._

  Tables.prep(spark)

  private val base = sys.props("java.io.tmpdir") + "/graft-driver-answers-spec"

  override def afterAll(): Unit = Tables.deleteRecursively(base)

  private def without[T](rule: String)(body: => T): T =
    withConf("spark.sql.optimizer.excludedRules", rule)(body)

  /** Jobs `body` starts. */
  private def jobsOf(body: => Any): Int = {
    import org.apache.spark.ListenerBusDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain(sc) } finally sc.removeSparkListener(listener)
    n.get
  }

  private def answeredFromFooters(df: DataFrame): Boolean = {
    val p: LogicalPlan = df.queryExecution.optimizedPlan
    p.collectFirst { case a: Aggregate => a }.isEmpty &&
      p.collectFirst { case r: LocalRelation => r }.isDefined
  }

  /** min, max, count(c) of every column plus count(1). */
  private def stats(df: DataFrame): DataFrame = {
    val aggs = df.columns.toSeq.flatMap(c => Seq(min(col(c)), max(col(c)), count(col(c)))) :+
      count(lit(1))
    df.agg(aggs.head, aggs.tail: _*)
  }

  private def write(df: DataFrame, dir: String, files: Int,
                    tsType: String = "TIMESTAMP_MICROS"): String = {
    withConf("spark.sql.parquet.outputTimestampType", tsType) {
      df.repartition(files).write.mode("overwrite").parquet(dir)
    }
    dir
  }

  // int, long, date, timestamp (micros) with nulls, and an all-null column.
  private lazy val src = spark.range(0, 3000).select(
    when(col("id") % 5 =!= 0, (col("id") * 104729L % 65537L - 30000L).cast("int")).as("i"),
    when(col("id") % 7 =!= 0, col("id") * 7919L % 100003L - 50000L).as("l"),
    when(col("id") % 3 =!= 0,
      date_add(lit("1990-01-01").cast("date"), (col("id") * 37 % 9000).cast("int"))).as("d"),
    when(col("id") % 4 =!= 0,
      timestamp_micros(lit(1700000000000000L) + col("id") * 123456789L)).as("ts"),
    lit(null).cast("int").as("none"))

  test("footer aggregate == scan aggregate: int, long, date, timestamp-micros, nulls, all-null, files") {
    for (files <- Seq(1, 3)) {
      val dir = write(src, s"$base/typed-$files", files)
      val df = spark.read.parquet(dir)
      assert(answeredFromFooters(stats(df)), s"$files files: the rule did not fire")
      val got = stats(df).collect().toSeq
      val want = without(FooterAggregate.ruleName)(stats(df).collect().toSeq)
      assert(got == want, s"$files files: footers $got != scan $want")
      assert(got.head.getLong(got.head.length - 1) == 3000L)
    }
  }

  test("footer aggregate == scan aggregate: timestamp_ntz with nulls, an all-null file, pre-1582 under LEGACY") {
    // Stored as INT64 TIMESTAMP(MICROS, isAdjustedToUTC = false); the
    // session is UTC, so the cast keeps the micros.
    def ntz(fromUs: Long) = spark.range(0, 3000).select(
      when(col("id") % 4 =!= 0,
        timestamp_micros(lit(fromUs) + col("id") * 123456789L).cast("timestamp_ntz")).as("t"),
      lit(null).cast("timestamp_ntz").as("none"))
    val modern = write(ntz(1700000000000000L), s"$base/ntz", 3)
    // Around 1494, written in the legacy hybrid calendar: NTZ is not
    // rebased, so the footer still holds what the scan returns.
    val legacy = s"$base/ntz-legacy"
    withConf("spark.sql.parquet.datetimeRebaseModeInWrite", "LEGACY") {
      ntz(-15000000000000000L).repartition(2).write.mode("overwrite").parquet(legacy)
    }
    for (dir <- Seq(modern, legacy)) {
      val df = spark.read.parquet(dir)
      assert(df.schema("t").dataType == TimestampNTZType)
      assert(answeredFromFooters(stats(df)), s"$dir: the rule did not fire")
      val got = stats(df).collect().toSeq
      assert(got == without(FooterAggregate.ruleName)(stats(df).collect().toSeq), dir)
      assert(got.head.get(0) != null && got.head.get(3) == null, s"$dir: $got")
    }
  }

  test("footer aggregate over an empty file and an empty directory gives (null, null, 0)") {
    val empty = write(src.limit(0), s"$base/empty-file", 1)
    val emptyDir = s"$base/empty-dir"
    Tables.deleteRecursively(emptyDir)
    new java.io.File(emptyDir).mkdirs()
    for (dir <- Seq(empty, emptyDir)) {
      val df = spark.read.schema(src.schema).parquet(dir)
      assert(answeredFromFooters(stats(df)), s"$dir: the rule did not fire")
      val got = stats(df).collect().toSeq
      assert(got == without(FooterAggregate.ruleName)(stats(df).collect().toSeq))
      assert(got == Seq(Row.fromSeq(Seq.fill(5)(Seq(null, null, 0L)).flatten :+ 0L)))
    }
  }

  test("footer aggregate declines: filter, partitions, INT96, legacy calendar, double/string/decimal, widened INT32, ignoreMissingFiles, file cut") {
    val typed = write(src, s"$base/decline-typed", 3)
    val int96 = write(src.select("ts"), s"$base/decline-int96", 2, tsType = "INT96")
    val others = write(spark.range(0, 500).select((col("id") / 3.0).as("x"),
      col("id").cast("string").as("s"), (col("id") / 7).cast(DecimalType(12, 4)).as("dec")),
      s"$base/decline-others", 2)
    // Dates written in the legacy hybrid calendar are rebased when read.
    val legacy = s"$base/decline-legacy"
    withConf("spark.sql.parquet.datetimeRebaseModeInWrite", "LEGACY") {
      src.select("d").write.mode("overwrite").parquet(legacy)
    }
    val parted = s"$base/decline-parted"
    src.withColumn("g", col("l") % 3).write.mode("overwrite").partitionBy("g").parquet(parted)
    val cases: Seq[(String, () => DataFrame)] = Seq(
      "filter" -> (() => stats(spark.read.parquet(typed).filter(col("i") > 0))),
      "partitioned" -> (() => stats(spark.read.parquet(parted).select("i", "l"))),
      "INT96" -> (() => stats(spark.read.parquet(int96))),
      "legacy-calendar dates" -> (() => stats(spark.read.parquet(legacy))),
      "double" -> (() => stats(spark.read.parquet(others).select("x"))),
      "string" -> (() => stats(spark.read.parquet(others).select("s"))),
      "decimal" -> (() => stats(spark.read.parquet(others).select("dec"))),
      "INT32 read as long" -> (() => stats(spark.read.schema("i long").parquet(typed))),
      "ignoreMissingFiles" ->
        (() => stats(spark.read.option("ignoreMissingFiles", "true").parquet(typed))))
    for ((name, df) <- cases) {
      assert(!answeredFromFooters(df()), s"$name: the rule fired")
      assert(df().collect().toSeq == without(FooterAggregate.ruleName)(df().collect().toSeq), name)
    }
    // Above Spark's driver-side file-listing cut the aggregate runs as a job.
    withConf("spark.sql.sources.parallelPartitionDiscovery.threshold", "2") {
      assert(!answeredFromFooters(stats(spark.read.parquet(typed))), "3 files over a cut of 2")
    }
    withConf("spark.sql.sources.parallelPartitionDiscovery.threshold", "3") {
      assert(answeredFromFooters(stats(spark.read.parquet(typed))), "3 files at a cut of 3")
    }
  }

  test("footer aggregate: lineitem's min/max/count and count() run no job") {
    val li = Tables.lineitem(spark, Sf0001)
    li.schema // opened before counting
    var got: Row = null
    assert(jobsOf {
      got = li.agg(min("l_partkey"), max("l_partkey"), count(lit(1))).head()
    } == 0)
    assert(got == without(FooterAggregate.ruleName)(
      li.agg(min("l_partkey"), max("l_partkey"), count(lit(1))).head()))
    var n = 0L
    assert(jobsOf { n = li.count() } == 0)
    assert(n == without(FooterAggregate.ruleName)(li.count()))
  }

  test("local sort == Spark's sort: asc/desc, nulls first/last, NaN, -0.0, strings, ties") {
    val schema = StructType(Seq(StructField("x", DoubleType), StructField("s", StringType),
      StructField("k", IntegerType), StructField("id", IntegerType)))
    val xs = Seq[java.lang.Double](1.5, -0.0, 0.0, Double.NaN, null, -2.0, 0.0, -0.0,
      Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN, 1.5)
    val ss = Seq("b", null, "a", "B", "", "a", "ä", null)
    val rows = (0 until 96).map(i => Row(xs(i % xs.length), ss(i * 5 % ss.length),
      if (i % 11 == 0) null else Integer.valueOf(i % 4), i))
    import scala.jdk.CollectionConverters._
    val local = spark.createDataFrame(rows.asJava, schema)
    val remote = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val orders: Seq[Seq[Column]] = Seq(
      Seq(col("x")), Seq(col("x").desc), Seq(col("x").asc_nulls_last),
      Seq(col("x").desc_nulls_first), Seq(col("s"), col("x").desc),
      Seq(col("s").desc_nulls_last, col("k")), Seq(col("k").desc, col("s").asc_nulls_last),
      Seq(col("k")), Seq(col("k") % 3, col("x")))
    for (o <- orders) {
      val sorted = local.orderBy(o: _*)
      assert(sorted.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
        s"${o.mkString(", ")}: the rule did not fire")
      // Spark's range-exchange sort leaves ties in no set order, so the
      // comparison with it breaks ties by id; the input is in id order,
      // so a stable sort breaks them the same way unasked.
      val byId = o :+ col("id")
      val want = remote.orderBy(byId: _*).collect().toSeq
      assert(local.orderBy(byId: _*).collect().toSeq == want, s"order by ${byId.mkString(", ")}")
      assert(sorted.collect().toSeq == want, s"order by ${o.mkString(", ")}: not stable")
    }
    // A non-deterministic order is left to Spark.
    assert(!local.orderBy(rand(1)).queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
  }

  test("local sort: q_stream_join's result is the sink's rows, sorted with no job") {
    val df = SparkEntry.queries("q_stream_join")(spark, Sf0001)
    assert(df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      "the sort over the memory sink's rows was not answered on the driver")
    var rows = Seq.empty[Row]
    assert(jobsOf { rows = df.collect().toSeq } == 0)
    assert(rows.nonEmpty)
  }

  test("local sort: q_text_unigram_train's action runs at most one job") {
    val df = SparkEntry.queries("q_text_unigram_train")(spark, Sf0001)
    try {
      val jobs = jobsOf(df.write.format("noop").mode("overwrite").save())
      assert(jobs <= 1, s"the unigram piece table's action ran $jobs jobs")
    } finally graft.operators.ScaleOps.releaseTracked()
  }
}
