package graft

import graft.functions.Det
import graft.streaming.{Runtime => SRuntime}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The fixed cost of a stream micro-batch: the rollup tick is one
  * single-stage job that shuffles nothing, its task-local fold equals the
  * SQL partial aggregate exactly (overflow included), and every stream
  * runner fixes its four session settings for the run and restores them
  * afterwards. */
class StreamTickSpec extends AnyFunSuite {
  import SparkFixture._

  test("rollup tick: one single-stage job per micro-batch, 0 shuffle bytes; two tick generations") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.ListenerBusDrain
    import org.apache.spark.scheduler._
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val rollup = Tables.stageDir(spark, "tick-spec-rollup", Sf0001)
    val ckpt = Tables.stageDir(spark, "tick-spec-rollup-ckpt", Sf0001)
    Seq(rollup, ckpt).foreach(Tables.deleteRecursively)
    // Built (and the replay staged) before anything is counted.
    val rows = SRuntime.eventsStreamSplitByTime(spark, Sf0001)
      .filter(col("event_type") =!= "flush")
      .select(col("event_type"), col("value"))
    // Jobs as (job id, micro-batch id, stage ids); stages actually run;
    // shuffle bytes written per stage.
    val jobs = new ConcurrentLinkedQueue[(Int, Option[String], Seq[Int])]()
    val ranStages = new ConcurrentLinkedQueue[Int]()
    val shuffleWritten = new ConcurrentLinkedQueue[(Int, Long)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((e.jobId,
          Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId"))),
          e.stageIds))
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        ranStages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          shuffleWritten.add((e.stageId, m.shuffleWriteMetrics.bytesWritten)))
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val schema = try {
      val s = SRuntime.runRollupMaintain(rows, rollup, ckpt, "event_type", "value")
      ListenerBusDrain(sc)
      s
    } finally sc.removeSparkListener(listener)
    val all = jobs.asScala.toSeq.sortBy(_._1)
    assert(all.forall(_._2.isDefined), s"a job ran outside a micro-batch: $all")
    val ran = ranStages.asScala.toSet
    for ((batch, js) <- all.groupBy(_._2)) {
      assert(js.size == 1, s"micro-batch $batch ran ${js.size} jobs; expected one")
      val run = js.head._3.filter(ran)
      assert(run.size == 1, s"micro-batch $batch ran stages $run; expected one")
      val written = shuffleWritten.asScala.collect { case (s, b) if s == run.head => b }.sum
      assert(written == 0L, s"micro-batch $batch wrote $written shuffle bytes")
    }
    val ticks = spark.read.schema(schema).parquet(rollup)
      .select(col("tick")).distinct().collect().map(_.getLong(0)).sorted.toSeq
    assert(ticks.length == 2, s"expected 2 tick generations, got $ticks")
    assert(all.size == ticks.length, s"${all.size} jobs for ${ticks.length} ticks")
    // The returned schema is the grouped SQL partial's, plus the tick.
    assert(schema == sqlPartial(Tables.events(spark, Sf0001)
      .select(col("event_type"), col("value")), "event_type", "value")
      .withColumn("tick", lit(0L)).schema)
  }

  /** The shuffling twin of the fold: `groupBy.agg(count, dsumPartial)`. */
  private def sqlPartial(df: DataFrame, k: String, v: String): DataFrame =
    df.groupBy(col(k)).agg(count(lit(1)).as("n"), Det.dsumPartial(col(v)).as("s"))

  /** Merge fold partials per key — the serving read's reducer. */
  private def merged(fold: DataFrame): DataFrame =
    fold.groupBy(col("k")).agg(sum(col("n")).as("n"), sum(col("s")).as("s"))

  private val frameSchema = StructType(Seq(
    StructField("k", StringType), StructField("v", DoubleType)))

  private def frame(rows: Seq[(String, java.lang.Double)], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (k, v) => Row(k, v) }, parts), frameSchema)

  /** A value at a DECIMAL(38,10) rounding edge: ±(n + 5e-11), which the
    * cast rounds half-up away from zero. */
  private val edgeGen: Gen[Double] = for {
    n <- Gen.chooseNum(0L, 9999L); neg <- Gen.oneOf(true, false)
  } yield {
    val x = (BigDecimal(n) + BigDecimal("0.00000000005")).toDouble
    if (neg) -x else x
  }
  /** 4 to 12 decimal places (so the cast really rounds), |v| < 10^11 (so
    * dsum's scaled integer fits a long). */
  private val moneyGen: Gen[Double] = for {
    u <- Gen.chooseNum(-999999999999999L, 999999999999999L); k <- Gen.choose(4, 12)
  } yield (BigDecimal(u) / BigDecimal(10).pow(k)).toDouble
  /** Large magnitudes: ≤ 60 of them keep every running sum below 10^28. */
  private val hugeGen: Gen[Double] =
    Gen.chooseNum(-1e26, 1e26)

  private val rowsGen: Gen[Seq[(String, java.lang.Double)]] = for {
    n <- Gen.choose(0, 60)
    huge <- Gen.oneOf(true, false)
    rows <- Gen.listOfN(n, for {
      k <- Gen.oneOf("a", "b", "c", "z", null)
      v <- Gen.frequency(1 -> Gen.const(Double.NaN), 2 -> edgeGen,
        4 -> (if (huge) hugeGen else moneyGen))
    } yield (k, if (k == "z" || v.isNaN) null else java.lang.Double.valueOf(v)))
  } yield rows

  private def rowSet(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  test("property: the task-local fold == the SQL partial per key; merged dsum == from-scratch dsum") {
    // "z" is an all-null group; NaN slots become null values; the null key
    // is a group of its own.
    for (i <- 1 to 24) {
      val rows = rowsGen.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val parts = 1 + i % 5
      val df = frame(rows, parts)
      val fold = SRuntime.rollupPartials(df, "k", "v", 7L)
      assert(fold.schema == sqlPartial(df, "k", "v").withColumn("tick", lit(7L)).schema)
      val got = fold.collect()
      assert(got.forall(_.getLong(3) == 7L))
      assert(got.length <= parts * rows.map(_._1).distinct.size,
        s"case $i: ${got.length} partial rows for $parts tasks")
      assert(rowSet(merged(fold)) == rowSet(sqlPartial(df, "k", "v")),
        s"case $i: merged fold != SQL partial for $rows over $parts partitions")
      if (rows.forall(r => r._2 == null || math.abs(r._2) < 1e11)) {
        val viaFold = fold.groupBy(col("k"))
          .agg(sum(col("n")).as("n"), Det.dsumMerge(col("s"), 6).as("s"))
        val scratch = df.groupBy(col("k"))
          .agg(count(lit(1)).as("n"), Det.dsum(col("v"), 6).as("s"))
        assert(rowSet(viaFold) == rowSet(scratch), s"case $i: dsumMerge(fold) != dsum")
      }
    }
  }

  /** The SQL sum's overflow error, wherever Spark wrapped it. */
  private def overflows(body: => Any): Boolean =
    try { body; false } catch {
      case e: Throwable =>
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists {
          case t: org.apache.spark.SparkThrowable => t.getCondition == "ARITHMETIC_OVERFLOW"
          case _ => false
        }
    }

  test("fold overflow: a running sum past DECIMAL(38,10) fails as the SQL sum does") {
    val big: java.lang.Double = 9e27
    val neg: java.lang.Double = -9e27
    // One task: the running sum overflows — even when a later row would
    // bring it back in range, as in the SQL sum's per-row buffer check.
    for (rows <- Seq(Seq("a" -> big, "a" -> big), Seq("a" -> big, "a" -> big, "a" -> neg))) {
      val df = frame(rows, 1)
      assert(overflows(sqlPartial(df, "k", "v").collect()), s"SQL partial accepted $rows")
      assert(overflows(SRuntime.rollupPartials(df, "k", "v", 0L).collect()),
        s"fold accepted $rows")
    }
    // Two tasks, each partial in range, the total out of range: the fold's
    // tick succeeds and the merge (the serving read) fails instead.
    val split = frame(Seq("a" -> big, "a" -> big), 2)
    assert(overflows(sqlPartial(split, "k", "v").collect()))
    val fold = SRuntime.rollupPartials(split, "k", "v", 0L)
    assert(fold.collect().length == 2)
    assert(overflows(merged(fold).collect()), "merged partials accepted an overflow")
    // Under ANSI off the SQL sum turns overflow into null; the fold still
    // fails, because a null partial would drop out of the merge unseen.
    withConf("spark.sql.ansi.enabled" -> Some("false")) {
      val df = frame(Seq("a" -> big, "a" -> big), 1)
      assert(sqlPartial(df, "k", "v").collect().head.isNullAt(2))
      assert(overflows(SRuntime.rollupPartials(df, "k", "v", 0L).collect()))
    }
  }

  /** Set (Some) or unset (None) session confs around `body`, then put back
    * exactly what was there. */
  private def withConf[T](kv: (String, Option[String])*)(body: => T): T = {
    val before = spark.conf.getAll
    kv.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    try body finally kv.foreach { case (k, _) =>
      before.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  private val fixedInRun = Seq(
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")

  /** Every stream runner, each driven through a key that calls it (or
    * directly, for the one no key uses). */
  private val runners: Seq[(String, () => Unit)] =
    Seq("q_stream_tumbling", "q_stream_late", "q_stream_restart", "q_stream_sink",
      "q_stream_view_maintain", "q_stream_update_topk", "q_stream_cdc_apply",
      "q_stream_sink_manifest", "q_stream_complete", "q_stream_dedup_corpus").map { k =>
      k -> (() => { SparkEntry.queries(k)(spark, Sf0001); () })
    } :+ ("runToCompletion" -> (() => {
      SRuntime.runToCompletion(spark,
        SRuntime.eventsStream(spark, Sf0001).groupBy(col("event_type")).count(),
        "t_tick_spec_complete")
      ()
    }))

  test("stream settings: fixed inside every runner (FileSystem checkpoint manager), restored after it, set or unset") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
      FileSystemBasedCheckpointFileManager}
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import scala.jdk.CollectionConverters._
    // QueryStartedEvent reaches a session's listeners synchronously on the
    // starting query's thread, i.e. inside the runner's bounded run.
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Seq[(String, String)], String)]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = {
        val ckpt = spark.streams.get(e.id) match {
          case w: StreamingQueryWrapper => w.streamingQuery.resolvedCheckpointRoot
          case q => sys.error(s"unexpected query handle $q")
        }
        val mgr = CheckpointFileManager.create(new Path(ckpt),
          spark.sessionState.newHadoopConf())
        seen.add((fixedInRun.map { case (k, _) => k -> spark.conf.get(k) },
          mgr.getClass.getName))
      }
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val outside = Seq(
      "spark.sql.shuffle.partitions" -> "3",
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "false",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager")
    val keys = outside.map(_._1)
    def current: Map[String, String] = spark.conf.getAll.filter(kv => keys.contains(kv._1))
    spark.streams.addListener(listener)
    try {
      for ((preset, label) <- Seq(outside.map { case (k, v) => k -> Some(v) } -> "set",
                                  outside.map { case (k, _) => k -> None } -> "unset");
           (name, run) <- runners) {
        withConf(preset: _*) {
          val before = current
          seen.clear()
          run()
          assert(current == before, s"$name ($label): settings leaked: $before -> $current")
          val inRun = seen.asScala.toSeq
          assert(inRun.nonEmpty, s"$name ($label): no stream started")
          for ((confs, mgr) <- inRun) {
            assert(confs == fixedInRun, s"$name ($label): in-run settings $confs")
            assert(mgr == classOf[FileSystemBasedCheckpointFileManager].getName,
              s"$name ($label): checkpoint manager $mgr")
          }
        }
        graft.operators.ScaleOps.releaseTracked()
      }
    } finally spark.streams.removeListener(listener)
  }
}
