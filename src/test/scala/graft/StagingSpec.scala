package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Tables.stagedFixture contract: reuse while the data directory and the
  * build are unchanged, restaging when either changes (including a table
  * the fixture reads beside its main one), and — the ADVICE r11 finding —
  * cross-process exclusion: the clear+write+marker sequence must never
  * interleave between two stagers of the same fixture. The lock is a
  * filesystem file, so same-JVM threads exercise exactly the code path two
  * JVMs would. */
class StagingSpec extends AnyFunSuite {
  private val spark = SparkFixture.spark
  private val Data = SparkFixture.Sf0001

  /** Runs `body` with graft.replay.dir pointed at a throwaway root, then
    * restores the previous conf (the session is shared across suites). */
  private def withReplayRoot[A](body: String => A): A = {
    val prev = spark.conf.getOption("graft.replay.dir")
    val root = Files.createTempDirectory("graft-staging-spec").toString
    spark.conf.set("graft.replay.dir", root)
    try body(root)
    finally {
      prev match {
        case Some(v) => spark.conf.set("graft.replay.dir", v)
        case None => spark.conf.unset("graft.replay.dir")
      }
      Tables.deleteRecursively(root)
    }
  }

  /** Runs `body` on a writable copy of the sf0.001 data directory. */
  private def withDataCopy[A](body: String => A): A = {
    val copy = Files.createTempDirectory("graft-staging-data")
    try {
      val listing = Files.list(Paths.get(Data))
      try listing.forEach(f => Files.copy(f, copy.resolve(f.getFileName)))
      finally listing.close()
      body(copy.toString)
    } finally Tables.deleteRecursively(copy.toString)
  }

  private def marker(prefix: String, dir: String) =
    Paths.get(Tables.replayDir(spark, prefix, dir), ".staged")

  test("stagedFixture stages once per data dir and build, restages when a table changes") {
    withReplayRoot { _ =>
      withDataCopy { dir =>
        val writes = new AtomicInteger(0)
        def stage() =
          Tables.stagedFixture(spark, dir, "spec") { d =>
            Files.writeString(Paths.get(d, "data.txt"), s"w${writes.incrementAndGet()}")
          }
        val d1 = stage()
        val d2 = stage()
        assert(d1 == d2 && writes.get() == 1, "fresh marker must skip the write")
        assert(Files.readString(Paths.get(d1, "data.txt")) == "w1")
        Files.delete(Paths.get(dir, "region.parquet")) // the copy is read-only
        Files.writeString(Paths.get(dir, "region.parquet"), "rewritten")
        stage()
        assert(writes.get() == 2, "a changed table must invalidate the marker")
        assert(Files.readString(Paths.get(d1, "data.txt")) == "w2")
      }
    }
  }

  test("stageAllReplays stages every replay kind, and every fixture under the root is one") {
    withReplayRoot { root =>
      graft.streaming.Runtime.stageAllReplays(spark, Data)
      for (kind <- graft.streaming.Runtime.ReplayKinds)
        assert(Files.exists(marker(kind, Data)), s"replay kind $kind was not staged")
      val listing = Files.list(Paths.get(root))
      val dirs = try listing.iterator().asScala.filter(Files.isDirectory(_)).toSeq
        finally listing.close()
      assert(dirs.size == graft.streaming.Runtime.ReplayKinds.size,
        s"fixtures under the root: ${dirs.map(_.getFileName).mkString(", ")}")
      for (d <- dirs) assert(Files.exists(d.resolve(".staged")), s"$d has no marker")
    }
  }

  test("stagedFixture restages a fixture whose marker another build wrote") {
    withReplayRoot { _ =>
      val writes = new AtomicInteger(0)
      def stage() = Tables.stagedFixture(spark, Data, "spec-build") { _ =>
        writes.incrementAndGet()
      }
      stage()
      val m = marker("spec-build", Data)
      val Array(data, build) = Files.readString(m).split(" ")
      Files.writeString(m, s"$data ${"0" * build.length}")
      stage()
      assert(writes.get() == 2, "a marker from another build must restage")
      assert(Files.readString(m) == s"$data $build")
      stage()
      assert(writes.get() == 2, "the restaged marker must be reused")
    }
  }

  test("stagedFixture signs parquet confs set away from their defaults, not ones set to them") {
    withReplayRoot { _ =>
      val writes = new AtomicInteger(0)
      def stage() = Tables.stagedFixture(spark, Data, "spec-conf") { _ =>
        writes.incrementAndGet()
      }
      val key = "spark.sql.parquet.outputTimestampType"
      val prev = spark.conf.getAll.get(key) // getOption would return the default
      try {
        spark.conf.unset(key)
        stage()
        spark.conf.set(key, "INT96") // the default, set explicitly
        stage()
        assert(writes.get() == 1, "a conf set to its default must not restage")
        spark.conf.set(key, "TIMESTAMP_MICROS")
        stage()
        assert(writes.get() == 2, "a changed parquet conf must restage")
      } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("a fixture's catalog tables are registered again after it restages") {
    // The default replay root, where every other suite's cbo-hist-skew
    // tables point: the restage deletes the files those tables listed.
    val q = SparkEntry.queries("q_layout_cbo_hist")
    val before = q(spark, Data).collect().toSeq
    Files.writeString(marker("cbo-hist-skew", Data), "restage")
    val after = q(spark, Data).collect().toSeq
    assert(Files.readString(marker("cbo-hist-skew", Data)) != "restage", "the fixture did not restage")
    assert(after == before, "q_layout_cbo_hist changed across a restage of its fixture")
  }

  test("stagedTxnLayouts restages when only embeddings.parquet changes") {
    withReplayRoot { _ =>
      withDataCopy { dir =>
        queries.Relational.stagedTxnLayouts(spark, dir)
        val m = marker("txn-layouts", dir)
        val before = Files.readString(m)
        // Rewrite the sibling table the fixture reads beside documents.
        val fresh = s"$dir/embeddings.new"
        Tables.embeddings(spark, dir).filter("vec_id % 2 = 0")
          .coalesce(1).write.parquet(fresh)
        Tables.deleteRecursively(s"$dir/embeddings.parquet")
        Files.move(Paths.get(fresh), Paths.get(s"$dir/embeddings.parquet"))
        queries.Relational.stagedTxnLayouts(spark, dir)
        assert(Files.readString(m) != before,
          "a rewritten embeddings table must restage the txn layouts")
      }
    }
  }

  test("concurrent stagers serialize: exactly one write, no interleaving (ADVICE r11)") {
    withReplayRoot { _ =>
      val writes = new AtomicInteger(0)
      val inWrite = new AtomicInteger(0)
      val overlaps = new AtomicInteger(0)
      def stage() =
        Tables.stagedFixture(spark, Data, "race") { d =>
          if (inWrite.incrementAndGet() > 1) overlaps.incrementAndGet()
          writes.incrementAndGet()
          Thread.sleep(300) // widen the window a racing stager would hit
          Files.writeString(Paths.get(d, "data.txt"), "payload")
          inWrite.decrementAndGet()
        }
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val dirs = Await.result(
        Future.sequence((1 to 4).map(_ => Future(stage())).toSeq), 60.seconds)
      assert(dirs.distinct.size == 1)
      assert(overlaps.get() == 0, "two stagers ran the write concurrently")
      assert(writes.get() == 1,
        s"losers must reuse the winner's fixture, not restage (${writes.get()} writes)")
      assert(Files.readString(Paths.get(dirs.head, "data.txt")) == "payload")
      assert(!Files.exists(Paths.get(dirs.head + ".lock")), "lock must be released")
    }
  }

  test("decodeEventTs normalizes all three ts representations to the same micros") {
    // The driver has shipped events.ts as epoch-nanos LongType (r1-r12
    // data under nanosAsLong) and as TIMESTAMP_NTZ micros (r13 data);
    // decoded fixtures read back as TimestampType. The live testdata only
    // exercises ONE path per generation — this pins all three so the
    // dormant ones cannot rot.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.TimestampType
    val us = 983750400123456L // 2001-03-05T00:00:00.123456Z
    val spark2 = spark
    import spark2.implicits._
    val fromNanos = Tables.decodeEventTs(
      Seq(us * 1000L + 789L).toDF("ts")) // sub-us nanos must truncate, not round
    val fromNtz = Tables.decodeEventTs(
      Seq(us).toDF("us").select(expr("make_timestamp_ntz(2001,3,5,0,0,0.123456)").as("ts")))
    val fromDecoded = Tables.decodeEventTs(
      Seq(us).toDF("us").select(timestamp_micros(col("us")).as("ts")))
    for ((df, name) <- Seq((fromNanos, "nanos"), (fromNtz, "ntz"), (fromDecoded, "decoded"))) {
      assert(df.schema("ts").dataType == TimestampType, s"$name: wrong type")
      val got = df.select(unix_micros(col("ts"))).head().getLong(0)
      assert(got == us, s"$name: $got != $us")
    }
  }

  test("Tables.table: a rewritten table reopens with its new schema; an unchanged one starts no job") {
    import org.apache.spark.ListenerBusDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("graft-schema-spec").toString
    def jobsDuring(body: => Unit): Int = {
      val jobs = new AtomicInteger(0)
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      ListenerBusDrain(sc)
      sc.addSparkListener(l)
      try { body; ListenerBusDrain(sc) } finally sc.removeSparkListener(l)
      jobs.get()
    }
    try {
      Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
      // The first open infers the schema, which is a Spark job (this also
      // shows the listener sees the inference job).
      assert(jobsDuring(Tables.table(spark, dir, "t").schema) >= 1)
      assert(Tables.table(spark, dir, "t").schema.fieldNames.toSeq == Seq("id", "s"))
      // Same path, different schema: the new files change the fingerprint.
      Seq((1.5, 2, true)).toDF("x", "y", "z")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      val t2 = Tables.table(spark, dir, "t")
      assert(t2.schema.fieldNames.toSeq == Seq("x", "y", "z"))
      assert(t2.as[(Double, Int, Boolean)].collect().toSeq == Seq((1.5, 2, true)))
      // Unchanged since the last open: the cached schema is reused.
      assert(jobsDuring(Tables.table(spark, dir, "t").schema) == 0)
    } finally Tables.deleteRecursively(dir)
  }
}
