package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

/** Tables.stagedFixture contract: content-keyed reuse across calls, version
  * invalidation, and — the ADVICE r11 finding — cross-process exclusion: the
  * clear+write+marker sequence must never interleave between two stagers of
  * the same fixture. The lock is a filesystem file, so same-JVM threads
  * exercise exactly the code path two JVMs would. */
class StagingSpec extends AnyFunSuite {
  private val spark = SparkFixture.spark
  private val Src = s"${SparkFixture.Sf0001}/events.parquet"

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

  test("stagedFixture stages once, reuses by signature, restages on version bump") {
    withReplayRoot { _ =>
      val writes = new AtomicInteger(0)
      def stage(version: String) =
        Tables.stagedFixture(spark, Src, "spec", "fix", version) { d =>
          writes.incrementAndGet()
          Files.writeString(Paths.get(d, "data.txt"), version)
        }
      val d1 = stage("v1")
      val d2 = stage("v1")
      assert(d1 == d2 && writes.get() == 1, "fresh marker must skip the write")
      assert(Files.readString(Paths.get(d1, "data.txt")) == "v1")
      stage("v2")
      assert(writes.get() == 2, "version bump must invalidate the marker")
      assert(Files.readString(Paths.get(d1, "data.txt")) == "v2")
    }
  }

  test("concurrent stagers serialize: exactly one write, no interleaving (ADVICE r11)") {
    withReplayRoot { _ =>
      val writes = new AtomicInteger(0)
      val inWrite = new AtomicInteger(0)
      val overlaps = new AtomicInteger(0)
      def stage() =
        Tables.stagedFixture(spark, Src, "spec", "race", "v1") { d =>
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
