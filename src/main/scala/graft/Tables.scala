package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the ten testdata parquet tables (FIXTURES.md).
  *
  * Scale posture: each loader is a plain parquet scan — Catalyst pushes
  * filters and projections down into the vectorized parquet reader, so at
  * 100 TB the same code reads only the needed columns / row groups. No
  * data is cached here; callers own lifecycle. The one thing kept is each
  * table's inferred schema, keyed by a fingerprint of its files (see
  * [[table]]), so reopening an unchanged table runs no Spark job. At
  * cluster scale the same paths would point at a partitioned parquet
  * layout and partition pruning would kick in with zero code change.
  */
object Tables {

  /** Session settings every query needs regardless of which builder created
    * the session (Verify/Bench builders don't set them all; `getOrCreate`
    * reuses sessions, so set runtime-settable confs here, per SURVEY.md §4).
    */
  def prep(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // Older testdata generations shipped events.ts as Parquet
    // TIMESTAMP(NANOS), which Spark 4 rejects by default
    // (PARQUET_TYPE_ILLEGAL). Under this flag such a column arrives as
    // LongType epoch-nanos and [[decodeEventTs]] recognizes it; current
    // generations write TIMESTAMP(MICROS), where the flag is inert.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Native codegen'd expressions (functions/VecDot.scala,
    // functions/MinHash.scala); registration is idempotent.
    graft.functions.VecDot.register(spark)
    graft.functions.MinHashSig.register(spark)
    graft.functions.SimHash64.register(spark)
    graft.functions.HilbertIndex.register(spark)
    graft.functions.CharNgrams.register(spark)
  }

  /** Opens `dir/name.parquet` with a known schema. `spark.read.parquet`
    * infers the schema with a one-task Spark job on every open; here it is
    * inferred once per (path, fingerprint) and reused. The fingerprint
    * covers every file's name, size and mtime plus the session's explicitly
    * set parquet confs (which steer type mapping, e.g. `nanosAsLong`), so a
    * rewritten table or a changed mapping infers again — a cached schema
    * is never stale. A missing path opens uncached, raising Spark's own
    * error. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    prep(spark)
    val path = s"$dir/$name.parquet"
    fingerprint(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(fp) =>
        val schema = schemas.get(path) match {
          case (`fp`, known) => known
          case _ =>
            val inferred = spark.read.parquet(path).schema
            schemas.put(path, (fp, inferred))
            inferred
        }
        spark.read.schema(schema).parquet(path)
    }
  }

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]()

  private def fingerprint(spark: SparkSession, path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val it = fs.listFiles(p, true)
      val files = Seq.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        files += s"${f.getPath}:${f.getLen}:${f.getModificationTime}"
      }
      val confs = spark.conf.getAll.toSeq
        .filter(_._1.matches("spark\\.sql\\.(legacy\\.)?parquet\\..*")).sorted
      Some((files.result().sorted ++ confs.map { case (k, v) => s"$k=$v" })
        .mkString("\n"))
    }
  }

  def region(s: SparkSession, dir: String): DataFrame = table(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame = table(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame = table(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = table(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame = table(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame = table(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame = table(s, dir, "lineitem")
  def documents(s: SparkSession, dir: String): DataFrame = table(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = table(s, dir, "embeddings")

  /** `events` with `ts` normalized to a session-zoned microsecond
    * TimestampType whatever the on-disk representation — the driver has
    * regenerated testdata across rounds with `ts` as Parquet
    * TIMESTAMP(NANOS) (arrives as LongType epoch-nanos under `nanosAsLong`)
    * and as TIMESTAMP(MICROS) without UTC adjustment (arrives as
    * TIMESTAMP_NTZ). Downstream operators see ONE type either way. */
  def events(s: SparkSession, dir: String): DataFrame =
    decodeEventTs(table(s, dir, "events"))

  /** The `ts` normalization shared by every reader of an events-shaped
    * frame, batch or streaming (the streaming replay fixtures in
    * streaming/Runtime go through it too, so raw and decoded stagings are
    * interchangeable).
    *
    *  - LongType (epoch-nanos): integer `div` ONLY — `(ts/1000)
    *    .cast("long")` routes through Double, whose 53-bit mantissa cannot
    *    hold 61-bit epoch-nanos and corrupts the microsecond (verified in
    *    SURVEY.md §1.3).
    *  - TIMESTAMP_NTZ (micros, no UTC adjustment): the session zone is
    *    pinned to UTC in [[prep]], so the cast to TimestampType is
    *    wall-clock-preserving and Spark's micros equal what DuckDB reads
    *    from the same file natively.
    *  - TimestampType: already normalized (the decoded-fixture read-back
    *    path) — untouched.
    */
  def decodeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Directory for operator-internal file staging (the ORC round-trip,
    * stream arrival dirs). Root comes from the runtime conf
    * `graft.stage.dir`; harness mains (Verify, Bench) set it to a run-scoped
    * root and `deleteRecursively` it in their epilogue, so staging shares the
    * run's lifecycle instead of accreting in java.io.tmpdir (the fallback for
    * ad-hoc sessions). At cluster scale this conf must name a shared-filesystem
    * path every executor can reach — local tmpdirs don't exist off-box. */
  def stageDir(spark: SparkSession, sub: String): String = {
    val root = spark.conf.get("graft.stage.dir",
      java.nio.file.Paths.get(sys.props("java.io.tmpdir"), "graft-stage").toString)
    val p = java.nio.file.Paths.get(root, sub)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** stageDir keyed by an arbitrary string (e.g. the sf dir path): the key
    * is sanitized here so no call site can leak path separators into the
    * staging sub-path. */
  def stageDir(spark: SparkSession, prefix: String, rawKey: String): String =
    stageDir(spark, s"$prefix-${rawKey.replaceAll("[^A-Za-z0-9]", "_")}")

  /** Root for CONTENT-KEYED replay fixtures (the streaming gate's staged
    * arrival files, the incremental-agg's day-partitioned source). Unlike
    * [[stageDir]]'s run-scoped root, this one is SHARED and stable across
    * JVMs (conf `graft.replay.dir`, default java.io.tmpdir/graft-replay):
    * a fixture here is a pure function of its source table, validated by a
    * `.staged` signature marker, so a fresh process REUSES the staged files
    * instead of re-running the staging jobs — per-JVM restaging is what
    * made q_stream_join's bench cost vary 3× between runs. Disk use is
    * bounded: one fixture set per (kind, table), cleared and rewritten when
    * the source (or fixture version) changes. */
  def replayDir(spark: SparkSession, prefix: String, rawKey: String): String = {
    val root = spark.conf.get("graft.replay.dir",
      java.nio.file.Paths.get(sys.props("java.io.tmpdir"), "graft-replay").toString)
    val p = java.nio.file.Paths.get(
      root, s"$prefix-${rawKey.replaceAll("[^A-Za-z0-9]", "_")}")
    // createDirectories racing a concurrent stager's restage (stagedFixture
    // deletes + recreates this dir under its lock) can surface a spurious
    // FileAlreadyExistsException: the JDK's exists-and-is-directory recheck
    // runs AFTER the winner's delete has removed the entry again. The state
    // is transient by construction, so a short bounded retry converges.
    var attempts = 0
    var done = false
    while (!done) {
      try { java.nio.file.Files.createDirectories(p); done = true }
      catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          attempts += 1
          if (attempts > 100) throw e
          Thread.sleep(20)
      }
    }
    p.toString
  }

  /** Idempotent staging driver for [[replayDir]] fixtures: `write` runs only
    * when the signature marker (source size + mtime + fixture version) is
    * stale. Stale contents are CLEARED first — the shared root outlives
    * fixture-version changes, and a leftover file from an older layout would
    * otherwise still match a file-source glob and replay as a spurious
    * micro-batch. The marker is written LAST, so a crash mid-staging leaves
    * no marker and the next call restages. Concurrent stagings of the same
    * fixture from two JVMs are serialized by an exclusive sibling lock file
    * (`createFile` is atomic O_EXCL on every filesystem we stage to): the
    * loser waits, re-checks the marker, and usually returns the winner's
    * fixture without staging at all. A crashed winner's stale lock (>15 min
    * old) is taken over; a wait past 10 min fails loudly rather than
    * certifying a fixture someone may still be writing. Returns the
    * fixture directory. */
  def stagedFixture(spark: SparkSession, src: String, prefix: String,
                    rawKey: String, version: String)
                   (write: String => Unit): String = {
    import java.nio.file.{Files, Paths, FileAlreadyExistsException}
    val dir = replayDir(spark, prefix, rawKey)
    val attrs = Files.readAttributes(
      Paths.get(src),
      classOf[java.nio.file.attribute.BasicFileAttributes])
    val sig = s"${attrs.size}:${attrs.lastModifiedTime.toMillis}:$version"
    val marker = Paths.get(dir, ".staged")
    def fresh = // a concurrent restage can delete the marker mid-read
      try Files.exists(marker) && Files.readString(marker) == sig
      catch { case _: java.io.IOException => false }
    if (fresh) return dir
    val lock = Paths.get(dir + ".lock")
    val deadline = System.nanoTime() + 600L * 1000L * 1000L * 1000L
    var locked = false
    try {
      while (!locked) {
        if (fresh) return dir // the lock holder staged exactly what we need
        try { Files.createFile(lock); locked = true }
        catch {
          case _: FileAlreadyExistsException =>
            val age = try System.currentTimeMillis() -
              Files.getLastModifiedTime(lock).toMillis
            catch { case _: Throwable => 0L } // lock vanished — retry now
            if (age > 15L * 60 * 1000) Files.deleteIfExists(lock)
            else if (System.nanoTime() > deadline)
              sys.error(s"stagedFixture: lock $lock held > 600 s — " +
                "another staging is stuck (or its host died mid-write)")
            else Thread.sleep(200)
        }
      }
      if (!fresh) { // double-checked: winner may have finished as we locked
        // A rollup spec pinned to (or sourced from) this artifact must not
        // serve the restage query — or anything after — from stale data.
        graft.plans.RollupRewrite.invalidate(dir)
        deleteRecursively(dir)
        Files.createDirectories(Paths.get(dir))
        write(dir)
        Files.writeString(marker, sig)
      }
      dir
    } finally if (locked) Files.deleteIfExists(lock)
  }

  /** Best-effort recursive delete for a staging root (harness epilogue). */
  def deleteRecursively(root: String): Unit = {
    val p = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => try java.nio.file.Files.deleteIfExists(f) catch { case _: Throwable => () })
    }
  }
}
