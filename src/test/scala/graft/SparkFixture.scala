package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run (Spark startup is
  * ~5 s; per-suite sessions would dominate test time). Config mirrors the
  * driver's Verify/Bench builders plus Tables.prep's runtime confs. */
object SparkFixture {
  lazy val spark: SparkSession = {
    // Per-JVM staging root, deleted on JVM exit — test runs leave no
    // graft-stage residue in java.io.tmpdir (same lifecycle Verify/Bench own
    // for their runs).
    val stageRoot = java.nio.file.Files
      .createTempDirectory("graft-test-stage").toString
    sys.addShutdownHook(Tables.deleteRecursively(stageRoot))
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("graft.stage.dir", stageRoot)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` with `n` shuffle partitions, then put back what was set. */
  def withShufflePartitions[T](n: Int)(body: => T): T =
    withConf("spark.sql.shuffle.partitions", n.toString)(body)

  /** Run `body` with a split size of `n` bytes, then put back what was set.
    * ScaleOps.prefixScan takes one range partition per split of its input,
    * so a tiny split lets a small test input span the session's whole
    * shuffle width. */
  def withMaxPartitionBytes[T](n: Long)(body: => T): T =
    withConf("spark.sql.files.maxPartitionBytes", n.toString)(body)

  /** Run `body` with 8 shuffle partitions and 1 KiB splits, so that a
    * ScaleOps.prefixScan over a sf0.001 table spans several range
    * partitions and its carries are exercised (the scans of every forced
    * scale form in the router tests take 3 to 8); a one-byte split would
    * also cut every parquet scan into one task per byte. */
  def withSplitScans[T](body: => T): T =
    withShufflePartitions(8)(withMaxPartitionBytes(1L << 10)(body))

  /** Run `body` with `key` set to `value`, then put back what was set. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"

  /** Driver twin of Det.dsum's decimal dance, SHARED by the property specs
    * (StatsSpec, R14OpsSpec) so the twin cannot drift from itself:
    * BigDecimal.valueOf == Spark's cast(double as decimal) (canonical
    * string repr, HALF_UP to 10 places), exact sum, round to `scale`,
    * scaled exact integer, one double division. */
  def dsumLike(xs: Seq[Double], scale: Int): Double = {
    val sum = xs.foldLeft(java.math.BigDecimal.ZERO)((a, x) =>
      a.add(java.math.BigDecimal.valueOf(x).setScale(10, java.math.RoundingMode.HALF_UP)))
    sum.setScale(scale, java.math.RoundingMode.HALF_UP)
      .movePointRight(scale).longValueExact().toDouble / math.pow(10, scale)
  }
}
