package graft

/** Cluster-sizing guidance as code (SURVEY §7.4 item 5 / the "spill-aware"
  * brief): given the data volume a job will shuffle and the executor
  * resources, produce the session conf that keeps shuffle partitions at a
  * spill-free, scheduler-friendly size. Local runs use the driver's
  * `local[N]`/N-partitions contract; THIS is what a 100 TB deployment sets
  * instead. Pure arithmetic — unit-tested in ConfSpec.
  */
object Conf {

  /** Target compressed bytes per shuffle partition. ~128–200 MB is the
    * classic sweet spot: big enough to amortize task overhead, small
    * enough to sort/aggregate in executor memory without spill. */
  val TargetShufflePartitionBytes: Long = 128L << 20

  /** Ceiling so a mis-estimated huge input cannot drown the scheduler. */
  val MaxShufflePartitions: Int = 200000

  /** Largest estimated plan size ScaleOps.maybeBroadcast will still hint for
    * broadcast. A broadcast build is materialized on the driver and every
    * executor; 256 MB is a small fraction of a typical 8–32 GB executor heap
    * while covering every legitimately-small dimension/refine side. */
  val BroadcastMaxBytes: Long = 256L << 20

  /** Largest estimated input for which the declared single-task-sort forms
    * (global ntile, few-valued-partition running sums, single-buffer
    * percentiles, per-key count windows) are acceptable. Past ~1 GiB one
    * sort task becomes the whole job's critical path, so the size routers
    * (ScaleOps.routeBySize) switch to their scale forms past it;
    * ScaleOps.persistIfBig reads it too. */
  val OneTaskSortMaxBytes: Long = 1L << 30

  /** Recommended `spark.sql.shuffle.partitions` for a job shuffling
    * `shuffleBytes`, never below total cores (every core gets work) and
    * never above the scheduler ceiling. AQE coalesces downward at runtime,
    * so erring high is safe — this sets the pre-AQE upper bound. */
  def shufflePartitions(shuffleBytes: Long, totalCores: Int): Int = {
    val bySize = math.ceil(shuffleBytes.toDouble / TargetShufflePartitionBytes).toLong
    math.min(math.max(bySize, totalCores.toLong), MaxShufflePartitions.toLong).toInt
  }

  /** The conf map a 100 TB deployment applies on top of defaults.
    * `inputBytes` = expected scan volume; `shuffleSelectivity` = fraction
    * of it that reaches the widest shuffle (post filter/pushdown/partial
    * aggregation — measure, don't guess; 1.0 is the safe default). */
  def forScale(inputBytes: Long, totalCores: Int,
               shuffleSelectivity: Double = 1.0): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" ->
      shufflePartitions((inputBytes * shuffleSelectivity).toLong, totalCores).toString,
    // Scan-side split size: default 128 MB is right for columnar parquet;
    // pinned explicitly so layout changes don't silently alter parallelism.
    "spark.sql.files.maxPartitionBytes" -> (128L << 20).toString,
    // AQE owns runtime re-planning: partition coalescing, skew-join
    // splitting, broadcast demotion.
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true")
}
