package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Cluster-scale rewrites of operators whose naive form has a scale-killer
  * plan (VERDICT r1 §plan-audit). Each rewrite is exercised by
  * ScaleOpsSpec, which asserts agreement with the naive/declared form —
  * "designed for 100 TB" demonstrated in code, not comments.
  */
object ScaleOps {

  /** Catalyst's size estimate for a frame (file sizes for scans, propagated
    * through the optimized plan). Cheap — no job runs. The routing signal
    * for exact-vs-scale form selection and broadcast gating below. */
  def estimatedBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Apply a broadcast hint ONLY when the plan's estimated size fits the
    * budget — an unconditional `broadcast()` on a corpus-derived frame is a
    * silent executor OOM at 100 TB. Above the budget the hint is omitted and
    * the join falls back to a co-partitioned shuffle join (AQE still
    * broadcast-converts at runtime if the ACTUAL size turns out small). */
  def maybeBroadcast(df: DataFrame, maxBytes: Long = graft.Conf.BroadcastMaxBytes): DataFrame =
    if (estimatedBytes(df) <= BigInt(maxBytes)) broadcast(df) else df

  /** Broadcast a small DERIVED table (per-key counts, thresholds) gated on
    * its SOURCE's size estimate: post-aggregation estimates are unreliable
    * (Catalyst can't size a distinct-key count), so the gate is the source
    * corpus at a quarter-budget safety factor. Above the gate the hint is
    * omitted and the join stays co-partitioned. One rule for every
    * join-back site, so the safety factor can't drift per copy. */
  def broadcastIfSourceSmall(df: DataFrame, source: DataFrame,
                             maxBytes: Long = graft.Conf.BroadcastMaxBytes / 4): DataFrame =
    if (estimatedBytes(source) <= BigInt(maxBytes)) broadcast(df) else df

  /** The SIZE-ROUTER convention shared by the routed queries (ntile,
    * median, weighted median, winsorize, RFM, tfidf, boilerplate, AUC):
    * the declared one-task form while `gate`'s Catalyst estimate fits a
    * single sort task, the scale rewrite past it. Route forms are
    * bit-identical (ScaleOpsSpec), so routing never changes results — only
    * the plan shape. Each router states its crossover from one probe
    * (2026-10: one JVM per run, 4 CPUs, 4 shuffle partitions, noop-forced,
    * median of 3 after a warm-up; the scale form's time over the window
    * form's in the same JVM, median over ten JVM runs at sf0.01 and at
    * sf0.1). A key whose scale form is within 0.25 of its window form at
    * sf0.01 and no slower at sf0.1 runs the scale form alone
    * (q_window_range, q_sample_quota, q_pack_sequences). */
  def routeBySize(gate: DataFrame, maxOneTaskBytes: Long)
                 (below: => DataFrame)(above: => DataFrame): DataFrame =
    if (estimatedBytes(gate) <= BigInt(maxOneTaskBytes)) below else above

  /** Registry of frames persisted inside query plans. A query function
    * returns a LAZY DataFrame, so the operator that persisted a shared
    * intermediate can never unpersist it itself — the caller's action
    * hasn't run yet. Without a release hook, a long-lived session running
    * many queries (exactly what Verify/Bench/tests do) accumulates cached
    * corpus derivatives until the ContextCleaner happens to collect them.
    * Harness mains and specs call `releaseTracked()` between queries. */
  private val trackedPersists =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Persist (MEMORY_AND_DISK — spills instead of OOMing) and register for
    * `releaseTracked`. All operator-internal persists go through here.
    *
    * The registry assumes the one-query-at-a-time harness (Verify/Bench/
    * specs drain between queries): a session running queries CONCURRENTLY
    * would let one query's drain unpersist another's in-flight cache
    * (correctness-safe — Spark recomputes — but a perf cliff), and a
    * session that never drains holds strong references until it does. */
  def trackedPersist(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    trackedPersists.add(p)
    p
  }

  /** Run independent Spark ACTIONS concurrently and return their results in
    * input order (spark_optimization_guide §2.6: the scheduler runs several
    * jobs at once; actions are only sequential because driver code calls
    * them sequentially — overlapping lets one job's tasks back-fill
    * executors idled by another's tail). Callers must pass thunks that are
    * genuinely independent: no ordering requirement, no shared mutable
    * state, and any shared persisted frame materialized BEFORE the fork so
    * the threads hit the cache instead of racing to compute it. Exceptions
    * rethrow the original cause. Wall-clock only — results are identical to
    * running the thunks in order. */
  def inParallel[A](thunks: Seq[() => A]): Seq[A] =
    if (thunks.sizeIs <= 1) thunks.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
      try {
        val futs = thunks.map { t =>
          pool.submit(new java.util.concurrent.Callable[A] {
            override def call(): A = t()
          })
        }
        futs.map { f =>
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException => throw e.getCause
          }
        }
      } finally pool.shutdown()
    }

  /** Two-action heterogeneous [[inParallel]]. */
  def inParallel2[A, B](fa: () => A, fb: () => B): (A, B) = {
    val r = inParallel[Any](Seq(fa, fb))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  /** Three-action heterogeneous [[inParallel]]. */
  def inParallel3[A, B, C](fa: () => A, fb: () => B, fc: () => C): (A, B, C) = {
    val r = inParallel[Any](Seq(fa, fb, fc))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C])
  }

  /** Unpersist every registered frame (non-blocking). Safe to call while
    * other queries are planning: unpersist only marks the cache entry; an
    * in-flight plan that still references the frame recomputes it. */
  def releaseTracked(): Unit = {
    var df = trackedPersists.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = trackedPersists.poll()
    }
  }

  /** Persist a shared intermediate ONLY when recomputing it would be
    * expensive — gated on the estimated size of the SOURCE feeding the
    * derivation (`gate`), not the derivative itself. DataFrame reuse
    * duplicates logical subtrees (per-branch column pruning defeats
    * ReusedExchange), so a twice-consumed derivation either recomputes or
    * persists. Under the gate, recomputing a derivation of a small input
    * is cheaper than a cache round-trip (measured: persisting langid's
    * gram counts at sf0.1 cost ~0.5 s MORE than the duplicated explode);
    * above it — a corpus-sized scan + shuffle at 100 TB — the cache write
    * of the compact derivative wins by orders of magnitude. */
  def persistIfBig(df: DataFrame, gate: DataFrame,
                   gateBytes: Long = graft.Conf.OneTaskSortMaxBytes): DataFrame =
    if (estimatedBytes(gate) > BigInt(gateBytes)) trackedPersist(df) else df

  /** Compute-parallelism floor for SMALL inputs feeding heavy per-row work
    * (native kernels, n-gram explosion, signature passes). A sub-split-size
    * table arrives as ONE scan task — Spark splits files by
    * `maxPartitionBytes`, and a single parquet row group never splits — so
    * the whole kernel stage above it runs single-threaded (measured: the
    * 0.6 MB documents table serialized every text pipeline at sf0.1). When
    * the input is that small, redistributing it costs ~nothing: repartition
    * to the session's default parallelism. Above the threshold this is a
    * NO-OP — file splits already parallelize, and a full repartition of a
    * big table would itself be the scale-killer. */
  def parallelizeSmall(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val oneSplit = spark.sessionState.conf.filesMaxPartitionBytes
    if (estimatedBytes(df) <= BigInt(oneSplit))
      df.repartition(spark.sparkContext.defaultParallelism)
    else df
  }

  /** EXACT grouped running totals without a one-task window: the one
    * primitive under every scale form below. It has the MapReduce shape
    * with a combiner: per-split partials, a driver prefix over them, then
    * one pass that applies the offsets.
    *
    * For every row and every `(name, value)` in `sums` it appends `name`,
    * the sum of `value` over the rows of the row's group up to and
    * including it in `order` — what `sum(value) OVER (PARTITION BY group
    * ORDER BY order ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)`
    * gives. With `peers = m > 0` it also appends `name_before`: the same sum
    * over the rows of the group that sort strictly before the row on the
    * first m order columns. Rows tied on those columns are one peer run,
    * so `name_before` of a count is `rank() - 1` over them.
    *
    * The returned frame is lazy: building it runs no job. Its plan is one
    * [[PrefixScan]] node (planned by [[PrefixScanStrategy]], which this
    * attaches to the frame's session) over:
    *  1. One range exchange on (group ++ order), sorted within partitions.
    *     It takes one partition per input split (the input's Catalyst
    *     estimate over `spark.sql.files.maxPartitionBytes`, the signal
    *     [[parallelizeSmall]] reads), up to the session's shuffle partition
    *     count. That estimate is the source scans' file bytes carried
    *     through the plan, not the rows this scan sorts: an aggregated
    *     input is sized by its pre-aggregation bytes, and an exploded one
    *     is undercounted (q_events_rfm's three stacked metrics, about 3×).
    *     Under one split, one task sorts every group, where a window
    *     partitioned by a few groups sorts them in parallel
    *     (q_agg_weighted_median's three flags at sf0.1). The sampled
    *     bounds only balance the partitions; exactness never depends on
    *     them. Equal full keys land in one partition, so only a group or a
    *     peer run can span partitions.
    *  2. When the exchange is wider than one partition, one job over its
    *     output returns each partition's boundary partials: its first and
    *     last key and the sums of its last group's rows, all of them and
    *     those before its last peer run. The driver folds them, in
    *     partition order, into each partition's carry.
    *  3. One map over the same output adds the carries.
    *
    * Both run inside the caller's query, when it runs. An input that fits
    * one split takes one range partition: Spark's range partitioner takes
    * no sample for it and there is no carry, so the scan is one shuffle,
    * one sort and one map, the window form's shape, and an aggregate or a
    * sort above it adds no exchange. Sums are exact: integral values sum as
    * Long, and decimals as Spark Decimal of the window form's result type
    * (precision + 10, capped at 38). An overflow fails with the SQL sum's
    * ARITHMETIC_OVERFLOW. Null values are skipped, as SQL sum skips them,
    * and a run of nulls alone is null. Null group keys form one group.
    * Output types equal the window form's. A key column may not be an
    * integer literal: a sort reads one as a column position. */
  def prefixScan(df: DataFrame, group: Seq[Column], order: Seq[Column],
                 sums: Seq[(String, Column)], peers: Int = 0): DataFrame = {
    require(peers >= 0 && peers <= order.size, s"peers must be in 0..${order.size}")
    val spark = df.sparkSession
    val sumTypes = df.select(sums.map(_._2): _*).schema.map(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType => LongType
      case d: DecimalType => DecimalType(math.min(d.precision + 10, 38), d.scale)
      case t => throw new IllegalArgumentException(
        s"prefixScan sums integral or decimal values, not $t")
    })
    val values = df.select(sums.zip(sumTypes).map { case ((_, c), t) => c.cast(t) }: _*)
      .queryExecution.analyzed.expressions.map {
        case a: Alias => a.child
        case e => e
      }
    val split = BigInt(spark.sessionState.conf.filesMaxPartitionBytes)
    val parts = ((estimatedBytes(df) + split - 1) / split)
      .min(spark.sessionState.conf.numShufflePartitions).max(1).toInt
    val sortBy = group.map(_.asc) ++ order
    val sorted = df.repartitionByRange(parts, sortBy: _*).sortWithinPartitions(sortBy: _*)
      .queryExecution.analyzed
    val keys = sorted.asInstanceOf[Sort].order.take(group.size + peers).map(_.child)
    def attrs(suffix: String) = sums.map(_._1).zip(sumTypes).map { case (n, t) =>
      AttributeReference(n + suffix, t)() }
    PrefixScanStrategy.attach(spark)
    ColumnBridge.frame(spark, PrefixScan(keys, group.size, values,
      attrs("") ++ (if (peers > 0) attrs("_before") else Nil), sorted))
  }

  /** EXACT global row_number / rank WITHOUT a one-task whole-table window:
    * a [[prefixScan]] count over (value DESC, tiebreaks) with the value as
    * the peer key. Appends `__pos` (row_number over `value DESC,
    * tiebreaks`), `__rnk` (rank over `value DESC` alone — one more than the
    * rows of strictly greater value, which a value tie spanning range
    * partitions takes from the carry) and `__n` (total rows, a one-row
    * count joined back). Requires non-null `value`; positions are longs. */
  def globalRanksDesc(df: DataFrame, value: Column, tiebreaks: Seq[Column]): DataFrame =
    prefixScan(df, Nil, value.desc +: tiebreaks, Seq("__pos" -> lit(1L)), peers = 1)
      .withColumn("__rnk", coalesce(col("__pos_before"), lit(0L)) + 1L)
      .drop("__pos_before")
      .crossJoin(broadcast(df.agg(count(lit(1)).as("__n"))))

  /** EXACT grouped interpolated percentiles WITHOUT a per-group
    * whole-distribution aggregation buffer.
    *
    * Spark's exact `percentile(v, p)` accumulates a value→count map of the
    * ENTIRE group inside one aggregation buffer — O(distinct v) memory in a
    * single task per group, an executor OOM at 100 TB. This form computes
    * the identical interpolated quantiles with bounded-memory passes:
    *
    *  1. the distinct-value histogram (g, v, c) — one (g, v) shuffle; every
    *     later pass touches only its rows;
    *  2. a [[prefixScan]] of c over (g; v): a distinct value covers the
    *     1-based positions (cum − c, cum] of its group's sorted multiset,
    *     and the group's size n is its last cum;
    *  3. each quantile's two bracketing positions (k = ⌊p·(n−1)⌋ + 1 and
    *     k+1, Spark's own 0-based-position formula) pick their covering
    *     values, interpolated x₁ + frac·(x₂ − x₁).
    *
    * Returns one row per group: (g, __n, q_0 … q_{ps.size-1}), quantiles in
    * `ps` order, un-rounded (callers own output rounding). Requires
    * non-null `v`. ScaleOpsSpec asserts bit-equality with `percentile`.
    */
  def groupedQuantilesExact(df: DataFrame, part: Column, v: Column,
                            ps: Seq[Double]): DataFrame = {
    val dist = df.select(part.as("g"), v.as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
    val pos = prefixScan(dist, Seq(col("g")), Seq(col("v")), Seq("__cum" -> col("c")))
    val gn = pos.groupBy(col("g")).agg(max(col("__cum")).as("__n"))
    // Bracketing ranks per (group, quantile): Spark's Percentile formula —
    // 0-based position p·(n−1), lower index ⌊·⌋, interpolation fraction the
    // remainder — converted to 1-based multiset positions k1, k2.
    val ranks = gn.select(col("g"), col("__n"), explode(array(
        ps.zipWithIndex.map { case (p, i) =>
          struct(lit(i).as("pi"), lit(p).as("p")) }: _*)).as("__q"))
      .select(col("g"), col("__n"), col("__q.pi").as("__pi"),
        (col("__q.p") * (col("__n") - 1L).cast("double")).as("__pos0"))
      .withColumn("__k1", floor(col("__pos0")).cast("long") + 1L)
      .withColumn("__frac", col("__pos0") - floor(col("__pos0")))
      .withColumn("__k2", least(col("__k1") + 1L, col("__n")))
      .select(col("g"), col("__n"), col("__pi"), col("__frac"),
        col("__k1"), col("__k2"))
    // A distinct value covers positions (cum − c, cum]; pick the coverers
    // of k1 and k2 (possibly the same row) and interpolate.
    def covers(k: Column): Column =
      k > col("__cum") - col("c") && k <= col("__cum")
    val hits = pos.join(ranks, Seq("g"))
      .filter(covers(col("__k1")) || covers(col("__k2")))
      .groupBy(col("g"), col("__n"), col("__pi"), col("__frac"))
      .agg(
        max(when(covers(col("__k1")), col("v"))).as("__x1"),
        max(when(covers(col("__k2")), col("v"))).as("__x2"))
      .withColumn("__qv",
        col("__x1") + col("__frac") * (col("__x2") - col("__x1")))
    val qCols = ps.indices.map(i =>
      max(when(col("__pi") === i, col("__qv"))).as(s"q_$i"))
    hits.groupBy(col("g"), col("__n")).agg(qCols.head, qCols.tail: _*)
  }

  /** EXACT per-group running (prefix) sums WITHOUT sorting each whole
    * group in one task: `sum(value) OVER (PARTITION BY part ORDER BY ord
    * ROWS UNBOUNDED PRECEDING)` as a [[prefixScan]]. The window sorts every
    * group in one task — with few groups (fixed shard counts, a handful of
    * tenants) each task owns ~n/groups rows, the scale killer the routers
    * exist for. Requires `ord` unique within its group (ties would make ANY
    * running sum order-ambiguous); a null group key is one group, as the
    * window form treats it. Appends `__run`. */
  def groupedPrefixSum(df: DataFrame, part: Column, ord: Column, value: Column): DataFrame =
    prefixScan(df, Seq(part), Seq(ord), Seq("__run" -> value))

  /** Value-range frame aggregation WITHOUT sorting giant partitions.
    *
    * `sum(x) OVER (PARTITION BY p ORDER BY v RANGE BETWEEN w PRECEDING AND
    * w FOLLOWING)` sorts each partition in one task — a skew hazard when p
    * has few values. The scale form is EXACT PREFIX-DIFFERENCE over the
    * DISTINCT values of v:
    *
    *   band(v₀) = F(v₀ + w) − F(v₀ − w − 1),
    *   F(x) = (count, exact-decimal sum of `x`) over all rows with v ≤ x
    *
    * so each row's band costs two prefix lookups, not a scan of its band
    * members. Work is Θ(distinct values):
    *  1. per-(p, v) partials (count + exact decimal sum) — the anchors;
    *  2. two probes per distinct v₀, at v₀ + w and v₀ − w − 1, carrying
    *     nothing;
    *  3. one [[prefixScan]] over anchors ∪ probes per p, ordered by
    *     (point, anchor first): a probe's running sum is F(point), since an
    *     anchor at the probe's own point sorts before it (v ≤ x is
    *     inclusive);
    *  4. per-value bands join back to the input rows (duplicates of
    *     (p, v) keep one output row each, as the window form emits).
    *
    * Exactness: all sums stay DECIMAL(38,10) partials until one final
    * dsum-style round, and decimal subtraction is exact, so the difference
    * of prefixes is bit-identical to the window form's framed dsumOver
    * (asserted in ScaleOpsSpec). Requires integral `v` (the RANGE frame
    * key; ±w bounds and the −1 predecessor step are integer arithmetic).
    *
    * Returns one row per input row of `keys ++ (p, v, n_band, band_sum)`.
    */
  def rangeBandAgg(df: DataFrame, part: Column, v: Column, x: Column,
                   width: Long, keys: Seq[Column], scale: Int = 2): DataFrame = {
    val dec = "decimal(38,10)"
    val rows = df.select(keys :+ part.as("p") :+ v.as("v") :+ x.as("x"): _*)
    def point(pt: Column, anchor: Boolean, side: Int, c: Column, s: Column) =
      struct(pt.as("pt"), lit(if (anchor) 0 else 1).as("t"), lit(side).as("side"),
        c.as("c"), s.as("s"))
    val points = rows
      .groupBy(col("p"), col("v"))
      .agg(count(lit(1)).as("c"), sum(col("x").cast(dec)).as("s"))
      .select(col("p"), col("v").as("v0"), explode(array(
        point(col("v"), anchor = true, -1, col("c"), col("s")),
        point(col("v") + width, anchor = false, 1, lit(0L), lit(0).cast(dec)),
        point(col("v") - width - 1, anchor = false, 0, lit(0L), lit(0).cast(dec))))
        .as("e"))
      .select(col("p"), col("v0"), col("e.*"))
    val resolved = prefixScan(points, Seq(col("p")), Seq(col("pt"), col("t")),
        Seq("qc" -> col("c"), "qs" -> col("s")))
      .filter(col("t") === 1)

    // Band per distinct value = upper prefix − lower prefix; finish the
    // decimal exactly like Det.dsum (round → scaled long → one double
    // division) so the bits match the window form's dsumOver. `scale`
    // MUST equal the dsumOver scale of the window form this replaces
    // (default 2 — the price convention; events values use 6).
    val band = resolved.groupBy(col("p"), col("v0"))
      .agg(
        (max(when(col("side") === 1, col("qc")))
          - max(when(col("side") === 0, col("qc")))).as("n_band"),
        (max(when(col("side") === 1, col("qs")))
          - max(when(col("side") === 0, col("qs")))).as("bdec"))
      .select(col("p"), col("v0").as("v"), col("n_band"), {
        val p10 = math.pow(10, scale)
        ((round(col("bdec"), scale) * lit(p10.toLong)).cast("long").cast("double")
          / lit(p10)).as("band_sum")
      })

    // One output row per INPUT row (duplicate (p, v) rows each match
    // their shared band row).
    rows.drop("x").join(band, Seq("p", "v"))
  }
}
