package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.util.MathUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, InternalFrames}
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
    * median, weighted median, winsorize, RFM, tfidf, boilerplate, quota,
    * AUC): the declared one-task form while `gate`'s Catalyst estimate fits
    * a single sort task, the scale rewrite past it. Route forms are
    * bit-identical (ScaleOpsSpec), so routing never changes results — only
    * the plan shape. Each router states its crossover from one probe
    * (2026-10: one JVM, 4 CPUs, noop-forced, median of 3 after a warm-up;
    * the scale form's time over the window form's, median over four JVM
    * runs, or ten with the interquartile range for q_text_tfidf and the
    * five other keys within 0.25 at sf0.01).
    * A key whose scale form is within 0.25 of its window form at sf0.01
    * and no slower at sf0.1 runs the scale form alone (q_window_range). */
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

  /** What [[prefixScan]] returns: the input rows with their running sums
    * appended, and each sum's total over all rows as a Long or a
    * java.math.BigDecimal, null when there is no value. The totals are
    * folded on the driver from the carry job's partials; a one-partition
    * scan runs no carry job, so it runs that job when `totals` is first
    * read. */
  final class PrefixScan(val frame: DataFrame, totalsOf: () => IndexedSeq[Any]) {
    lazy val totals: IndexedSeq[Any] = totalsOf()
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
    *  2. One job reads the shuffle output and returns each partition's
    *     boundary partials: its first and last key and the sums of its last
    *     group's rows, all of them and those before its last peer run. The
    *     driver folds them, in partition order, into each partition's carry.
    *  3. One map over the same shuffle output adds the carries. It reads
    *     the output through `queryExecution.toRdd`, so the shuffle is not
    *     run again.
    *
    * An input that fits one split takes one range partition: Spark's
    * range partitioner takes no sample for it, and its carry is empty, so
    * step 2 does not run and the scan is one shuffle, one sort and one
    * map, the window form's shape. Steps 1 and 2 run when this is called;
    * the returned frame's plan is the map of step 3. Sums are exact:
    * integral values sum as Long, and decimals as Spark Decimal of the
    * window form's result type (precision + 10, capped at 38). An overflow
    * fails with the SQL sum's ARITHMETIC_OVERFLOW. Null values are skipped,
    * as SQL sum skips them, and a run of nulls alone is null. Null group
    * keys form one group. Output types equal the window form's. */
  def prefixScan(df: DataFrame, group: Seq[Column], order: Seq[Column],
                 sums: Seq[(String, Column)], peers: Int = 0): PrefixScan = {
    require(peers >= 0 && peers <= order.size, s"peers must be in 0..${order.size}")
    val spark = df.sparkSession
    // Key columns without their direction, and each key's sort column by
    // name (group keys ascending, order keys as given).
    val keys = group.map(c => (c, (n: String) => col(n).asc)) ++ order.map { c =>
      val (key, asc, nullsFirst) = ColumnBridge.sortKey(c)
      (key, (n: String) => (asc, nullsFirst) match {
        case (true, true) => col(n).asc_nulls_first
        case (true, false) => col(n).asc_nulls_last
        case (false, true) => col(n).desc_nulls_first
        case (false, false) => col(n).desc_nulls_last
      })
    }
    val sumTypes: IndexedSeq[DataType] =
      df.select(sums.map(_._2): _*).schema.map(_.dataType match {
        case ByteType | ShortType | IntegerType | LongType => LongType
        case d: DecimalType => DecimalType(math.min(d.precision + 10, 38), d.scale)
        case t => throw new IllegalArgumentException(
          s"prefixScan sums integral or decimal values, not $t")
      }).toIndexedSeq
    val kNames = keys.indices.map(i => s"__px_k$i")
    val vNames = sums.indices.map(i => s"__px_v$i")
    val base = df.select(col("*") +:
      (keys.zip(kNames).map { case ((c, _), n) => c.as(n) } ++
        sums.zip(vNames).zip(sumTypes).map { case (((_, c), n), t) => c.cast(t).as(n) }): _*)
    val width = df.columns.length
    val keyFields = base.schema.fields.slice(width, width + group.size + peers)
    val spec = ScanSpec(StructType(keyFields), group.size,
      width until width + keyFields.length,
      width + keys.size until width + keys.size + sums.size, sumTypes)
    val sortBy = keys.zip(kNames).map { case ((_, byName), n) => byName(n) }
    val split = BigInt(spark.sessionState.conf.filesMaxPartitionBytes)
    val parts = ((estimatedBytes(df) + split - 1) / split)
      .min(spark.sessionState.conf.numShufflePartitions).max(1).toInt
    val rows = base
      .repartitionByRange(parts, sortBy: _*)
      .sortWithinPartitions(sortBy: _*)
      .queryExecution.toRdd

    // Step 2: the boundary partials, then the carries in partition order.
    val none = new Array[Any](sums.size)
    lazy val bounds = rows.mapPartitions { it =>
      val s = new Scanner(spec, none, none, totals = true)
      var first: InternalRow = null
      it.foreach { r => s.step(r); if (first == null) first = s.key.copy() }
      Iterator(Option(first).map(f => Boundary(f, s.key.copy(), s.run, s.before, s.all)))
    }.collect()
    val carries = new Array[(Array[Any], Array[Any])](parts)
    var last: Option[(InternalRow, Array[Any], Array[Any])] = None
    if (parts > 1)
      for ((b, p) <- bounds.zipWithIndex; Boundary(first, end, lastRun, lastBefore, _) <- b) {
        val (run, before) = last match {
          case Some((k, r, bf)) if spec.sameGroup.equiv(k, first) =>
            (r, if (spec.sameKey.equiv(k, first)) bf else r)
          case _ => (none, none)
        }
        carries(p) = (run, before)
        val oneGroup = spec.sameGroup.equiv(first, end)
        last = Some((end,
          if (oneGroup) spec.plus(run, lastRun) else lastRun,
          if (spec.sameKey.equiv(first, end)) before
          else if (oneGroup) spec.plus(run, lastBefore) else lastBefore))
      }

    // Step 3: the running sums with the carries applied.
    val applied = rows.mapPartitionsWithIndex[InternalRow] { (p, it) =>
      val (run, before) = Option(carries(p)).getOrElse((none, none))
      val s = new Scanner(spec, run, before, totals = false)
      it.map { r =>
        s.step(r)
        new JoinedRow(r, new GenericInternalRow(
          if (peers > 0) s.run ++ s.before else s.run.clone()))
      }
    }
    val outFields = sums.map(_._1).zip(sumTypes).map { case (n, t) => StructField(n, t) } ++
      (if (peers > 0) sums.map(_._1).zip(sumTypes)
        .map { case (n, t) => StructField(s"${n}_before", t) } else Nil)
    new PrefixScan(
      InternalFrames.create(spark, applied, StructType(base.schema.fields ++ outFields))
        .drop(kNames ++ vNames: _*),
      () => bounds.flatten.foldLeft(none)((t, b) => spec.plus(t, b.all)).toIndexedSeq.map {
        case d: Decimal => d.toJavaBigDecimal
        case x => x
      })
  }

  /** A non-empty partition's partials for [[prefixScan]]'s carry: its first
    * and last key, and its scan state after the last row — the sums of the
    * last group's rows, of those before the last peer run, and of all rows
    * (each scanned from an empty carry). */
  private final case class Boundary(first: InternalRow, last: InternalRow,
      run: Array[Any], before: Array[Any], all: Array[Any])

  /** Where [[prefixScan]]'s scan finds its key (group ++ peer columns) and
    * sum columns in a row, and how it compares keys and adds sums. */
  private final case class ScanSpec(keys: StructType, nGroup: Int,
      keyAt: IndexedSeq[Int], sumAt: IndexedSeq[Int], sumTypes: IndexedSeq[DataType]) {
    @transient lazy val sameGroup: Ordering[InternalRow] =
      LazilyGeneratedOrdering.forSchema(StructType(keys.take(nGroup)))
    @transient lazy val sameKey: Ordering[InternalRow] =
      LazilyGeneratedOrdering.forSchema(keys)

    def keyOf(): UnsafeProjection = UnsafeProjection.create(
      keyAt.zip(keys).map { case (i, f) => BoundReference(i, f.dataType, nullable = true) })

    def read(r: InternalRow, i: Int): Any =
      if (r.isNullAt(sumAt(i))) null
      else sumTypes(i) match {
        case d: DecimalType => r.getDecimal(sumAt(i), d.precision, d.scale)
        case _ => r.getLong(sumAt(i))
      }

    /** Sum `a + b` of one column, exact; null is the empty sum. */
    def add(i: Int, a: Any, b: Any): Any =
      if (a == null) b else if (b == null) a else sumTypes(i) match {
        case d: DecimalType =>
          graft.functions.Det.addExact(a.asInstanceOf[Decimal], b.asInstanceOf[Decimal], d)
        case _ => MathUtils.addExact(a.asInstanceOf[Long], b.asInstanceOf[Long])
      }

    def plus(a: Array[Any], b: Array[Any]): Array[Any] =
      Array.tabulate[Any](a.length)(i => add(i, a(i), b(i)))
  }

  /** One partition's scan in (group ++ order) order, from a carry: `run`
    * holds the sums through the current row, `before` those before its
    * peer run, `all` (when `totals`) those of every row scanned. */
  private final class Scanner(spec: ScanSpec, runIn: Array[Any], beforeIn: Array[Any],
                              totals: Boolean) {
    // Two projections used in turn, so the previous key stays valid
    // without a copy per row.
    private val proj = Array.fill(2)(spec.keyOf())
    private var turn = 0
    var key: InternalRow = null
    var run: Array[Any] = runIn.clone()
    var before: Array[Any] = beforeIn.clone()
    val all = new Array[Any](runIn.length)

    def step(r: InternalRow): Unit = {
      turn ^= 1
      val k = proj(turn)(r)
      if (key != null) {
        if (!spec.sameGroup.equiv(key, k)) {
          run = new Array[Any](run.length)
          before = new Array[Any](run.length)
        } else if (!spec.sameKey.equiv(key, k)) before = run.clone()
      }
      key = k
      var i = 0
      while (i < run.length) {
        val v = spec.read(r, i)
        run(i) = spec.add(i, run(i), v)
        if (totals) all(i) = spec.add(i, all(i), v)
        i += 1
      }
    }
  }

  /** EXACT global row_number / rank WITHOUT a one-task whole-table window:
    * a [[prefixScan]] count over (value DESC, tiebreaks) with the value as
    * the peer key. Appends `__pos` (row_number over `value DESC,
    * tiebreaks`), `__rnk` (rank over `value DESC` alone — one more than the
    * rows of strictly greater value, which a value tie spanning range
    * partitions takes from the carry) and `__n` (total rows, from the
    * scan's totals). Requires non-null `value`; positions are longs. */
  def globalRanksDesc(df: DataFrame, value: Column, tiebreaks: Seq[Column]): DataFrame = {
    val s = prefixScan(df, Nil, value.desc +: tiebreaks, Seq("__pos" -> lit(1L)), peers = 1)
    s.frame
      .withColumn("__rnk", coalesce(col("__pos_before"), lit(0L)) + 1L)
      .withColumn("__n", lit(Option(s.totals.head).getOrElse(0L)))
      .drop("__pos_before")
  }

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
    val pos = prefixScan(dist, Seq(col("g")), Seq(col("v")), Seq("__cum" -> col("c"))).frame
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
    prefixScan(df, Seq(part), Seq(ord), Seq("__run" -> value)).frame

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
        Seq("qc" -> col("c"), "qs" -> col("s"))).frame
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
