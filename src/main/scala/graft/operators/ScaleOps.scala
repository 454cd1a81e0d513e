package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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

  /** The SIZE-ROUTER convention shared by every routed query (median,
    * range-frame, ntile, tfidf, boilerplate, quota): the declared one-task
    * form while `gate`'s Catalyst estimate fits a single sort task, the
    * scale rewrite past it. Route forms are bit-identical (ScaleOpsSpec),
    * so routing never changes results — only the plan shape. */
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

  /** EXACT global row_number / rank WITHOUT a one-task whole-table window.
    *
    * `row_number() OVER (ORDER BY v DESC, tiebreaks)` puts every row in ONE
    * window partition — the global-sort scale-killer. This form is exact,
    * not approximate: (1) split the value domain into `buckets` ranges via
    * approx_percentile edges (the SPLIT POINTS may be approximate — that
    * only skews bucket populations, never correctness); (2) rank inside
    * each bucket with an ordinary partitioned window (parallel, each task
    * sorts ~n/buckets rows); (3) cumulative per-bucket counts — a
    * ≤`buckets`-row frame, so its global window is O(buckets) — give each
    * bucket its global offset. Ties share a bucket (assignment compares the
    * value only), so `offset + local rank` IS the global rank.
    *
    * Appends `__pos` (row_number over `v DESC, tiebreaks`), `__rnk` (rank
    * over `v DESC` alone) and `__n` (total rows) to `df`. Requires non-null
    * `value`. Degenerate all-equal `value` collapses to one bucket — the
    * sort the caller asked for in that case. Integer `div`/`%` downstream
    * stay exact to 2^63; positions are longs throughout.
    */
  def globalRanksDesc(df: DataFrame, value: Column, tiebreaks: Seq[Column],
                      buckets: Int = 256, accuracy: Int = 10000): DataFrame = {
    val ps = (1 until buckets).map(i => i.toDouble / buckets)
    // Split points are BALANCE-ONLY (bit-equality specs pin exactness), so
    // they are estimated from a 1-in-16 CONTENT-ADDRESSED sample — xxhash64
    // of the ordering tuple: deterministic, RNG-free, partitioning- and
    // cluster-size-independent (the repo's content-addressed-sampling
    // convention). The full-input approx-percentile sketch insert was a
    // dominant cost of this rewrite in the r11 soak. An empty sample (tiny
    // input) degrades to one bucket — the sort the caller asked for there.
    val edges = df
      .filter(pmod(xxhash64(value +: tiebreaks: _*), lit(16)) === 0)
      .agg(percentile_approx(value, array(ps.map(lit): _*), lit(accuracy))
        .as("__edges"))
    // 0-based bucket, 0 = highest values (desc convention): count how many
    // top-down edges the value falls below; enough buckets that each holds
    // ~n/buckets rows.
    // ONE array expression (counts edges above the value), not a chained
    // when()-sum that grows the codegen'd method linearly with `buckets`
    // and risks the 64KB/interpreted-fallback cliff (ADVICE r10 pattern).
    // Null-safe: an empty sample leaves null edges → bucket 0 everywhere.
    val bucketExpr =
      coalesce(size(filter(col("__edges"), e => value < e)), lit(0))
    val bucketed = df.crossJoin(broadcast(edges))
      .withColumn("__bkt", bucketExpr).drop("__edges")
    val wPos = Window.partitionBy(col("__bkt")).orderBy(value.desc +: tiebreaks: _*)
    val wVal = Window.partitionBy(col("__bkt")).orderBy(value.desc)
    val local = bucketed
      .withColumn("__lpos", row_number().over(wPos).cast("long"))
      .withColumn("__lrnk", rank().over(wVal).cast("long"))
    // Offsets: rows in higher-value buckets. ≤`buckets` rows, so the
    // unpartitioned windows here are O(buckets), not O(table).
    val counts = bucketed.groupBy(col("__bkt")).agg(count(lit(1)).as("__cnt"))
    val wOff = Window.orderBy(col("__bkt")).rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = counts
      .withColumn("__off", coalesce(sum(col("__cnt")).over(wOff), lit(0L)))
      .withColumn("__n", sum(col("__cnt")).over(wAll))
      .select(col("__bkt").as("__obkt"), col("__off"), col("__n"))
    local.join(broadcast(offsets), col("__bkt") === col("__obkt"))
      .withColumn("__pos", col("__off") + col("__lpos"))
      .withColumn("__rnk", col("__off") + col("__lrnk"))
      .drop("__bkt", "__obkt", "__off", "__cnt", "__lpos", "__lrnk")
  }

  /** EXACT grouped interpolated percentiles WITHOUT a per-group
    * whole-distribution aggregation buffer.
    *
    * Spark's exact `percentile(v, p)` accumulates a value→count map of the
    * ENTIRE group inside one aggregation buffer — O(distinct v) memory in a
    * single task per group, an executor OOM at 100 TB. This form computes
    * the identical interpolated quantiles with bounded-memory passes (the
    * globalRanksDesc construction applied to percentile):
    *
    *  1. distinct-value histogram — one (g, v) shuffle; every later pass
    *     touches only (group, distinct-value, count) rows;
    *  2. per-group approx_percentile SPLIT POINTS (tiny mergeable sketch;
    *     approximation skews bucket POPULATIONS, never the result) assign
    *     each distinct value a bucket; per-(g, bucket) populations and
    *     cumulative offsets are ≤`buckets` rows per group, so their window
    *     is O(buckets);
    *  3. a within-bucket running count gives every distinct value its exact
    *     1-based position range [cum − c + 1, cum] in the group's sorted
    *     multiset — each task sorts only ~distinct/buckets values;
    *  4. each quantile's two bracketing positions (k = ⌊p·(n−1)⌋ + 1 and
    *     k+1, Spark's own 0-based-position formula) are matched to their
    *     covering values by a broadcast join of the tiny rank table and
    *     interpolated x₁ + frac·(x₂ − x₁).
    *
    * Returns one row per group: (g, __n, q_0 … q_{ps.size-1}), quantiles in
    * `ps` order, un-rounded (callers own output rounding). Requires
    * non-null `v`. ScaleOpsSpec asserts bit-equality with `percentile`.
    */
  /** Broadcast-budget charge per GROUP for the bucketed rewrites' helper
    * frames at the default 256 buckets: the widest helper is the per-group
    * offsets table (≤256 rows × ~24 B) plus the 255-double edge array —
    * ~8 KiB with row overhead, rounded up. Scaled linearly for non-default
    * bucket counts at the gate. */
  val TinyPerGroupBytes = 8L * 1024L

  /** The GROUP-COUNT broadcast gate (r13) shared by the bucketed rewrites
    * (groupedQuantilesExact, groupedPrefixSum, LlmOps.quotaSample): their
    * helper frames (split-point edges, bucket offsets, rank/threshold
    * tables) are structurally bounded PER GROUP, but Catalyst cannot see
    * that — post-agg/window size estimates stay corpus-sized, so an
    * estimate-gated hint never fires and every helper join sort-merges on
    * the group key. With FEW groups that is the skew catastrophe (the
    * corpus sorts in ~one task per group — the r13 soak measured the
    * median form at 7.7× and the pack form at 6.9× their window twins
    * from exactly this); with MANY groups hash joins distribute fine and
    * broadcast would be the executor-memory hazard. The duality makes ONE
    * scalar gate both directions: count the groups (approx, one
    * driver-side job over `df` — the P2-loop pattern), broadcast the
    * helpers only when few. `perGroupBytes` bounds the widest helper's
    * per-group weight. */
  def perGroupBroadcastHint(df: DataFrame, part: Column,
                            perGroupBytes: Long = TinyPerGroupBytes): DataFrame => DataFrame = {
    // +1 covers a possible all-null group (approx_count_distinct ignores
    // nulls; null-safe callers keep it as a real group).
    val nGroups = df.agg(approx_count_distinct(part)).head().getLong(0) + 1L
    if (nGroups * perGroupBytes <= graft.Conf.BroadcastMaxBytes / 4)
      (helper: DataFrame) => broadcast(helper)
    else identity
  }

  def groupedQuantilesExact(df: DataFrame, part: Column, v: Column,
                            ps: Seq[Double], buckets: Int = 256,
                            accuracy: Int = 10000,
                            sampleMod: Int = 64): DataFrame = {
    val vals = df.select(part.as("g"), v.as("v"))
    // The distinct histogram is the COMPACT DERIVATIVE every later pass
    // reads (edges, bucket assignment, per-bucket counts, positions) — four
    // consumers. Persist it: recomputing it means re-scanning and
    // re-shuffling the full input per consumer (the r13 soak measured the
    // unpersisted form at 3× the persisted one).
    val dist = trackedPersist(
      vals.groupBy(col("g"), col("v")).agg(count(lit(1)).as("c")))
    // Group-count broadcast gate for the helper frames (edges: 1
    // row/group; offsets: ≤`buckets` rows/group; rank table: |ps|
    // rows/group) — see perGroupBroadcastHint. Counted on the PERSISTED
    // histogram, so the scalar job reads the cache.
    val hintTiny = perGroupBroadcastHint(dist, col("g"),
      TinyPerGroupBytes * buckets.toLong / 256L)
    val edgePs = (1 until buckets).map(i => i.toDouble / buckets)
    // Split points come from the DISTINCT frame, not the raw rows: the
    // within-bucket windows below sort DIST rows, so balancing distinct
    // counts per bucket is exactly right — and the approx-percentile
    // sketch inserts one row per distinct value instead of per input row
    // (the dominant cost of this rewrite at 75M rows in the r11 soak).
    // Further (r13): split points only BALANCE buckets — ANY values give a
    // correct result — so the sketch reads a deterministic 1/sampleMod
    // hash-sample of the distinct values (xxhash64 on v: content-keyed, no
    // RNG, no partition sensitivity). That pass was still the dominant
    // cost at the r12 soak (the router's scale form ran 1.25× the window
    // form it exists to replace); sampling cuts its input ~64× while the
    // exact position/interpolation passes below are untouched.
    val sampled = dist.filter(pmod(xxhash64(col("v")), lit(sampleMod)) === 0)
    val edges = sampled.groupBy(col("g")).agg(
      percentile_approx(col("v"), array(edgePs.map(lit): _*), lit(accuracy))
        .as("__edges"))
    // Ascending 0-based bucket: how many split points the value clears
    // (ties compare on the value only, so equal values share a bucket) —
    // one array expression, same rationale as globalRanksDesc's. A group
    // whose every distinct value sampled away has NO edges row (the
    // left join below yields null): all its values land in bucket 0 — one
    // task sorts that group whole, which is the right plan for a group
    // small enough to vanish under a 1/64 sample.
    val bucketExpr = when(col("__edges").isNull, lit(0))
      .otherwise(size(filter(col("__edges"), e => col("v") >= e)))
    // One ~buckets-double row PER GROUP — broadcast under the exact
    // nGroups gate above, co-partitioned shuffle join past it.
    val bucketed = dist.join(hintTiny(edges), Seq("g"), "left_outer")
      .withColumn("__bkt", bucketExpr).drop("__edges")
    val bc = bucketed.groupBy(col("g"), col("__bkt")).agg(sum(col("c")).as("__bc"))
    val wOff = Window.partitionBy(col("g")).orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val boff = bc.withColumn("__off", coalesce(sum(col("__bc")).over(wOff), lit(0L)))
      .select(col("g"), col("__bkt"), col("__off"))
    val gn = bc.groupBy(col("g")).agg(sum(col("__bc")).as("__n"))
    val wb = Window.partitionBy(col("g"), col("__bkt")).orderBy(col("v"))
    val pos = bucketed.join(hintTiny(boff), Seq("g", "__bkt"))
      .withColumn("__cum", col("__off") + sum(col("c")).over(wb))
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
    val hits = pos.join(hintTiny(ranks), Seq("g"))
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
    * group in one task — globalRanksDesc's construction applied to SUM.
    *
    * `sum(x) OVER (PARTITION BY g ORDER BY o ROWS UNBOUNDED PRECEDING)`
    * sorts every group in one task: with few groups (fixed shard counts,
    * a handful of tenants) each task owns ~n/groups rows — the scale
    * killer the Windows routers exist for. Exact two-pass form:
    * (1) split each group's `o` domain into `buckets` ranges via per-group
    * approx_percentile edges (approximate SPLIT POINTS skew bucket
    * populations, never correctness); (2) local running sums inside
    * (group, bucket) — each task sorts ~n/(groups·buckets) rows;
    * (3) per-(group, bucket) totals prefix-summed over the ≤`buckets`-row
    * bucket table give each bucket its offset; offset + local = exact
    * prefix. Requires `o` unique within its group (ties would make ANY
    * running sum order-ambiguous) and non-null; the GROUP key may be null —
    * the equi-joins are null-safe (`<=>`), so a null group stays one
    * partition exactly as the window form treats it. Appends `__run`.
    * Edge/offset side tables broadcast under the same exact GROUP-COUNT
    * gate as groupedQuantilesExact (r13): Catalyst cannot size these
    * post-agg helpers (its estimates stay corpus-sized, so the previous
    * estimate-gated hint never fired and the helper joins sort-merged on
    * `part` — with few groups that sorts the corpus in ~one task per
    * group, the exact skew this rewrite exists to avoid; measured 73 s vs
    * the window form's 11 s on the r11 pack soak). Few groups is
    * simultaneously when the helpers are provably tiny and when the
    * co-partitioned fallback skews, so one approx-distinct scalar gates
    * both directions; at extreme group cardinality the joins stay
    * co-partitioned shuffle joins — the right plan there. */
  def groupedPrefixSum(df: DataFrame, part: Column, ord: Column, value: Column,
                       buckets: Int = 256, accuracy: Int = 10000): DataFrame = {
    val ps = (1 until buckets).map(i => i.toDouble / buckets)
    val hintTiny = perGroupBroadcastHint(df, part,
      TinyPerGroupBytes * buckets.toLong / 256L)
    // Split points from a 1-in-16 content-addressed sample (balance-only —
    // the globalRanksDesc rationale; xxhash64 of (group, ord) is
    // deterministic and partitioning-independent). The join below is LEFT
    // and the bucket null-safe: a small group the sample missed lands
    // whole in bucket 0 — exactly the single sort the window form would
    // run for it.
    val edges = df
      .filter(pmod(xxhash64(part, ord), lit(16)) === 0)
      .groupBy(part.as("__g"))
      .agg(percentile_approx(ord, array(ps.map(lit): _*), lit(accuracy)).as("__edges"))
    val bucketExpr =
      coalesce(size(filter(col("__edges"), e => ord >= e)), lit(0))
    val bucketed = df.join(hintTiny(edges), part <=> col("__g"), "left")
      .withColumn("__bkt", bucketExpr).drop("__edges", "__g")
    val wLoc = Window.partitionBy(part, col("__bkt")).orderBy(ord)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = bucketed.withColumn("__lsum", sum(value).over(wLoc))
    val wOff = Window.partitionBy(col("__g2")).orderBy(col("__b2"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed
      .groupBy(part.as("__g2"), col("__bkt").as("__b2"))
      .agg(sum(value).as("__bsum"))
      .withColumn("__off", coalesce(sum(col("__bsum")).over(wOff), lit(0L)))
      .select(col("__g2"), col("__b2"), col("__off"))
    local.join(hintTiny(offsets),
        part <=> col("__g2") && col("__bkt") === col("__b2"))
      .withColumn("__run", col("__off") + col("__lsum"))
      .drop("__g2", "__b2", "__off", "__bkt", "__lsum")
  }

  /** Value-range frame aggregation WITHOUT sorting giant partitions.
    *
    * `sum(x) OVER (PARTITION BY p ORDER BY v RANGE BETWEEN w PRECEDING AND
    * w FOLLOWING)` sorts each partition in one task — a skew hazard when p
    * has few values. The scale form is EXACT PREFIX-DIFFERENCE over the
    * DISTINCT values of v (r11 rewrite — the first bin-and-join form was
    * Θ(rows × band-population): at a fixed value domain band density grows
    * linearly with the corpus, and the r11 scale soak caught it quadratic
    * at 75M rows):
    *
    *   band(v₀) = F(v₀ + w) − F(v₀ − w − 1),
    *   F(x) = (count, exact-decimal sum of `x`) over all rows with v ≤ x
    *
    * so each row's band costs TWO prefix lookups, not a scan of its band
    * members. Work is Θ(distinct values), all hash-partitioned:
    *  1. per-(p, v) partials (count + exact decimal sum);
    *  2. running totals WITHIN width-w bins of v (windows over one bin's
    *     distinct values — ≤ w rows per task, parallel across bins);
    *  3. per-bin totals prefix-summed via [[groupedPrefixSum]] (the
    *     bucketed two-pass — the bin table itself never sorts in one
    *     task), giving every distinct value its exact global prefix;
    *  4. each probe point v₀±… resolves its predecessor's prefix by a
    *     merge-scan window inside ITS bin (anchors ∪ probes, ≤ ~3× bin
    *     population per task), falling back to a BOUNDED candidate-bin
    *     join when its bin holds no anchor at or below it — bin width
    *     equals the band width, so a probe's bin is within ±2 of its
    *     source value's (always-present) bin and the fallback chain is
    *     exhaustive by construction;
    *  5. per-value bands join back to the input rows (duplicates of
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
    // Floor-div by the band width in LONG arithmetic: `div` is Catalyst's
    // IntegralDivide, exact over the full long range. Spark's `/` would
    // promote both operands to double, and above ~2^53 the inexact quotient
    // can break bin(v+w) == bin(v)+1 — the invariant the fallback legs'
    // exhaustiveness proof rests on. Name-keyed because `div` has no
    // Column-API surface; both call sites pass plain projected columns.
    def binOf(name: String): Column =
      expr(s"(`$name` - pmod(`$name`, ${width}L)) div ${width}L")
    val rows = df.select(keys :+ part.as("p") :+ v.as("v") :+ x.as("x"): _*)

    // 1. Distinct-value partials — the whole pipeline below runs on these,
    //    never on raw rows. Persisted: consumed by the running windows, the
    //    bin table, and the probe generator.
    val dist = trackedPersist(rows
      .groupBy(col("p"), col("v"))
      .agg(count(lit(1)).as("c"), sum(col("x").cast(dec)).as("s"))
      .withColumn("bin", binOf("v")))

    // 2. Running totals within each (p, bin) — parallel across bins.
    val wIn = Window.partitionBy(col("p"), col("bin")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = dist
      .withColumn("rc", sum(col("c")).over(wIn))
      .withColumn("rs", sum(col("s")).over(wIn))

    // 3. Bin totals + bucketed prefix (groupedPrefixSum twice: counts and
    //    decimal sums — the bin table's own prefix must not single-task
    //    sort either). pc/ps = cumulative through present bins STRICTLY
    //    below; ic/is = inclusive through this bin.
    val binTot = dist.groupBy(col("p"), col("bin"))
      .agg(sum(col("c")).as("bc"), sum(col("s")).as("bs"))
    val binC = groupedPrefixSum(binTot, col("p"), col("bin"), col("bc"))
      .withColumnRenamed("__run", "icum")
    val bins = groupedPrefixSum(binC, col("p"), col("bin"), col("bs"))
      .withColumnRenamed("__run", "iscum")
      .select(col("p"), col("bin"),
        (col("icum") - col("bc")).as("pc"), (col("iscum") - col("bs")).as("ps"),
        col("icum").as("ic"), col("iscum").as("is"))
    val anchors = run.join(bins.select(col("p"), col("bin"), col("pc"), col("ps")),
        Seq("p", "bin"))
      .select(col("p"), col("bin"), col("v"),
        (col("rc") + col("pc")).as("gc"), (col("rs") + col("ps")).as("gs"))

    // 4. Probes: per distinct v₀, the band's inclusive upper prefix point
    //    (v₀ + w) and exclusive lower one (v₀ − w − 1). bin(v₀ + w) =
    //    bin(v₀) + 1 exactly (bin width == w); bin(v₀ − w − 1) ∈
    //    {bin(v₀) − 1, bin(v₀) − 2}.
    val probes = dist.select(col("p"), col("v").as("v0"), col("bin").as("b0"),
        explode(array(
          struct((col("v") + width).as("pt"), lit(1).as("side")),
          struct((col("v") - width - 1).as("pt"), lit(0).as("side")))).as("e"))
      .select(col("p"), col("v0"), col("b0"), col("e.pt").as("pt"),
        col("e.side").as("side"))
      .withColumn("bin", binOf("pt"))

    // Fallback prefix for a probe whose bin holds no anchor ≤ pt: the
    // cumulative through present bins < bin(pt). pc of the SMALLEST
    // present bin ≥ bin(pt) equals exactly that (absent bins contribute
    // nothing), and one of {bin(pt), bin(pt)+1, b0 / ic(b0)} is always
    // present — three bounded join legs, no ordered scan.
    def leg(n: String) =
      bins.select(col("p").as(s"${n}_p"), col("bin").as(s"${n}_b"),
        col("pc").as(s"${n}_pc"), col("ps").as(s"${n}_ps"),
        col("ic").as(s"${n}_ic"), col("is").as(s"${n}_is"))
    val probesF = probes
      .join(leg("f0"),
        col("p") === col("f0_p") && col("bin") === col("f0_b"), "left")
      .join(leg("f1"),
        col("p") === col("f1_p") && col("bin") + 1 === col("f1_b"), "left")
      .join(leg("f2"),
        col("p") === col("f2_p") && col("b0") === col("f2_b"), "left")
      .select(col("p"), col("bin"), col("v0"), col("pt"), col("side"),
        // Candidate order (each candidate equals the cumulative strictly
        // below bin(pt) because the bins skipped over are absent): own
        // bin's pc; for LO probes the next bin's pc, then the
        // always-present source bin's pc (covers a bin-start v0 whose two
        // lower bins are both absent); for HI probes — whose bin is
        // exactly b0 + 1 — the source bin's INCLUSIVE carry. A probe
        // below every present bin falls through to zero, the empty
        // prefix.
        coalesce(col("f0_pc"),
          when(col("bin") < col("b0"), coalesce(col("f1_pc"), col("f2_pc"))),
          when(col("bin") > col("b0"), col("f2_ic")),
          lit(0L)).as("fc"),
        coalesce(col("f0_ps"),
          when(col("bin") < col("b0"), coalesce(col("f1_ps"), col("f2_ps"))),
          when(col("bin") > col("b0"), col("f2_is")),
          lit(0).cast(dec)).as("fs"))

    // 5. Merge-scan inside each (p, bin): anchors carry their global
    //    prefix; probes take the greatest anchor at-or-below pt (anchors
    //    sort before probes on ties — v ≤ pt is inclusive), else the
    //    fallback. Each task sorts one bin's anchors + probes.
    val uA = anchors.select(col("p"), col("bin"), col("v").as("pt"),
      lit(0).as("t"), col("gc"), col("gs"),
      lit(null).cast("long").as("v0"), lit(null).cast("int").as("side"),
      lit(null).cast("long").as("fc"), lit(null).cast(dec).as("fs"))
    val uP = probesF.select(col("p"), col("bin"), col("pt"),
      lit(1).as("t"), lit(null).cast("long").as("gc"), lit(null).cast(dec).as("gs"),
      col("v0"), col("side"), col("fc"), col("fs"))
    val wScan = Window.partitionBy(col("p"), col("bin"))
      .orderBy(col("pt"), col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val resolved = uA.unionByName(uP)
      .withColumn("ac", last(col("gc"), ignoreNulls = true).over(wScan))
      .withColumn("asum", last(col("gs"), ignoreNulls = true).over(wScan))
      .filter(col("t") === 1)
      .select(col("p"), col("v0"), col("side"),
        coalesce(col("ac"), col("fc")).as("qc"),
        coalesce(col("asum"), col("fs"), lit(0).cast(dec)).as("qs"))

    // 6. Band per distinct value = upper prefix − lower prefix; finish the
    //    decimal exactly like Det.dsum (round → scaled long → one double
    //    division) so the bits match the window form's dsumOver. `scale`
    //    MUST equal the dsumOver scale of the window form this replaces
    //    (default 2 — the price convention; events values use 6).
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

    // 7. One output row per INPUT row (duplicate (p, v) rows each match
    //    their shared band row).
    rows.drop("x").join(band, Seq("p", "v"))
  }
}
