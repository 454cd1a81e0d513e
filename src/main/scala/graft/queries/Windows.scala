package graft.queries

import graft.{Conf, Tables}
import graft.functions.Det.dsumOver
import graft.operators.ScaleOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function contract — SURVEY.md §2.6.
  *
  * Every window's ORDER BY carries a unique-key tiebreak so row_number/ntile
  * are well-defined; rank/dense_rank windows are value-ordered so ties rank
  * identically in any engine. Windowed float sums go through the exact
  * decimal path (Det.dsumOver) because window aggregation engines differ in
  * partial-sum order (SURVEY.md §2.9).
  *
  * Scale posture: all per-entity windows partition by a key (customer/user),
  * so at 100 TB each partition is small and the single shuffle hash-
  * distributes evenly. The few-valued range frame (q_window_range) runs as
  * an exact prefix difference on ScaleOps' prefix scan, with no window at
  * all. The one whole-table window, q_window_ntile, is ROUTED: below
  * Conf.OneTaskSortMaxBytes (Catalyst size estimate — no job runs) the
  * declared single-task-sort window form executes; above it the plan
  * switches to exact global ranks on the prefix scan, so the 100 TB story
  * is self-executing, not a comment for the caller to read.
  */
object Windows {

  type Q = (SparkSession, String) => DataFrame

  /** Top-3 orders per customer: row_number (unique-tiebroken) alongside
    * rank/dense_rank (value-ordered, tie-aware) — the reference's P3
    * per-group top-k shape. */
  val qWindowRank: Q = (s, dir) => {
    val wUnique = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val wValue = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc)
    Tables.orders(s, dir)
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(wUnique).cast("long").as("rn"),
        rank().over(wValue).cast("long").as("rnk"),
        dense_rank().over(wValue).cast("long").as("drnk"))
      .filter(col("rn") <= 3)
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Running revenue per customer in orderdate order (cumulative frame). */
  val qWindowRunning: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        dsumOver(col("o_totalprice"), w).as("running_spend"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  /** Inter-event gaps per user: lag/lead + partition-wide first/last.
    * Gap kept as integer microseconds — no float at all. */
  val qWindowLag: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, dir)
      .select(
        col("event_id"), col("user_id"), col("ts"),
        (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))).as("gap_us"),
        (unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts"))).as("next_us"),
        first(col("event_id")).over(wAll).as("first_event"),
        last(col("event_id")).over(wAll).as("last_event"))
      .orderBy("event_id")
  }

  // ------------------------------------------------------- q_window_range

  /** Value-range frame per status: sum/count of orders priced within
    * ±5000, over integer cents (integer band edges are engine-portable: no
    * double boundary comparisons). Computed as an EXACT prefix difference
    * (ScaleOps.rangeBandAgg): each distinct price's band is
    * F(v + 500000) − F(v − 500001), both read off one prefix scan per
    * status over the distinct prices and their probe points, so no task
    * sorts a whole status (the declared `rangeBetween` window sorts a third
    * of the table per task). The same rows and values as that window,
    * which ScaleOpsSpec keeps as the equality reference. */
  val qWindowRange: Q = (s, dir) => {
    val orders = Tables.orders(s, dir)
      .withColumn("price_cents", round(col("o_totalprice") * 100).cast("long"))
    ScaleOps.rangeBandAgg(orders,
        part = col("o_orderstatus"), v = col("price_cents"), x = col("o_totalprice"),
        width = 500000L, keys = Seq(col("o_orderkey")))
      .select(col("p").as("o_orderstatus"), col("o_orderkey"),
        col("v").as("price_cents"), col("n_band"), col("band_sum").as("band_spend"))
      .orderBy(col("o_orderstatus"), col("price_cents"), col("o_orderkey"))
  }

  // ------------------------------------------------- q_window_ntile (routed)

  /** Declared form — quartile bucket + percent_rank of customers by acctbal
    * via global (unpartitioned) windows: every row through ONE sort task. */
  private[graft] val ntileWindowForm: Q = (s, dir) => {
    val w = Window.orderBy(col("c_acctbal").desc, col("c_custkey"))
    val wValue = Window.orderBy(col("c_acctbal").desc)
    Tables.customer(s, dir)
      .select(
        col("c_custkey"), col("c_acctbal"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(wValue), 6).as("pct_rank"))
      .orderBy("c_custkey")
  }

  /** Scale form — EXACT, no global sort: ScaleOps.globalRanksDesc gives the
    * global position (__pos, tiebroken by c_custkey), value rank (__rnk) and
    * total count (__n) from one prefix scan over a range exchange, which
    * reads customer once; then
    *   ntile(k)  = the positional split SQL defines (first n%k buckets get
    *               ⌈n/k⌉ rows, the rest ⌊n/k⌋ — computed from __pos alone);
    *   pct_rank  = (rank-1)/(n-1), the definition of percent_rank.
    * Both reproduce the window form bit-for-bit (the same IEEE division,
    * the same integer bucketing), so the router is free to pick either. */
  private[graft] val ntileScaleForm: Q = (s, dir) => {
    val k = 4
    val ranked = ScaleOps.globalRanksDesc(
      Tables.customer(s, dir).select(col("c_custkey"), col("c_acctbal")),
      col("c_acctbal"), Seq(col("c_custkey")))
    // Positional ntile. q = __n div k rows per small bucket, r = __n % k
    // buckets get one extra. The ELSE branch only evaluates when q >= 1
    // (CASE is lazy); greatest() is belt-and-braces against ANSI div-by-0.
    val quartile = expr(
      s"""CASE WHEN __pos <= (__n % $k) * (__n div $k + 1)
               THEN (__pos - 1) div (__n div $k + 1) + 1
               ELSE (__n % $k) + (__pos - (__n % $k) * (__n div $k + 1) - 1)
                      div greatest(__n div $k, 1) + 1
          END""")
    val pctRank = when(col("__n") === 1L, lit(0.0))
      .otherwise(round((col("__rnk") - 1L).cast("double") /
        (col("__n") - 1L).cast("double"), 6))
    ranked.select(
        col("c_custkey"), col("c_acctbal"),
        quartile.cast("long").as("quartile"),
        pctRank.as("pct_rank"))
      .orderBy("c_custkey")
  }

  /** Size-routed q_window_ntile: the declared window form while the
    * input's Catalyst estimate fits a single sort task, the exact ScaleOps
    * rewrite past it. Both forms produce identical rows, so routing never
    * changes results, only the plan shape. Crossover
    * ([[graft.operators.ScaleOps.routeBySize]]'s probe, ten runs): the scale
    * form takes 1.52× the window form's time at sf0.01 (1.39–1.59) and
    * 1.46× at sf0.1 (1.36–1.46, slower in 10 of 10; the customer table is
    * tiny, so the scan's fixed costs, its carry job among them, are most of
    * its time), and it did not cross below 0.44 GiB in the r11 soak
    * (SCALE.md), so the router stays. */
  def ntileRouted(maxOneTaskBytes: Long = Conf.OneTaskSortMaxBytes): Q = (s, dir) =>
    ScaleOps.routeBySize(Tables.customer(s, dir), maxOneTaskBytes)(
      ntileWindowForm(s, dir))(ntileScaleForm(s, dir))

  val qWindowNtile: Q = ntileRouted()

  /** ROLLING EXACT DISTINCT COUNT — trailing-7-day distinct users per
    * event_type, the DAU/WAU-style metric no built-in window can express
    * (COUNT(DISTINCT) OVER a range frame is unsupported in Spark AND
    * non-scalable as specified: the frame would re-deduplicate the raw rows
    * at every window position). The scalable decomposition:
    *   1. ONE corpus pass dedupes to (event_type, day, user) — the only
    *      shuffle that touches raw events;
    *   2. each deduped row is exploded to the ≤7 window positions it
    *      contributes to (a ×7 blowup of the ALREADY-DEDUPED set, bounded
    *      by types × days × users — never of the corpus);
    *   3. a distinct-count per (event_type, window-end day), restricted to
    *      days the type actually has (broadcast of the tiny present-days
    *      set, so windows never report for absent days).
    * At 100 TB step 1 is the whole cost; steps 2–3 run on the derivative.
    * The same shape yields any trailing-k distinct metric by changing the
    * explode width. */
  val qWindowDistinct: Q = (s, dir) => {
    val d = Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val present = d.select(col("event_type").as("p_type"), col("day").as("p_day")).distinct()
    d.select(col("event_type"), col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("wday"))
      .join(broadcast(present),
        col("event_type") === col("p_type") && col("wday") === col("p_day"))
      .groupBy(col("event_type"), date_format(col("wday"), "yyyy-MM-dd").as("day"))
      .agg(countDistinct(col("user_id")).as("u7d"))
      .orderBy("event_type", "day")
  }

  /** TIME-DECAYED AGGREGATE (r16) — the feature-store "decayed engagement
    * score" every recommendation/ranking pipeline materializes (recency-
    * weighted activity with half-life semantics): per user, the sum of
    * event values weighted by 0.5^(Δt / 6h), Δt measured from the USER'S
    * OWN most recent event — so the score is a pure function of the
    * user's history, shift-invariant, and incrementally maintainable
    * (advance the anchor by d: multiply the whole score by 0.5^(d/6h) and
    * add the new events — the property that makes decayed features
    * cheap to refresh at serving time).
    *
    * One shuffle by user: the anchor (max ts) is a window max over the
    * same partition the aggregate groups on, so EnsureRequirements adds
    * no second exchange. Determinism: Δt is an exact integer micros
    * difference; the division and pow are fixed IEEE ops on identical
    * inputs; each contribution rounds to 6 dp and sums on the exact
    * decimal path. */
  val qWindowDecay: Q = (s, dir) => {
    val wU = Window.partitionBy(col("user_id"))
    val dtUs = unix_micros(max(col("ts")).over(wU)) - unix_micros(col("ts"))
    val contrib = round(
      pow(lit(0.5), dtUs.cast("double") / (6.0 * 3600.0 * 1000000.0)) *
        col("value"), 6)
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("value"))
      .withColumn("contrib", contrib)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts"),
        dsumOver0(col("contrib")))
      .orderBy("user_id")
  }

  // dsum for the decay aggregate (Windows imports only dsumOver; the
  // grouped variant lives in Det).
  private def dsumOver0(c: org.apache.spark.sql.Column) =
    graft.functions.Det.dsum(c, 6).as("decay_score")

  /** ROLLING MEDIAN (r16) — the robust smoother monitoring/trading
    * pipelines run where a rolling MEAN would chase outliers (median
    * filter over the last 10 readings per entity): per user, ordered by
    * the (ts, event_id) total order, the DISCRETE median of `value` over
    * ROWS 9 PRECEDING..CURRENT. Discrete (lower-median, element
    * ⌈n/2⌉ of the sorted frame = DuckDB `quantile_disc(0.5)`) — never
    * interpolated: picking an existing double involves zero float
    * arithmetic, so engines agree bit-for-bit where an (a+b)/2
    * interpolation could differ in rounding from DuckDB's
    * lower + (upper−lower)/2.
    *
    * Scale shape: ONE shuffle by user (hash-even at any corpus size); the
    * frame is a 10-row constant, so per-row state is O(1) — the
    * collect+sort inside the frame touches ≤10 doubles regardless of
    * history length, the property that keeps a median filter viable at
    * 100 TB where an unbounded-frame percentile would buffer whole
    * partitions. */
  val qWindowMedian: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-9, Window.currentRow)
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("__frame", collect_list(col("value")).over(w))
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        element_at(array_sort(col("__frame")),
          ((size(col("__frame")) + 1) / 2).cast("int")).as("roll_median"))
      .orderBy("user_id", "ts", "event_id")
  }

  /** PERCENT_RANK + CUME_DIST (r16) — the relative-standing pair
    * completing the ranking-function family (rank/dense_rank ✓, ntile ✓,
    * row_number ✓): each event's value percentile within ITS USER'S
    * history. The (value, event_id) ordering tuple is unique, so rank
    * ties are impossible and both statistics are exact integer ratios —
    * (rank−1)/(n−1) and rank/n — identical across engines after one
    * rounded double division each.
    *
    * Scale shape: partitioned by user (hash-even at any corpus size) —
    * per-entity relative standing, NOT the low-cardinality whole-table
    * percentile (that shape is q_window_ntile's and rides its router). */
  val qWindowCume: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("value"))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cume", round(cume_dist().over(w), 6))
      .orderBy("user_id", "event_id")
  }

  val queries: Map[String, Q] = Map(
    "q_window_decay" -> qWindowDecay,
    "q_window_median" -> qWindowMedian,
    "q_window_cume" -> qWindowCume,
    "q_window_rank" -> qWindowRank,
    "q_window_running" -> qWindowRunning,
    "q_window_lag" -> qWindowLag,
    "q_window_range" -> qWindowRange,
    "q_window_ntile" -> qWindowNtile,
    "q_window_distinct" -> qWindowDistinct)
}
