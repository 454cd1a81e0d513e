package graft

import graft.operators.ScaleOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The 100 TB rewrites must agree with the declared (naive-plan) forms —
  * and must not contain the scale-killer operator in their physical plan. */
class ScaleOpsSpec extends AnyFunSuite {
  import SparkFixture._

  test("ntile router: scale form bit-matches the window form; threshold picks the plan") {
    import graft.queries.Windows
    // Above the threshold (maxBytes = 0 forces it) the router must emit the
    // globalRanksDesc plan — no global-sort ntile/percent_rank anywhere.
    // Under withSplitScans its scan spans several range partitions, as it
    // would above the gate, so the carries are compared too.
    val scaled = withSplitScans(Windows.ntileRouted(maxOneTaskBytes = 0L)(spark, Sf0001))
    val scaledPlan = scaled.queryExecution.executedPlan.toString
    assert(!scaledPlan.contains("ntile(4)"), s"router kept the ntile window:\n$scaledPlan")
    assert(!scaledPlan.contains("percent_rank"), "router kept the percent_rank window")
    // Below it, the declared window form runs.
    val declaredPlan = Windows.ntileRouted(maxOneTaskBytes = Long.MaxValue)(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(declaredPlan.contains("ntile(4)"), "router dropped the declared form below threshold")
    // The scale form is EXACT (positional ntile + (rnk-1)/(n-1)): row-for-row
    // equality with the declared window form, not approximate agreement.
    val exact = Windows.ntileWindowForm(spark, Sf0001).collect().toSeq
    assert(withSplitScans(scaled.collect().toSeq) == exact,
      "scale ntile form diverged from window form")
  }

  test("range router: scale form row-matches the window form; threshold picks the plan") {
    import graft.queries.Windows
    // One form: the key's plan holds no range window (the prefix scan's
    // range exchange replaces the per-status sort).
    val scaled = Windows.qWindowRange(spark, Sf0001)
    val scaledPlan = scaled.queryExecution.executedPlan.toString
    assert(!scaledPlan.contains("RangeFrame"), s"the key kept the range window:\n$scaledPlan")
    assert(!scaledPlan.contains("windowspecdefinition"), s"the key kept a window:\n$scaledPlan")
    val got = scaled.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    val exp = ScaleOpsSpec.rangeWindowForm(spark, Sf0001).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(got == exp, s"missing=${(exp -- got).take(3)} extra=${(got -- exp).take(3)}")
  }

  test("median router: bucketed two-pass bit-matches exact percentile; threshold picks the plan") {
    import graft.queries.Relational
    // Above the threshold the router must emit the groupedQuantilesExact
    // plan — no single-buffer percentile aggregate anywhere (its scan
    // across several range partitions, as above the gate).
    val scaled = withSplitScans(Relational.medianRouted(maxOneTaskBytes = 0L)(spark, Sf0001))
    val scaledPlan = scaled.queryExecution.executedPlan.toString
    assert(!scaledPlan.contains("percentile("),
      s"router kept the exact-percentile buffer:\n$scaledPlan")
    val declaredPlan = Relational.medianRouted(maxOneTaskBytes = Long.MaxValue)(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(declaredPlan.contains("percentile("),
      "router dropped the declared form below threshold")
    // The scale form is EXACT: row-for-row equality with the declared form
    // (same bracketing positions, same interpolation, same rounding).
    val exact = Relational.medianAggForm(spark, Sf0001).collect().toSeq
    assert(withSplitScans(scaled.collect().toSeq) == exact,
      "prefix-scan quantiles diverged from exact percentile")
    // And again at sf0.01 (10× the distinct values, groups across partitions).
    val scaled01 = withSplitScans(Relational.medianScaleForm(spark, Sf001).collect().toSeq)
    val exact01 = Relational.medianAggForm(spark, Sf001).collect().toSeq
    assert(scaled01 == exact01, "sf0.01 prefix-scan quantiles diverged")
  }

  test("tfidf router: scale form bit-matches the window form; threshold picks the plan") {
    import graft.queries.LlmOps
    // Above the gate (maxBytes = 0 forces it) the router must emit the
    // groupBy+join-back plan — no per-term count window (a stop-word's
    // partition would be a single-task sort at 100 TB).
    val scaled = LlmOps.tfidfRouted(maxOneTaskBytes = 0L)(spark, Sf0001)
    val scaledPlan = scaled.queryExecution.executedPlan.toString
    assert(!scaledPlan.contains("windowspecdefinition"),
      s"router kept the df count window:\n$scaledPlan")
    val declaredPlan = LlmOps.tfidfRouted(maxOneTaskBytes = Long.MaxValue)(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(declaredPlan.contains("windowspecdefinition"),
      "router dropped the declared form below threshold")
    // Integer tf/df + one shared rounded double: row-for-row equality on the
    // totally-ordered top-100 (tfidf desc, doc_id, term — unique key).
    val exact = LlmOps.tfidfWindowForm(spark, Sf0001).collect().toSeq
    assert(scaled.collect().toSeq == exact, "scale tfidf form diverged from window form")
    ScaleOps.releaseTracked()
  }

  test("boilerplate router: scale form bit-matches the window form; threshold picks the plan") {
    import graft.queries.LlmOps
    val scaled = LlmOps.boilerplateRouted(maxOneTaskBytes = 0L)(spark, Sf0001)
    val scaledPlan = scaled.queryExecution.executedPlan.toString
    assert(!scaledPlan.contains("windowspecdefinition"),
      s"router kept the seg count window:\n$scaledPlan")
    val declaredPlan = LlmOps.boilerplateRouted(maxOneTaskBytes = Long.MaxValue)(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(declaredPlan.contains("windowspecdefinition"),
      "router dropped the declared form below threshold")
    // All-integer output ordered by unique doc_id: row-for-row equality.
    val exact = LlmOps.boilerplateWindowForm(spark, Sf0001).collect().toSeq
    assert(scaled.collect().toSeq == exact, "scale boilerplate form diverged from window form")
    ScaleOps.releaseTracked()
  }

  test("quota router: bucketed-threshold scale form bit-matches the window form") {
    import graft.queries.LlmOps
    // One form: the key is the prefix-scan sample; the rank window is the
    // test-side reference. sf0.001: ~10 docs/lang < k — every language
    // passes whole; sf0.01: ~100 docs/lang — the quota binds everywhere.
    // Each scan spans several range partitions (withSplitScans).
    for (dir <- Seq(Sf0001, Sf001)) {
      val got = withSplitScans(LlmOps.qSampleQuota(spark, dir).collect().toSeq)
      val exp = ScaleOpsSpec.quotaWindowForm(spark, dir).collect().toSeq
      assert(got == exp, s"the quota sample diverged from the window form at $dir")
    }
    // Exact sample cardinality: min(k, n_lang) rows per language.
    val perLang = Tables.documents(spark, Sf001).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = LlmOps.quotaSample(Tables.documents(spark, Sf001), LlmOps.QuotaK)
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    perLang.foreach { case (lang, n) =>
      assert(sampled(lang) == math.min(LlmOps.QuotaK.toLong, n),
        s"$lang: sampled ${sampled(lang)} of $n (k=${LlmOps.QuotaK})")
    }
    ScaleOps.releaseTracked()
  }

  test("groupedQuantilesExact handles 1-row and single-value groups") {
    import spark.implicits._
    val df = Seq(("a", 10.0), ("b", 5.0), ("b", 5.0), ("b", 5.0),
      ("c", 1.0), ("c", 2.0)).toDF("g", "v").repartition(7)
    // More range partitions than histogram rows (a one-byte split lets
    // this tiny input take all 16): every group edge is a partition edge,
    // and some partitions are empty.
    val got = withShufflePartitions(16)(withMaxPartitionBytes(1) {
      graft.operators.ScaleOps
        .groupedQuantilesExact(df, col("g"), col("v"), Seq(0.5, 0.9))
        .orderBy("g")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    })
    assert(got(0) == (("a", 1L, 10.0, 10.0)))
    assert(got(1) == (("b", 3L, 5.0, 5.0)))
    // c: median of {1,2} = 1.5; p90 = 1 + 0.9*(2-1) = 1.9
    assert(got(2)._1 == "c" && got(2)._2 == 2L)
    assert(math.abs(got(2)._3 - 1.5) < 1e-12 && math.abs(got(2)._4 - 1.9) < 1e-12)
  }

  test("pack-sequences router: groupedPrefixSum bit-matches the window form; threshold picks the plan") {
    import graft.queries.LlmOps
    // One form: the key's plan holds the prefix scan and no running-sum
    // window (the scan across several range partitions); the window form
    // is the test-side reference.
    val scaled = withSplitScans(LlmOps.qPackSequences(spark, Sf0001))
    val scaledPlan = scaled.queryExecution.executedPlan.toString
    assert(!scaledPlan.contains("windowspecdefinition"),
      s"the key kept the plain window:\n$scaledPlan")
    // Exact integer running sums: row-for-row equality of the final stats.
    val got = withSplitScans(scaled.collect().map(_.toSeq).toSeq)
    val exp = ScaleOpsSpec.packWindowForm(spark, Sf0001).collect().map(_.toSeq).toSeq
    assert(got == exp, s"scale prefix-sum form diverged: got=${got.take(3)} exp=${exp.take(3)}")
  }

  test("groupedPrefixSum keeps null group keys — matches the window form row-for-row") {
    import org.apache.spark.sql.expressions.Window
    import SparkFixture.spark.implicits._
    val df = Seq(
      (Option("a"), 1L, 10L), (Option("a"), 2L, 5L), (Option("a"), 5L, 3L),
      (Option.empty[String], 1L, 7L), (Option.empty[String], 3L, 2L),
      (Option("b"), 2L, 4L)).toDF("g", "o", "x")
    val w = Window.partitionBy(col("g")).orderBy(col("o"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val exp = df.withColumn("__run", sum(col("x")).over(w))
      .collect().map(_.toSeq).toSet
    // More range partitions than rows (a one-byte split lets this tiny
    // input take all 16): the null group and each group edge sit on
    // partition edges.
    val got = withShufflePartitions(16)(withMaxPartitionBytes(1) {
      ScaleOps.groupedPrefixSum(df.repartition(7), col("g"), col("o"), col("x"))
        .select(col("g"), col("o"), col("x"), col("__run"))
        .collect().map(_.toSeq).toSet
    })
    assert(got == exp, s"missing=${(exp -- got).take(3)} extra=${(got -- exp).take(3)}")
  }

  test("operator-internal persists drain via releaseTracked — no cached RDDs survive a query") {
    ScaleOps.releaseTracked() // drain anything this registry already tracks
    // Other suites share this SparkSession and may hold their own untracked
    // caches, so assert on the delta around the query, not global emptiness.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // q_dedup_ngram persists its per-doc shingle sets (diamond-shaped reuse).
    SparkEntry.queries("q_dedup_ngram")(spark, Sf0001).count()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty,
      "expected the docSets cache to be live after the action")
    ScaleOps.releaseTracked()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"cached RDDs leaked past releaseTracked: $leaked")
  }

  test("rangeBandAgg: sparse gaps, bin-start values, duplicates == window form") {
    // Adversarial shapes for the prefix difference (r11): values at exact
    // multiples of the width, huge gaps (probes far from any anchor),
    // duplicate (p, v) rows (one output row each), and a group below every
    // other value.
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = 100L
    val rows = Seq(
      ("A", 0L, 1.0), ("A", 100L, 2.0), ("A", 100L, 3.0), ("A", 101L, 4.0),
      ("A", 199L, 5.0), ("A", 200L, 6.0), ("A", 5000L, 7.0), ("A", 5099L, 8.0),
      ("A", -300L, 9.0), ("B", 42L, 10.0), ("B", 1000000L, 11.0)
    ).zipWithIndex.map { case ((p, v, x), i) => (i.toLong, p, v, x) }
      .toDF("k", "p0", "v0", "x0")
    val win = Window.partitionBy(col("p0")).orderBy(col("v0"))
      .rangeBetween(-w, w)
    val exp = rows.select(col("k"), count(lit(1)).over(win).as("n_band"),
        graft.functions.Det.dsumOver(col("x0"), win).as("band_sum"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = withMaxPartitionBytes(1)(ScaleOps.rangeBandAgg(rows, part = col("p0"),
        v = col("v0"), x = col("x0"), width = w, keys = Seq(col("k")))
      .select(col("k"), col("n_band"), col("band_sum"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    graft.operators.ScaleOps.releaseTracked()
    assert(got == exp, s"missing=${(exp -- got).take(5)} extra=${(got -- exp).take(5)}")
  }

  test("rangeBandAgg: magnitudes above 2^53 keep exact bins (ADVICE r11)") {
    // Above ~2^53 a double cannot hold every long: probe points v ± w must
    // stay integer arithmetic. This pins values where double arithmetic
    // would round them.
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = 1000L
    val base = 1L << 60 // 1.15e18: double spacing here is 256 — / is inexact
    val rows = Seq(
      ("A", base, 1.0), ("A", base + 1, 2.0), ("A", base + 999, 3.0),
      ("A", base + 1000, 4.0), ("A", base + 2500, 5.0),
      ("A", -base, 6.0), ("A", -base + 1001, 7.0), ("B", base + 7, 8.0)
    ).zipWithIndex.map { case ((p, v, x), i) => (i.toLong, p, v, x) }
      .toDF("k", "p0", "v0", "x0")
    val win = Window.partitionBy(col("p0")).orderBy(col("v0"))
      .rangeBetween(-w, w)
    val exp = rows.select(col("k"), count(lit(1)).over(win).as("n_band"),
        graft.functions.Det.dsumOver(col("x0"), win).as("band_sum"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = withMaxPartitionBytes(1)(ScaleOps.rangeBandAgg(rows, part = col("p0"),
        v = col("v0"), x = col("x0"), width = w, keys = Seq(col("k")))
      .select(col("k"), col("n_band"), col("band_sum"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    graft.operators.ScaleOps.releaseTracked()
    assert(got == exp, s"missing=${(exp -- got).take(5)} extra=${(got -- exp).take(5)}")
  }

  test("property: rangeBandAgg == window form on seeded random value sets") {
    // Random shapes hunt edge cases the hand-picked set can't: clustered
    // values, empty stretches between clusters, values at negative
    // multiples, repeated (p, v) pairs. Seeded — failures reproduce.
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val w = 50L
    val rowGen = Gen.listOfN(120, for {
      p <- Gen.oneOf("A", "B")
      cluster <- Gen.oneOf(-400L, -100L, 0L, 49L, 50L, 777L, 5000L)
      off <- Gen.choose(-60L, 60L)
      x <- Gen.choose(-99, 99)
    } yield (p, cluster + off, x / 10.0))
    (1 to 4).foreach { i =>
      val data = rowGen.pureApply(Gen.Parameters.default, Seed(7000L + i))
        .zipWithIndex.map { case ((p, v, x), k) => (k.toLong, p, v, x) }
      val rows = data.toDF("k", "p0", "v0", "x0")
      val win = Window.partitionBy(col("p0")).orderBy(col("v0"))
        .rangeBetween(-w, w)
      val exp = rows.select(col("k"), count(lit(1)).over(win).as("n"),
          graft.functions.Det.dsumOver(col("x0"), win).as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val got = withMaxPartitionBytes(1)(ScaleOps.rangeBandAgg(rows, part = col("p0"),
          v = col("v0"), x = col("x0"), width = w, keys = Seq(col("k")))
        .select(col("k"), col("n_band"), col("band_sum"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
      graft.operators.ScaleOps.releaseTracked()
      assert(got == exp,
        s"seed ${7000 + i}: missing=${(exp -- got).take(5)} extra=${(got -- exp).take(5)}")
    }
  }

  test("rangeBandAgg == exact range-frame window (prefix-difference is exact)") {
    // The range router test runs the key as it runs in production (one
    // range partition); this one spans several, so the carries are used.
    val orders = Tables.orders(spark, Sf0001)
      .withColumn("price_cents", round(col("o_totalprice") * 100).cast("long"))
    val scaled = withSplitScans(ScaleOps.rangeBandAgg(orders,
      part = col("o_orderstatus"), v = col("price_cents"), x = col("o_totalprice"),
      width = 500000L, keys = Seq(col("o_orderkey")))
      .select(col("o_orderkey"), col("n_band"), col("band_sum")))
    val exact = ScaleOpsSpec.rangeWindowForm(spark, Sf0001)
      .select(col("o_orderkey"), col("n_band"), col("band_spend"))
    val got = withSplitScans(
      scaled.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    val exp = exact.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == exp,
      s"missing=${(exp -- got).take(3)} extra=${(got -- exp).take(3)}")
  }
}

/** The declared window forms of the keys that now run one prefix-scan
  * form: each key's bit-equality reference, next to the DuckDB oracle. */
object ScaleOpsSpec {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.expressions.Window

  /** q_window_range as the value-range frame per status it computes:
    * sum/count of orders priced within ±5000, over integer cents. Each
    * status sorts in one task. */
  val rangeWindowForm: (SparkSession, String) => DataFrame = (s, dir) => {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("price_cents"))
      .rangeBetween(-500000L, 500000L)
    Tables.orders(s, dir)
      .withColumn("price_cents", cents)
      .select(
        col("o_orderstatus"), col("o_orderkey"), col("price_cents"),
        count(lit(1)).over(w).as("n_band"),
        graft.functions.Det.dsumOver(col("o_totalprice"), w).as("band_spend"))
      .orderBy(col("o_orderstatus"), col("price_cents"), col("o_orderkey"))
  }

  /** q_sample_quota as a per-language rank window over the content-hash
    * order. Each language sorts in one task. */
  val quotaWindowForm: (SparkSession, String) => DataFrame = (s, dir) => {
    import graft.queries.LlmOps
    val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    LlmOps.quotaSummary(Tables.documents(s, dir)
      .withColumn("h", md5(col("text")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= LlmOps.QuotaK))
  }

  /** q_pack_sequences with its running totals as a window per shard. Each
    * shard sorts in one task. */
  val packWindowForm: (SparkSession, String) => DataFrame = (s, dir) => {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    graft.queries.LlmOps.packStats(Tables.documents(s, dir)
      .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
        size(split(col("text"), " ")).cast("long").as("tokens"))
      .withColumn("running", sum(col("tokens")).over(w)))
  }

  /** q_ml_eval_auc with its running count as a whole-table window. One
    * task sorts every score group. */
  val aucWindowForm: (SparkSession, String) => DataFrame = (s, dir) => {
    import graft.queries.MlSuffStats
    val w = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    MlSuffStats.aucFromRuns(
      MlSuffStats.aucGroups(s, dir).withColumn("run", sum(col("n_g")).over(w)))
  }
}
