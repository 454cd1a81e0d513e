package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** SCALE-SOAK harness for the size-routed queries (SURVEY §2's router
  * convention). The routers' scale forms are bit-equality-tested against
  * their window forms at test SFs by FORCING the route parameter; this main
  * drives the remaining question — does the router flip ORGANICALLY above
  * `Conf.OneTaskSortMaxBytes`, and is the scale form actually the cheaper
  * plan there — with real data volume:
  *
  *  1. synthesizes an above-gate dataset once (sf0.1 duplicated with
  *     remapped keys and perturbed text/values, so parquet cannot
  *     dictionary-collapse the copies and every doc/order/customer stays
  *     distinct) under a content-marked soak dir;
  *  2. for each routed key, times the WINDOW form and the SCALE form over
  *     the same above-gate input and compares an order-independent
  *     checksum (count + bit_xor of xxhash64 over all columns — forms are
  *     bit-identical, so the checksums must agree exactly);
  *  3. confirms the organic route: the driving table's Catalyst estimate
  *     vs the gate, i.e. what the production `routeBySize` call sees.
  *
  * Results are recorded in SCALE.md. Usage (48g heap recommended):
  *   SPARK_DRIVER_MEM=48g sbt "runMain graft.ScaleSoak [soakDir] [srcSfDir] [keys...]"
  */
object ScaleSoak {

  type Q = (SparkSession, String) => DataFrame

  /** Duplicate `table` `copies`× with per-copy perturbation; idempotent via
    * a copies-count marker (the soak dataset is a pure function of the
    * source table and the copy count). */
  private def stage(spark: SparkSession, src: String, out: String,
                    table: String, copies: Int, recipe: String = "v1")
                   (perturb: DataFrame => DataFrame): Unit = {
    val dst = Paths.get(out, s"$table.parquet")
    val marker = Paths.get(out, s".$table.copies")
    // Marker = copies + recipe version: staged content must be a pure
    // function of the marker, so a perturbation change MUST bump `recipe`
    // or a stale staging silently serves the old columns.
    if (Files.exists(dst) && Files.exists(marker) &&
        Files.readString(marker) == s"$copies:$recipe") return
    println(s"[soak] staging $table x$copies ...")
    val t0 = System.nanoTime()
    // Repartition BEFORE the explode: the small source is one input split,
    // and an explode below a repartition would run the whole copies-fold
    // expansion on a single task (observed 3+ min/table) before any
    // shuffle. Spread the source rows first; the exploded output then
    // writes straight from 64 parallel tasks, no post-expansion shuffle.
    val df = spark.read.parquet(s"$src/$table.parquet")
      .repartition(64)
      .withColumn("__c", explode(sequence(lit(0L), lit(copies - 1L))))
    perturb(df).drop("__c")
      .write.mode("overwrite").parquet(dst.toString)
    Files.writeString(marker, s"$copies:$recipe")
    println(f"[soak] staged $table in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  /** Order-independent full-result checksum: row count + bit_xor of
    * xxhash64 over every column. Both route forms are bit-identical by
    * contract, so (n, xor) must match exactly. */
  private def checksum(df: DataFrame): (Long, Long) = {
    val row = df.select(xxhash64(df.columns.map(col).toSeq: _*).as("h"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("x")).head()
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  /** Per-form wall budget. A window form that cannot finish inside it IS
    * the router's reason to exist (observed: the since-deleted range
    * window form's three 25M-row single-task frames ran >30 min) — record
    * the blow-through and move on instead of stalling the whole soak
    * behind one degenerate plan. */
  private val BudgetSec = 420L

  private def timed(spark: SparkSession, label: String,
                    df: => DataFrame): (Double, Option[(Long, Long)]) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val group = s"soak-$label-${System.nanoTime()}"
    val t0 = System.nanoTime()
    val fut = Future {
      spark.sparkContext.setJobGroup(group, label, interruptOnCancel = true)
      try checksum(df)
      finally spark.sparkContext.clearJobGroup()
    }
    val res =
      try Some(Await.result(fut, BudgetSec.seconds))
      catch {
        case _: java.util.concurrent.TimeoutException =>
          spark.sparkContext.cancelJobGroup(group)
          // cancelJobGroup is async: wait (bounded) for the cancelled
          // thread to actually unwind before releasing caches and timing
          // the next form — otherwise it can re-register tracked persists
          // and hold executor slots into the next measurement.
          try Await.ready(fut, 60.seconds)
          catch { case _: java.util.concurrent.TimeoutException => () }
          None
      }
    val dt = (System.nanoTime() - t0) / 1e9
    graft.operators.ScaleOps.releaseTracked()
    res match {
      case Some(sum) =>
        println(f"[soak]   $label%-8s ${dt}%8.1f s  rows=${sum._1} xor=${sum._2}")
      case None =>
        println(f"[soak]   $label%-8s EXCEEDED the ${BudgetSec}s budget — cancelled")
    }
    (dt, res)
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft-scale-soak")
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val wanted = args.drop(2).toSet
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(out))
    Tables.prep(spark)

    // Perturbations keep every row distinct (defeats parquet dictionary
    // collapse of pure copies) without changing any distribution shape the
    // routed plans care about: text gets a per-copy suffix token (planted
    // boilerplate header/footer segments stay corpus-hot), keys get a
    // per-copy offset, prices/balances a 64-step cent perturbation.
    // Each table stages only if a wanted key reads it — a bloom-only run
    // must not pay the (slow) documents expansion.
    val docKeys = Set("quota", "tfidf", "boilerplate", "pack",
      "perplexity", "collocations")
    val evKeys = Set("sessionize", "funnel", "retention", "anomaly", "outliers",
      "windistinct", "rfm")
    val ordKeys = Set("median", "bloom", "winsor")
    val liKeys = Set("wmedian")
    val custKeys = Set("ntile", "bloom")
    def needs(ks: Set[String]) = wanted.isEmpty || (wanted & ks).nonEmpty
    if (needs(docKeys))
      stage(spark, src, out, "documents", copies = 2500)(df => df
        .withColumn("doc_id", col("doc_id") + col("__c") * lit(100000000L))
        .withColumn("text", concat(col("text"), lit(" c"), col("__c").cast("string")))
        .withColumn("n_chars", length(col("text"))))
    // dup-spans gets its OWN smaller documents staging (200 copies = 1M
    // docs): the per-copy suffix perturbation leaves interior 8-grams
    // shared across all 200 copies, so essentially EVERY gram is
    // duplicated — the worst-case dup density for the covered-position
    // explode, which is exactly the claim to soak (output stays linear in
    // corpus tokens, never quadratic in duplicate count).
    // The gbdt round gets its own 60M-row lineitem staging (quantity kept
    // INTEGRAL — the round-1 exact-integer histogram path is part of the
    // claim; prices get the cent perturbation, which only moves bin
    // populations).
    if (wanted.isEmpty || wanted("gbdt")) {
      Files.createDirectories(Paths.get(out, "gbdt"))
      stage(spark, src, s"$out/gbdt", "lineitem", copies = 100)(df => df
        .withColumn("l_orderkey", col("l_orderkey") + col("__c") * lit(100000000L))
        .withColumn("l_extendedprice",
          round(col("l_extendedprice") + (col("__c") % 64).cast("double") * 0.01, 2)))
    }
    // bm25 gets its OWN staging with copy-PREFIXED words: the base corpus
    // draws from a ~50-word vocabulary where EVERY term appears in >10% of
    // docs — all stopwords, so exact BM25 degenerately touches every
    // posting of every query term (measured: the suffix-perturbed 12.5M-doc
    // staging exceeds the 420 s budget in the 62M-group score aggregate and
    // corpus-sized dl/df joins; no pruning can rescue a corpus with no
    // selective terms). Prefixing every word with its copy id gives the
    // realistic Zipf-ish shape retrieval assumes — vocabulary 125k terms,
    // query-term postings = the 5000-doc copy-0 cohort — so the soak
    // measures the actual claim: the INDEX pass is corpus-linear, the
    // QUERY work is postings-bounded and independent of corpus size.
    if (wanted.isEmpty || wanted("bm25")) {
      Files.createDirectories(Paths.get(out, "bm25"))
      stage(spark, src, s"$out/bm25", "documents", copies = 2500)(df => df
        .withColumn("doc_id", col("doc_id") + col("__c") * lit(100000000L))
        .withColumn("text", concat_ws(" ", expr(
          "transform(split(text, ' '), w -> concat('c', CAST(__c AS STRING), w))")))
        .withColumn("n_chars", length(col("text"))))
    }
    if (wanted.isEmpty || wanted("dupspans")) {
      Files.createDirectories(Paths.get(out, "spans"))
      stage(spark, src, s"$out/spans", "documents", copies = 200)(df => df
        .withColumn("doc_id", col("doc_id") + col("__c") * lit(100000000L))
        .withColumn("text", concat(col("text"), lit(" c"), col("__c").cast("string")))
        .withColumn("n_chars", length(col("text"))))
    }
    if (needs(ordKeys))
      // v2: o_custkey gets the same per-copy offset as the customer
      // staging, so orders copy c joins customer copy c — the realistic
      // fact→dim relationship the bloom A/B needs.
      stage(spark, src, out, "orders", copies = 500, recipe = "v2")(df => df
        .withColumn("o_orderkey", col("o_orderkey") + col("__c") * lit(100000000L))
        .withColumn("o_custkey", col("o_custkey") + col("__c") * lit(100000000L))
        .withColumn("o_totalprice",
          round(col("o_totalprice") + (col("__c") % 64).cast("double") * 0.01, 2)))
    if (needs(custKeys))
      stage(spark, src, out, "customer", copies = 5000)(df => df
        .withColumn("c_custkey", col("c_custkey") + col("__c") * lit(100000000L))
        .withColumn("c_acctbal",
          round(col("c_acctbal") + (col("__c") % 64).cast("double") * 0.01, 2)))
    // user_id offsets per copy keep PER-USER event volume constant — the
    // per-user-bounded-state claims (collect_set/collect_list/windows)
    // are exactly what a user-hot staging would no longer test. 1000
    // copies (100M events) keeps outliers' Σv² inside dsum's scale-4
    // 2^53 envelope (5e11 × 1e4 = 5e15; 2500 copies would overflow it).
    if (needs(evKeys))
      stage(spark, src, out, "events", copies = 1000)(df => df
        .withColumn("event_id", col("event_id") + col("__c") * lit(100000000L))
        .withColumn("user_id", col("user_id") + col("__c") * lit(100000000L))
        .withColumn("value",
          round(col("value") + (col("__c") % 64).cast("double") * 0.01, 2)))

    // Weighted median soaks over lineitem ×100 = 60M rows with QUANTITY
    // kept integral (the exact-decimal weight path is part of the claim);
    // prices get the cent perturbation so the distinct-price domain stays
    // corpus-sized — the regime where the scale form's prefix scan must
    // replace the 3-partition window sort.
    if (needs(liKeys))
      stage(spark, src, out, "lineitem", copies = 100)(df => df
        .withColumn("l_orderkey", col("l_orderkey") + col("__c") * lit(100000000L))
        .withColumn("l_extendedprice",
          round(col("l_extendedprice") + (col("__c") % 64).cast("double") * 0.01, 2)))

    val gate = Conf.OneTaskSortMaxBytes
    import graft.queries.{LlmOps, Relational, Windows}
    // (key, gate table THUNK, window form, scale form, organic gate for the
    // key). The gate frame is lazy: resolving it eagerly would read tables
    // a subset run never staged (a median-only run has no customer.parquet).
    val pairs: Seq[(String, () => DataFrame, Q, Q, Long)] = Seq(
      ("median", () => Tables.orders(spark, out),
        Relational.medianAggForm, Relational.medianScaleForm, gate),
      ("ntile", () => Tables.customer(spark, out),
        Windows.ntileWindowForm, Windows.ntileScaleForm, gate),
      ("tfidf", () => Tables.documents(spark, out),
        LlmOps.tfidfWindowForm, LlmOps.tfidfScaleForm, gate),
      ("boilerplate", () => Tables.documents(spark, out),
        LlmOps.boilerplateWindowForm, LlmOps.boilerplateScaleForm, gate),
      // bloom is an A/B pair, not a size-routed form: "window" = the plain
      // fact⋈dim join, "scale" = the same join behind BloomJoin.prefilter.
      // Bit-equal by construction (the probe is semantically invisible);
      // the measurement is the fact-side exchange volume. The organic-route
      // print is n/a — Long.MaxValue keeps it reading WINDOW (= plain).
      ("bloom", () => Tables.orders(spark, out),
        Relational.bloomPlainForm, Relational.bloomFilteredForm,
        Long.MaxValue),
      // r16 routed keys: weighted median (3-group corpus-sized price
      // domain — the exact regime groupedPrefixSum exists for), the
      // winsorized mean's quantile edges, and the RFM quintile edges.
      ("wmedian", () => Tables.lineitem(spark, out),
        Relational.wmedianAggForm, Relational.wmedianScaleForm, gate),
      ("winsor", () => Tables.orders(spark, out),
        Relational.winsorAggForm, Relational.winsorScaleForm, gate),
      ("rfm", () => Tables.events(spark, out),
        Relational.rfmAggForm, Relational.rfmScaleForm, gate))

    // SOLO keys — single-form (non-routed) queries whose above-gate
    // question is "does the gated-broadcast plan stay bounded and finish",
    // not a window-vs-scale A/B: timed once over the staged corpus, no
    // twin checksum (correctness stays covered by the oracle gate at test
    // SFs; the checksum here just forces full materialization).
    val solos: Seq[(String, () => DataFrame, Q)] = Seq(
      // One-form keys on the prefix scan (their window forms are test-side
      // references only).
      ("quota", () => Tables.documents(spark, out), LlmOps.qSampleQuota),
      ("pack", () => Tables.documents(spark, out), LlmOps.qPackSequences),
      ("perplexity", () => Tables.documents(spark, out), LlmOps.qTextPerplexity),
      // BM25 over its own prefixed-vocabulary staging (see the staging
      // comment above): ONE corpus explode+agg (persisted) serves the
      // dl/totals/df consumers; the query-term probe touches only the
      // query terms' postings (the copy-0 cohort), and the salted
      // two-phase rank never sorts a whole query's candidates in one task.
      ("bm25", () => spark.read.parquet(s"$out/bm25/documents.parquet"),
        (s: SparkSession, _: String) => LlmOps.qTextBm25(s, s"$out/bm25")),
      ("collocations", () => Tables.documents(spark, out), LlmOps.qTextCollocations),
      ("sessionize", () => Tables.events(spark, out), Relational.qSessionizeGap),
      ("funnel", () => Tables.events(spark, out), Relational.qFunnelSteps),
      ("retention", () => Tables.events(spark, out), Relational.qRetentionCohorts),
      ("anomaly", () => Tables.events(spark, out), Relational.qEventsAnomaly),
      ("outliers", () => Tables.events(spark, out), Relational.qStatsOutliers),
      // Rolling exact distinct at 100M events: the ×7 explode runs over
      // the DEDUPED (type, day, user) set — the claim is that the corpus
      // is shuffled once and the derivative stays proportional to the
      // distinct set, not the raw volume.
      ("windistinct", () => Tables.events(spark, out), Windows.qWindowDistinct),
      // Duplicated-span coverage over the dedicated max-dup-density
      // staging (see above) — reads $out/spans, not the 2500x corpus.
      ("dupspans", () => spark.read.parquet(s"$out/spans/documents.parquet"),
        (s: SparkSession, _: String) => LlmOps.qTextDupSpans(s, s"$out/spans")),
      // Full boosting round at lineitem x100 = 60M rows: the claim is
      // exactly two corpus passes with bounded epilogues — wall time must
      // track the two scans, not the split search.
      ("gbdt", () => spark.read.parquet(s"$out/gbdt/lineitem.parquet"),
        (s: SparkSession, _: String) =>
          graft.queries.MlSuffStats.qMlGbdtRound(s, s"$out/gbdt")))

    // A wanted key with no pair would otherwise time NOTHING and still
    // write a soak_results.json that reads as a completed A/B (ADVICE r12).
    val unknown =
      wanted -- pairs.map(_._1).toSet -- solos.map(_._1).toSet -
        "skew" - "manifest" - "chain" - "dv" - "unigram" - "bloomidx" -
        "containment"
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"ScaleSoak: no A/B pair for wanted key(s): ${unknown.mkString(",")} " +
          s"— known: ${pairs.map(_._1).mkString(",")}")

    // DEGENERATE-BUCKET soak (key "skew"): a mass-duplicate clique (4,000
    // byte-identical docs planted over the sf0.1 corpus) drives every LSH
    // band into one over-cap bucket; run the pair pipeline in the DEGRADED
    // broadcast regime (threshold -1 — the corpus-scale shape) and grade
    // the chunk-blocked self-join's two claims: the EXACT clique pair set
    // C(4000,2) emerges, and the quadratic output is spread across tasks
    // (no single task dominates the hot stage — the property the
    // pre-chunking plan lacked, because AQE's skew split triggers on
    // partition BYTES and a hot bucket's input is kilobytes while its
    // output is quadratic).
    if (wanted.isEmpty || wanted("skew")) {
      val cliqueN = 4000L
      val dst = Paths.get(out, "documents_skew.parquet")
      val marker = Paths.get(out, s".documents_skew.copies")
      if (!Files.exists(dst) || !Files.exists(marker) ||
          Files.readString(marker) != s"$cliqueN:v1") {
        println(s"[soak] staging documents_skew (clique x$cliqueN) ...")
        val bg = spark.read.parquet(s"$src/documents.parquet")
          .select(col("doc_id"), col("text"))
        val cliqueText = "mass duplicated shard payload the exact same " +
          "bytes repeated verbatim across every planted copy of this " +
          "degenerate corpus partition for the hot bucket soak"
        val clique = spark.range(cliqueN)
          .select((col("id") + 2000000000L).as("doc_id"), lit(cliqueText).as("text"))
        bg.unionByName(clique).repartition(64)
          .write.mode("overwrite").parquet(dst.toString)
        Files.writeString(marker, s"$cliqueN:v1")
      }
      val taskStats = new scala.collection.mutable.HashMap[Int, (Int, Long, Long)]
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          taskStats.synchronized {
            val (n, mx, sum) = taskStats.getOrElse(te.stageId, (0, 0L, 0L))
            val d = te.taskInfo.duration
            taskStats(te.stageId) = (n + 1, math.max(mx, d), sum + d)
          }
      }
      val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.sparkContext.addSparkListener(listener)
      try {
        val docs = spark.read.parquet(dst.toString)
        val t0 = System.nanoTime()
        val counts = graft.queries.LlmOps.minhashPairs(docs)
          .agg(count(lit(1)).as("n"),
            sum(when(col("doc_a") >= 2000000000L, 1L).otherwise(0L)).as("clique"))
          .head()
        val dt = (System.nanoTime() - t0) / 1e9
        graft.operators.ScaleOps.releaseTracked()
        val expected = cliqueN * (cliqueN - 1) / 2
        val (total, clique) = (counts.getLong(0), counts.getLong(1))
        val hot = taskStats.synchronized {
          taskStats.toSeq.maxBy(_._2._3)
        }
        val (hotStage, (hotN, hotMax, hotSum)) = hot
        println(f"[soak] skew: ${dt}%.1f s total=$total clique=$clique " +
          f"(expected $expected); hot stage $hotStage: $hotN tasks, " +
          f"max ${hotMax / 1000.0}%.1f s, sum ${hotSum / 1000.0}%.1f s, " +
          f"max/sum ${hotMax.toDouble / hotSum}%.3f")
        Files.writeString(Paths.get(out, "soak_skew.json"),
          f"""{"key":"skew","clique_n":$cliqueN,"sec":$dt%.2f,"total_pairs":$total,"clique_pairs":$clique,"expected_clique_pairs":$expected,"hot_stage_tasks":$hotN,"hot_stage_max_task_ms":$hotMax,"hot_stage_sum_task_ms":$hotSum}""" + "\n")
        if (clique != expected)
          throw new IllegalStateException(
            s"skew soak: clique pairs $clique != C($cliqueN,2) = $expected")
        if (hotN > 1 && hotMax.toDouble / hotSum > 0.5)
          throw new IllegalStateException(
            f"skew soak: one task carried ${hotMax.toDouble / hotSum}%.2f " +
              "of the hot stage — the chunk split did not spread the bucket")
      } finally {
        spark.sparkContext.removeSparkListener(listener)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      }
    }

    // CONTAINMENT prefix-prune soak (key "containment", r18 — the VERDICT
    // r17 "Done" criterion for the q_dedup_containment rework): on the
    // 12.5M-doc copy-prefixed corpus (the bm25 staging: 2500 cohorts of
    // 5000 docs, ~125k-term vocabulary — the Zipf-ish shape retrieval
    // assumes; the suffix-perturbed staging is all-stopwords and no
    // lossless prune can rescue a corpus with no selective terms), (1)
    // measure the candidate volume the θ=0.98 prefix prune admits vs the
    // unpruned Σf·(f−1) shingle-equi join the r17 implementation paid —
    // computed from the freq table, because actually RUNNING the unpruned
    // join at this scale is the point of not having it — and (2) run the
    // full adaptive top-50 end-to-end on a 500k-doc slice (100 cohorts),
    // certifying the θ=0.98 rung holds and the answer shape is the
    // planted one.
    if (wanted.isEmpty || wanted("containment")) {
      Files.createDirectories(Paths.get(out, "bm25"))
      stage(spark, src, s"$out/bm25", "documents", copies = 2500)(df => df
        .withColumn("doc_id", col("doc_id") + col("__c") * lit(100000000L))
        .withColumn("text", concat_ws(" ", expr(
          "transform(split(text, ' '), w -> concat('c', CAST(__c AS STRING), w))")))
        .withColumn("n_chars", length(col("text"))))
      val docs = spark.read.parquet(s"$out/bm25/documents.parquet")
      // Unpruned volume at the FULL 12.5M docs — exact, from the freq
      // table alone (Σ_sh f·(f−1)); actually running that join is what
      // the rework exists to avoid, and even COUNTING the pruned
      // candidates at 12.5M (≈2.8B joined rows) blows any soak budget.
      // The copy-prefixed cohorts are SHINGLE-DISJOINT by construction
      // (every bigram carries its copy's word prefix), so both volumes
      // are exactly additive across cohorts: the 100-cohort slice's
      // measured counts scale to the full corpus by exactly ×25 — stated
      // as arithmetic, not extrapolation.
      println("[soak] containment: unpruned volume at 12.5M docs ...")
      val t0 = System.nanoTime()
      val (nshFull, unprunedFull, _) = graft.queries.LlmOps
        .containmentPruneStats(docs, theta = 0.98, countCandidates = false)
      val dtFull = (System.nanoTime() - t0) / 1e9
      graft.operators.ScaleOps.releaseTracked()
      val slice = docs.filter(col("doc_id") < lit(100L * 100000000L))
      println("[soak] containment: pruned candidates on the 500k-doc slice ...")
      val t1 = System.nanoTime()
      val (nshS, unprunedS, candS) =
        graft.queries.LlmOps.containmentPruneStats(slice, theta = 0.98)
      val dtSlice = (System.nanoTime() - t1) / 1e9
      graft.operators.ScaleOps.releaseTracked()
      val cut = unprunedS.toDouble / math.max(1L, candS)
      println(f"[soak] containment: full shingles=$nshFull unpruned=$unprunedFull " +
        f"(${dtFull}%.1f s); slice shingles=$nshS unpruned=$unprunedS " +
        f"candidates=$candS cut=${cut}%.0fx (${dtSlice}%.1f s)")
      val t2 = System.nanoTime()
      val top = graft.queries.LlmOps.containmentTop50(spark, slice).collect()
      val dtQuery = (System.nanoTime() - t2) / 1e9
      graft.operators.ScaleOps.releaseTracked()
      println(f"[soak] containment: 500k-doc top-50 in ${dtQuery}%.1f s " +
        f"(top=${top.head.getDouble(4)}%.3f, 50th=${top.last.getDouble(4)}%.3f)")
      Files.writeString(Paths.get(out, "soak_containment.json"),
        f"""{"key":"containment","docs_full":12500000,"shingles_full":$nshFull,"unpruned_join_rows_full":$unprunedFull,"full_stats_sec":$dtFull%.2f,"slice_docs":500000,"slice_shingles":$nshS,"slice_unpruned":$unprunedS,"slice_candidates":$candS,"cut_factor":$cut%.1f,"slice_stats_sec":$dtSlice%.2f,"slice_query_sec":$dtQuery%.2f,"top":${top.head.getDouble(4)},"p50":${top.last.getDouble(4)}}""" + "\n")
      if (top.length != 50 || top.last.getDouble(4) < 0.98 + 1e-6)
        throw new IllegalStateException(
          s"containment soak: θ=0.98 rung did not certify on the slice " +
          s"(rows=${top.length}, 50th=${top.lastOption.map(_.getDouble(4))})")
      if (candS * 20 > unprunedS)
        throw new IllegalStateException(
          f"containment soak: prune cut only ${cut}%.1fx — the prefix " +
            "filter is not doing its job on the Zipf-shaped corpus")
      // Cohort additivity sanity: the slice is exactly 1/25 of the corpus,
      // so its unpruned volume must be 1/25 of the full one (±4% for the
      // tiny per-copy shingle differences the prefixed suffix introduces
      // — the bound is 25±1, i.e. ±4%; ADVICE r18 doc/code mismatch).
      val ratio = unprunedFull.toDouble / unprunedS
      if (math.abs(ratio - 25.0) > 1.0)
        throw new IllegalStateException(
          f"containment soak: cohorts are not additive (full/slice = ${ratio}%.2f, expected 25) — the ×25 scaling claim would be wrong")
    }

    // ADVERSARIAL-CHAIN components soak (key "chain", r15): a 1M-node path
    // is min-label propagation's worst case (diameter = n — the 50-round
    // budget is hopeless by six orders of magnitude), so
    // connectedComponentsAuto MUST read the flat change trajectory inside
    // its probe budget and escalate to the star contraction (O(log n)
    // rounds). Graded claims: the single correct min-labeled component
    // over 1M nodes, and completion at all — a wall time consistent with
    // ~20 contraction rounds, not a million propagation rounds.
    if (wanted.isEmpty || wanted("chain")) {
      val n = 1000000L
      val pairsDf = spark.range(1L, n)
        .select(col("id").as("a"), (col("id") + 1L).as("b"))
      println(s"[soak] chain: $n-node path via connectedComponentsAuto ...")
      val t0 = System.nanoTime()
      val labels = graft.operators.Components
        .connectedComponentsAuto(pairsDf, "a", "b")
      val stats = labels.agg(count(lit(1)), countDistinct(col("comp")),
        min(col("comp")), max(col("comp"))).head()
      val dt = (System.nanoTime() - t0) / 1e9
      graft.operators.ScaleOps.releaseTracked()
      println(f"[soak] chain: ${dt}%.1f s nodes=${stats.getLong(0)} " +
        f"components=${stats.getLong(1)} labels=[${stats.getLong(2)},${stats.getLong(3)}]")
      Files.writeString(Paths.get(out, "soak_chain.json"),
        f"""{"key":"chain","nodes":$n,"sec":$dt%.2f,"components":${stats.getLong(1)},"min_label":${stats.getLong(2)},"max_label":${stats.getLong(3)}}""" + "\n")
      if (stats.getLong(0) != n || stats.getLong(1) != 1L ||
          stats.getLong(2) != 1L || stats.getLong(3) != 1L)
        throw new IllegalStateException(
          "chain soak: labels are not the single min-labeled component")
    }

    // MANIFEST-MAINTENANCE soak — the O(touched) claim of the
    // copy-on-write commits (q_layout_delete / q_layout_update): on a
    // ~60M-row manifested layout, a one-month range delete must read and
    // rewrite only the few envelope-intersecting files; the full build is
    // the yardstick a naive rewrite-the-table maintenance pass would pay
    // per commit. The layout is rebuilt fresh each run (the delete
    // mutates it, so a reused layout would measure a different workload).
    if (wanted.isEmpty || wanted("manifest")) {
      stage(spark, src, out, "lineitem", copies = 100)(df => df
        .withColumn("l_orderkey", col("l_orderkey") + col("__c") * lit(100000000L)))
      val lay = s"$out/manifest-soak"
      val li = spark.read.parquet(s"$out/lineitem.parquet")
      Tables.deleteRecursively(lay)
      println("[soak] manifest: building 256-file manifested layout ...")
      val t0 = System.nanoTime()
      graft.sources.Layout.writeManifested(li, lay, "l_shipdate", numFiles = 256)
      val buildSec = (System.nanoTime() - t0) / 1e9
      val span = (lit("1900-01-01").cast("timestamp"),
        lit("2100-01-01").cast("timestamp"))
      val dlo = lit("1997-01-01").cast("timestamp")
      val dhi = lit("1997-02-01").cast("timestamp")
      val preLive = graft.sources.Layout
        .manifestPrunedRead(spark, lay, span._1, span._2)
      val pre = preLive.agg(count(lit(1)),
        sum(when(col("l_shipdate") >= dlo && col("l_shipdate") < dhi, 1L)
          .otherwise(0L))).head()
      val (preCount, inRange) = (pre.getLong(0), pre.getLong(1))
      val t1 = System.nanoTime()
      val (rw, rm) = graft.sources.Layout.deleteManifested(
        spark, lay, "l_shipdate", dlo, dhi, 4)
      val deleteSec = (System.nanoTime() - t1) / 1e9
      val postCount = graft.sources.Layout
        .manifestPrunedRead(spark, lay, span._1, span._2).count()
      println(f"[soak] manifest: build ${buildSec}%.1f s (256 files, " +
        f"$preCount rows); delete 1997-01 touched $rm files " +
        f"(rewrote $rw), ${deleteSec}%.1f s = ${deleteSec / buildSec}%.3f " +
        f"of build; rows $preCount -> $postCount (deleted $inRange)")
      Files.writeString(Paths.get(out, "soak_manifest.json"),
        f"""{"key":"manifest","rows":$preCount,"files":256,"build_sec":$buildSec%.2f,"delete_touched_files":$rm,"delete_rewrote_files":$rw,"delete_sec":$deleteSec%.2f,"delete_over_build":${deleteSec / buildSec}%.4f,"rows_deleted":$inRange,"rows_post":$postCount}""" + "\n")
      if (postCount != preCount - inRange)
        throw new IllegalStateException(
          s"manifest soak: row accounting broke — $preCount - $inRange != $postCount")
      if (rm.toDouble / 256 > 0.2)
        throw new IllegalStateException(
          s"manifest soak: delete touched $rm of 256 files — not O(touched)")
    }

    // BLOOM-INDEX soak (key "bloomidx", r17 batch 17): the point-lookup
    // pruning claim at 256 files / 60M rows. Geometry is the soak's
    // teeth: ~230k rows per date-clustered file are ~200k DISTINCT
    // orderkeys (the clustering key scatters orders across files), so the
    // filter needs ~10 bits/key = 32768 words — the first soak run at
    // 8192 words saturated every word (2.1M sidecar rows, kept 228/256,
    // pruning dead) and failed this block loudly; that is exactly why the
    // geometry is a build parameter persisted in the sidecar instead of a
    // constant. Certified: build is one pass, the sidecar stays
    // O(files × words), pruning keeps ≤ 15% of files for 4 probes,
    // skipped files hold ZERO probe rows, and the pruned aggregate equals
    // the full-scan aggregate.
    if (wanted.isEmpty || wanted("bloomidx")) {
      stage(spark, src, out, "lineitem", copies = 100)(df => df
        .withColumn("l_orderkey", col("l_orderkey") + col("__c") * lit(100000000L)))
      val lay = s"$out/bloom-soak"
      val li = spark.read.parquet(s"$out/lineitem.parquet")
      Tables.deleteRecursively(lay)
      println("[soak] bloomidx: building 256-file layout + 32768-word sidecar ...")
      val t0 = System.nanoTime()
      graft.sources.Layout.writeManifested(li, lay, "l_shipdate", numFiles = 256)
      val buildSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val sidecarRows = graft.sources.Layout
        .buildBloomIndex(spark, lay, "l_orderkey", words = 32768)
      val idxSec = (System.nanoTime() - t1) / 1e9
      val b = li.agg(min(col("l_orderkey")), max(col("l_orderkey"))).head()
      val (kMin, kMax) = (b.getLong(0), b.getLong(1))
      val kMid = li.filter(col("l_orderkey") <= (kMin + kMax) / 2)
        .agg(max(col("l_orderkey"))).head().getLong(0)
      val probes = Seq(kMin, kMid, kMax, kMax + 1)
      val t2 = System.nanoTime()
      val (kept, skipped) =
        graft.sources.Layout.bloomCandidateFiles(spark, lay, probes)
      val planSec = (System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      val prunedAgg = graft.sources.Layout.bloomPrunedRead(spark, lay, probes)
        .filter(col("l_orderkey").isin(probes: _*))
        .agg(count(lit(1)), sum(col("l_orderkey"))).head()
      val prunedSec = (System.nanoTime() - t3) / 1e9
      val t4 = System.nanoTime()
      val fullAgg = spark.read.parquet(s"$lay/data")
        .filter(col("l_orderkey").isin(probes: _*))
        .agg(count(lit(1)), sum(col("l_orderkey"))).head()
      val fullSec = (System.nanoTime() - t4) / 1e9
      val leaked =
        if (skipped.isEmpty) 0L
        else spark.read.parquet(skipped: _*)
          .filter(col("l_orderkey").isin(probes: _*)).count()
      println(f"[soak] bloomidx: build $buildSec%.1f s, sidecar $idxSec%.1f s " +
        f"($sidecarRows rows); plan $planSec%.2f s kept ${kept.size}/256; " +
        f"pruned read $prunedSec%.1f s vs full scan $fullSec%.1f s " +
        f"(${prunedSec / fullSec}%.3f); leaked $leaked")
      Files.writeString(Paths.get(out, "soak_bloomidx.json"),
        f"""{"key":"bloomidx","build_sec":$buildSec%.2f,"index_sec":$idxSec%.2f,"sidecar_rows":$sidecarRows,"plan_sec":$planSec%.3f,"kept":${kept.size},"files":256,"pruned_sec":$prunedSec%.2f,"full_sec":$fullSec%.2f,"pruned_over_full":${prunedSec / fullSec}%.4f,"leaked":$leaked}""" + "\n")
      if (leaked != 0) throw new IllegalStateException(
        s"bloomidx soak: $leaked probe row(s) in skipped files — pruning unsound")
      if (kept.size > 38) throw new IllegalStateException(
        s"bloomidx soak: kept ${kept.size} of 256 files — FP rate collapsed")
      if (prunedAgg.getLong(0) != fullAgg.getLong(0) ||
          prunedAgg.getLong(1) != fullAgg.getLong(1))
        throw new IllegalStateException(
          s"bloomidx soak: pruned aggregate diverged from the full scan")
    }

    // DELETION-VECTOR soak (key "dv", r17): same 60M-row layout and the
    // SAME one-month delete, merge-on-read vs copy-on-write head-to-head.
    // The claim: the DV path writes POSITIONS (kilobytes) and rewrites
    // ZERO data files, so it must beat the CoW rewrite wall-clock AND
    // leave the data dir byte-identical; the MOR read must then serve the
    // same post-delete truth the CoW path serves.
    if (wanted.isEmpty || wanted("dv")) {
      stage(spark, src, out, "lineitem", copies = 100)(df => df
        .withColumn("l_orderkey", col("l_orderkey") + col("__c") * lit(100000000L)))
      val li = spark.read.parquet(s"$out/lineitem.parquet")
      val span = (lit("1900-01-01").cast("timestamp"),
        lit("2100-01-01").cast("timestamp"))
      val dlo = lit("1997-01-01").cast("timestamp")
      val dhi = lit("1997-02-01").cast("timestamp")
      def build(lay: String): Unit = {
        Tables.deleteRecursively(lay)
        graft.sources.Layout.writeManifested(li, lay, "l_shipdate", 256)
      }
      val cow = s"$out/dv-soak-cow"; val mor = s"$out/dv-soak-mor"
      println("[soak] dv: building two 256-file layouts ...")
      build(cow); build(mor)
      val t0 = System.nanoTime()
      val (rw, rm) = graft.sources.Layout.deleteManifested(
        spark, cow, "l_shipdate", dlo, dhi, 4)
      val cowSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val (dvFiles, dvPos) = graft.sources.Layout.deleteManifestedDV(
        spark, mor, "l_shipdate", dlo, dhi)
      val dvSec = (System.nanoTime() - t1) / 1e9
      val a = graft.sources.Layout
        .manifestPrunedRead(spark, cow, span._1, span._2)
        .agg(count(lit(1)), expr("bit_xor(xxhash64(l_orderkey, l_shipdate))")).head()
      val b = graft.sources.Layout.dvRead(spark, mor, span._1, span._2)
        .agg(count(lit(1)), expr("bit_xor(xxhash64(l_orderkey, l_shipdate))")).head()
      println(f"[soak] dv: CoW delete $cowSec%.1f s (rewrote $rw of $rm " +
        f"touched); DV delete $dvSec%.1f s ($dvPos positions in $dvFiles " +
        f"files, zero rewrites) = ${dvSec / cowSec}%.3f of CoW; " +
        f"MOR read ${if (a == b) "==" else "!="} CoW read")
      Files.writeString(Paths.get(out, "soak_dv.json"),
        f"""{"key":"dv","cow_sec":$cowSec%.2f,"cow_rewrote":$rw,"dv_sec":$dvSec%.2f,"dv_positions":$dvPos,"dv_files":$dvFiles,"dv_over_cow":${dvSec / cowSec}%.4f,"reads_equal":${a == b}}""" + "\n")
      if (a != b) throw new IllegalStateException(
        s"dv soak: MOR read diverged from the CoW read — $a vs $b")
    }

    // UNIGRAM-TRAINER soak (key "unigram", r17): 12.5M docs whose
    // vocabulary stays SMALL (the suffix perturbation adds ~2.5k tokens) —
    // the vocab-routing claim head-on: the corpus pays exactly one
    // word-count shuffle; the EM rounds and the final piece table are
    // vocabulary-sized, so total time must be dominated by that one pass,
    // not multiplied by the 4 EM rounds.
    if (wanted.isEmpty || wanted("unigram")) {
      stage(spark, src, out, "documents", copies = 2500)(df => df
        .withColumn("doc_id", col("doc_id") + col("__c") * lit(100000000L))
        .withColumn("text", concat(col("text"), lit(" c"), col("__c").cast("string")))
        .withColumn("n_chars", length(col("text"))))
      val t0 = System.nanoTime()
      val words = spark.read.parquet(s"$out/documents.parquet")
        .select(explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
        .persist()
      val vocabSize = words.count()
      val countSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val (pieces, losses) = graft.text.Unigram.train(words)
      val emSec = (System.nanoTime() - t1) / 1e9
      words.unpersist()
      println(f"[soak] unigram: word-count pass $countSec%.1f s " +
        f"($vocabSize distinct words from 12.5M docs); 4 EM rounds " +
        f"$emSec%.1f s total (${pieces.length} final pieces, " +
        f"final losses ${losses.drop(2).map(l => f"$l%.1f").mkString(" -> ")})")
      Files.writeString(Paths.get(out, "soak_unigram.json"),
        f"""{"key":"unigram","vocab":$vocabSize,"count_sec":$countSec%.2f,"em_sec":$emSec%.2f,"pieces":${pieces.length},"loss_final":${losses.last}%.2f}""" + "\n")
      if (losses(3) > losses(2) + 1e-6) throw new IllegalStateException(
        s"unigram soak: prune-free EM round increased the loss: $losses")
    }

    val results = pairs
      .filter(p => wanted.isEmpty || wanted(p._1))
      .map { case (key, gateDf, winForm, sclForm, keyGate) =>
      val est = graft.operators.ScaleOps.estimatedBytes(gateDf())
      val organic = est > BigInt(keyGate)
      println(s"[soak] $key: gate-table estimate $est bytes vs gate $keyGate " +
        s"-> organic route = ${if (organic) "SCALE" else "WINDOW"} form")
      val (wT, wSum) = timed(spark, "window", winForm(spark, out))
      val (sT, sSum) = timed(spark, "scale", sclForm(spark, out))
      // A timed-out side has no checksum; equality is then vacuously
      // unchecked here (it stays covered by the forced-route bit-equality
      // specs) — only a PRESENT-but-different pair is a failure.
      val ok = (wSum, sSum) match {
        case (Some(a), Some(b)) => a == b
        case _ => true
      }
      println(f"[soak]   $key: scale/window = ${sT / wT}%.2fx  hashes ${if (ok) "MATCH" else "MISMATCH"}")
      (key, est, organic, wT, wSum.isDefined, sT, sSum.isDefined, ok)
    }

    val soloResults = solos
      .filter(p => wanted.isEmpty || wanted(p._1))
      .map { case (key, gateDf, form) =>
        val est = graft.operators.ScaleOps.estimatedBytes(gateDf())
        val broadcastGated = est > BigInt(gate)
        println(s"[soak] $key (solo): gate-table estimate $est bytes vs gate $gate " +
          s"-> gated broadcasts ${if (broadcastGated) "DEGRADE to shuffle joins" else "stay broadcasts"}")
        val (t, sum) = timed(spark, key, form(spark, out))
        (key, est, broadcastGated, t, sum.isDefined)
      }

    // ---------------------------------------- HEAVY PROBE (r19)
    // VERDICT r18 prescription #8: a PINNED probe of the most expensive
    // guarded keys at soak scale, so scale regressions surface as
    // round-over-round NUMBERS, not plan reading. The key set is pinned
    // to the r18 guarded artifact's top 10; each runs against a staging
    // sized so its cost model is exercised without degenerating:
    //  - documents are copy-PREFIXED x200 (1M docs, Zipf-ish vocab — the
    //    bm25-soak shape; a suffix-perturbed corpus would make every doc
    //    a 200-way near-dup and the dedup keys quadratic BY DATA, which
    //    is the known-degenerate corpus, not a regression signal);
    //  - events x100 (10M rows) for the stream-join family (state is
    //    per-user; the user-id offset keeps pairs within copy cohorts);
    //  - embeddings x100 (200k vectors) for the IVF-PQ build+search;
    //  - the 60M-row gbdt lineitem staging serves the aggregate keys.
    // Wall-times land in soak_heavyprobe.json and SCALE.md each round.
    if (wanted("heavyprobe")) {
      val hp = s"$out/heavyprobe"
      val (docsDir, evDir, vecDir, liDir) =
        (s"$hp/docs", s"$hp/events", s"$hp/vecs", s"$out/gbdt")
      Seq(docsDir, evDir, vecDir).foreach(d =>
        Files.createDirectories(Paths.get(d)))
      stage(spark, src, docsDir, "documents", copies = 200)(df => df
        .withColumn("doc_id", col("doc_id") + col("__c") * lit(100000000L))
        .withColumn("text", concat_ws(" ", expr(
          "transform(split(text, ' '), w -> concat('c', CAST(__c AS STRING), w))")))
        .withColumn("n_chars", length(col("text"))))
      stage(spark, src, evDir, "events", copies = 100)(df => df
        .withColumn("event_id", col("event_id") + col("__c") * lit(1000000000L))
        .withColumn("user_id", col("user_id") + col("__c") * lit(10000000L)))
      stage(spark, src, vecDir, "embeddings", copies = 100)(df => df
        .withColumn("vec_id", col("vec_id") + col("__c") * lit(100000000L))
        .withColumn("embedding", expr(
          "transform(embedding, x -> CAST(x + (__c % 64) * 1e-4 AS FLOAT))")))
      Files.createDirectories(Paths.get(out, "gbdt"))
      stage(spark, src, s"$out/gbdt", "lineitem", copies = 100)(df => df
        .withColumn("l_orderkey", col("l_orderkey") + col("__c") * lit(100000000L))
        .withColumn("l_extendedprice",
          round(col("l_extendedprice") + (col("__c") % 64).cast("double") * 0.01, 2)))
      val probes: Seq[(String, String)] = Seq(
        "q_sim_ivf_pq" -> vecDir,
        "q_ml_gbdt_converged" -> liDir,
        "q_agg_corr" -> liDir,
        "q_stream_join" -> evDir,
        "q_stream_join_outer" -> evDir,
        "q_stream_join_full" -> evDir,
        "q_stream_join_right" -> evDir,
        "q_dedup_components_incr" -> docsDir,
        "q_text_wordpiece_train" -> docsDir,
        "q_agg_heavyhitters" -> docsDir)
      val hpResults = probes.map { case (key, d) =>
        println(s"[soak] heavyprobe $key over $d")
        val (t, sum) = timed(spark, s"hp-$key",
          SparkEntry.queries(key)(spark, d))
        (key, d, t, sum)
      }
      val hpJs = hpResults.map { case (k, d, t, sum) =>
        f"""{"key":"$k","dir":"$d","sec":$t%.2f,"finished":${sum.isDefined},"rows":${sum.map(_._1).getOrElse(-1L)}}"""
      }
      hpJs.foreach(l => println("[soak] " + l))
      Files.writeString(Paths.get(out, "soak_heavyprobe.json"),
        hpJs.mkString("[", ",\n", "]\n"))
    }

    println("[soak] ==== summary ====")
    val js = results.map { case (k, est, organic, wT, wDone, sT, sDone, ok) =>
      f"""{"key":"$k","solo":false,"est_bytes":$est,"organic_scale_route":$organic,"window_sec":$wT%.2f,"window_finished":$wDone,"scale_sec":$sT%.2f,"scale_finished":$sDone,"hash_match":$ok}"""
    } ++ soloResults.map { case (k, est, gated, t, done) =>
      // Solo rows keep the A/B rows' field names (null-valued where no
      // A/B comparison exists) so every soak_results.json row parses with
      // ONE schema; solo-specific fields ride alongside (ADVICE r13).
      f"""{"key":"$k","solo":true,"est_bytes":$est,"broadcasts_degraded":$gated,"sec":$t%.2f,"finished":$done,"window_sec":null,"window_finished":null,"scale_sec":null,"scale_finished":null,"hash_match":null,"organic_scale_route":null}"""
    }
    js.foreach(l => println("[soak] " + l))
    // A skew-only run must not clobber a prior full run's results file
    // with an empty list.
    if (js.nonEmpty)
      Files.writeString(Paths.get(out, "soak_results.json"),
        js.mkString("[", ",\n", "]\n"))
    val bad = results.filter(!_._8)
    if (bad.nonEmpty)
      throw new IllegalStateException(
        s"route-form hash mismatch ABOVE the gate: ${bad.map(_._1).mkString(",")}")
    spark.stop()
  }
}
