package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r17 batch-17 operator cross-checks: bloom-index pruning (strict subset
  * + soundness), WAP publish visibility, deterministic mode, the SVM
  * subgradient step vs an exact driver recomputation, Gopher rules vs a
  * driver re-derivation, event-sequence mining vs a driver session walk,
  * label propagation vs an independently-written reference, and SQ8
  * recall/reconstruction bounds. sf0.001 keeps every collect tiny. */
class R17OpsSpec extends AnyFunSuite {
  import SparkFixture._

  /** Spark's Round semantics on doubles: BigDecimal.valueOf (the shortest
    * decimal representation), NOT the exact binary expansion — the two
    * differ exactly at scale-6 rounding boundaries. */
  private def round6(x: Double): Double =
    BigDecimal(java.math.BigDecimal.valueOf(x))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Det.dsum(scale 6) reproduced exactly (R16OpsSpec's twin). */
  private def dsum6(xs: Seq[Double]): Double = {
    val s = xs.map(BigDecimal(_).setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum
    s.setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .*(BigDecimal(1000000)).toLongExact / 1000000.0
  }

  test("q_layout_bloom_index: pruning is a strict subset and skipped files hold zero probe rows") {
    val staged = queries.Relational.stagedBloomLayout(spark, Sf0001)
    val li = Tables.lineitem(spark, Sf0001)
    val b = li.agg(min(col("l_orderkey")), max(col("l_orderkey"))).head()
    val (kMin, kMax) = (b.getLong(0), b.getLong(1))
    val kMid = li.filter(col("l_orderkey") <= (kMin + kMax) / 2)
      .agg(max(col("l_orderkey"))).head().getLong(0)
    val probes = Seq(kMin, kMid, kMax).distinct :+ (kMax + 1)
    val (kept, skipped) =
      sources.Layout.bloomCandidateFiles(spark, staged, probes)
    val live = spark.read.parquet(s"$staged/manifest")
      .filter(col("op") === "add").count()
    assert(kept.size + skipped.size == live,
      s"partition mismatch: ${kept.size} + ${skipped.size} != $live")
    // The clustered-by-shipdate layout scatters orderkeys across files, so
    // min/max would keep everything; the bloom must actually prune.
    assert(skipped.nonEmpty,
      s"bloom pruned nothing (kept all ${kept.size} files) — the index is inert")
    // Soundness: every skipped file holds ZERO probe rows.
    val leaked = spark.read.parquet(skipped: _*)
      .filter(col("l_orderkey").isin(probes: _*)).count()
    assert(leaked == 0, s"bloom pruning dropped $leaked probe row(s)")
    // Completeness: the pruned read finds every probe row.
    val got = SparkEntry.queries("q_layout_bloom_index")(spark, Sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = li.filter(col("l_orderkey").isin(probes: _*))
      .groupBy(col("l_orderkey")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"bloom read drift: $got vs $want")
    // The absent probe (kMax+1) must match nothing.
    assert(!got.contains(kMax + 1))
  }

  test("q_layout_wap: the published table is exactly base ∪ good batch at version 1") {
    val staged = queries.Relational.stagedWapLayout(spark, Sf0001)
    // The fixture already certified abort/isolation/atomicity internally;
    // re-assert the end state from OUTSIDE: one publish moved the version
    // exactly once and main serves the full table.
    assert(sources.Layout.manifestVersion(spark, staged) == 1L)
    val total = Tables.lineitem(spark, Sf0001).count()
    val main = sources.Layout.manifestPrunedRead(spark, staged,
      lit("1900-01-01").cast("timestamp"),
      lit("2100-01-01").cast("timestamp")).count()
    assert(main == total, s"published main serves $main of $total rows")
    // No quantity from the aborted bad batch (negated) survived anywhere.
    val negs = sources.Layout.manifestPrunedRead(spark, staged,
      lit("1900-01-01").cast("timestamp"),
      lit("2100-01-01").cast("timestamp"))
      .filter(col("l_quantity") <= 0).count()
    assert(negs == 0, s"$negs negated-quantity row(s) leaked from the aborted batch")
  }

  test("q_agg_mode: definitional — no quantity beats the winner; ties go to the smallest") {
    val counts = Tables.lineitem(spark, Sf0001)
      .groupBy(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (f, rs) =>
        f -> rs.map(r => (r.getLong(1), r.getLong(2))).toSeq }
    val got = SparkEntry.queries("q_agg_mode")(spark, Sf0001).collect()
    assert(got.nonEmpty)
    for (r <- got) {
      val (flag, qty, n) = (r.getString(0), r.getLong(1), r.getLong(2))
      val cs = counts(flag)
      assert(cs.forall(_._2 <= n), s"$flag: a quantity beats the mode count $n")
      assert(cs.filter(_._2 == n).map(_._1).min == qty,
        s"$flag: tie not broken to the smallest quantity")
    }
  }

  test("q_ml_svm_step equals an exact driver-side hinge recomputation") {
    val w = queries.MlSuffStats.svmW0
    val rows = Tables.embeddings(spark, Sf0001)
      .select(col("label"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getSeq[Double](1).take(4)))
    val ys = rows.map { case (l, _) => if (l % 2 == 1) 1.0 else -1.0 }
    val margins = rows.zip(ys).map { case ((_, x), y) =>
      y * (x(0) * w(0) + x(1) * w(1) + x(2) * w(2) + x(3) * w(3)) }
    val viol = margins.map(_ < 1.0)
    val got = SparkEntry.queries("q_ml_svm_step")(spark, Sf0001).head()
    assert(got.getLong(0) == rows.length)
    assert(got.getLong(1) == viol.count(identity))
    for (i <- 0 until 4) {
      val gi = dsum6(rows.zip(ys).zip(viol).map { case (((_, x), y), v) =>
        if (v) -y * x(i) else 0.0 }.toSeq)
      assert(got.getDouble(2 + i) == gi, s"g$i drift: ${got.getDouble(2 + i)} vs $gi")
    }
    val hinge = dsum6(margins.map(m => math.max(0.0, 1.0 - m)).toSeq)
    assert(got.getDouble(6) == hinge)
  }

  test("q_text_gopher verdicts match a driver re-derivation of the published rules") {
    val docs = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = SparkEntry.queries("q_text_gopher")(spark, Sf0001).collect()
    assert(got.length == docs.size)
    val stops = Set("the", "a", "an", "and", "or", "of", "in", "to", "is")
    for (r <- got) {
      val text = docs(r.getLong(0))
      val toks = text.split(" ", -1)
      val nW = toks.length.toLong
      val meanLen = round6(toks.map(_.length.toLong).sum.toDouble / nW)
      val nAlpha = toks.count(_.exists(_.isLetter)).toLong
      val nStop = toks.count(stops.contains).toLong
      assert(r.getLong(2) == nW, s"doc ${r.getLong(0)}: n_words")
      assert(r.getDouble(3) == meanLen, s"doc ${r.getLong(0)}: mean_word_len")
      assert(r.getDouble(7) == round6(nAlpha.toDouble / nW), s"doc ${r.getLong(0)}: frac_alpha")
      assert(r.getLong(8) == nStop, s"doc ${r.getLong(0)}: n_stop")
      val pass = (nW >= 50L && nW <= 100000L) &&
        (meanLen >= 3.0 && meanLen <= 10.0) &&
        r.getDouble(4) < 0.1 && r.getDouble(5) < 0.9 &&
        r.getDouble(6) < 0.3 && round6(nAlpha.toDouble / nW) >= 0.8 &&
        nStop >= 2L
      assert(r.getLong(9) == (if (pass) 1L else 0L), s"doc ${r.getLong(0)}: verdict")
    }
    // The 50-word floor must actually split this corpus (docs run 10–99
    // words) — otherwise the key grades a constant.
    val verdicts = got.map(_.getLong(9)).toSet
    assert(verdicts == Set(0L, 1L), s"gopher verdict degenerate: $verdicts")
  }

  test("q_events_sequence equals a driver-side session walk") {
    val ev = Tables.events(spark, Sf0001)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val gap = 30L * 60L * 1000000L
    val pairs: Seq[(String, String)] =
      ev.groupBy(_._1).toSeq.flatMap { case (_, es) =>
        val sorted = es.sortBy(e => (e._4, e._2)).toSeq
        sorted.sliding(2).collect {
          case Seq(a, b) if b._4 - a._4 <= gap => (a._3, b._3)
        }.toSeq
      }
    val want = pairs.groupBy(identity).map { case (p, ps) => (p, ps.size.toLong) }
      .toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.take(20)
    val got = SparkEntry.queries("q_events_sequence")(spark, Sf0001)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toSeq
    assert(got == want, s"sequence drift:\n got $got\nwant $want")
  }

  test("q_graph_label_prop matches an independently-written synchronous reference") {
    // Rebuild the symmetrized weighted edges exactly as the query does.
    val base = Tables.lineitem(spark, Sf0001).select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, Sf0001).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(spark, Sf0001).select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.customer(spark, Sf0001).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("s_nationkey").cast("long").as("src"),
        col("c_nationkey").cast("long").as("dst"))
      .agg(count(lit(1)).as("w"))
      .filter(col("src") =!= col("dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sym = (base ++ base.map(e => (e._2, e._1, e._3)))
      .groupBy(e => (e._1, e._2))
      .map { case ((a, b), es) => (a, b, es.map(_._3).sum) }.toSeq
    // Reference: mutable-array sweep (different style from the query's
    // immutable-map fold), 4 synchronous rounds, min-label ties.
    val nodes = sym.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    var lab = nodes.toArray
    for (_ <- 1 to 4) {
      val next = new Array[Long](nodes.length)
      for (n <- nodes) {
        val votes = scala.collection.mutable.Map[Long, Long]()
        for ((u, v, w) <- sym if u == n)
          votes(lab(idx(v))) = votes.getOrElse(lab(idx(v)), 0L) + w
        next(idx(n)) =
          if (votes.isEmpty) lab(idx(n))
          else votes.toSeq.sortBy { case (l, w) => (-w, l) }.head._1
      }
      lab = next
    }
    val want = nodes.map(n => n -> lab(idx(n))).toMap
    val got = SparkEntry.queries("q_graph_label_prop")(spark, Sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"label-prop drift: $got vs $want")
    // Definitional invariants: labels are node ids; sizes sum to |V|.
    assert(got.values.toSet.subsetOf(got.keySet))
    val sizes = SparkEntry.queries("q_graph_label_prop")(spark, Sf0001)
      .select(col("community"), col("community_size")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sizes.map(_._2).sum == got.size)
  }

  test("q_stats_ttest equals an exact driver-side Welch recomputation") {
    val cents = Tables.lineitem(spark, Sf0001)
      .filter(col("l_returnflag").isin("A", "R"))
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long"))
      .collect().map(r => (r.getString(0) == "A", r.getLong(1)))
    def stats(sel: Boolean) = {
      val xs = cents.filter(_._1 == sel).map(_._2)
      val n = xs.length.toDouble
      val m = xs.map(BigDecimal(_)).sum.toDouble / n
      val r2 = xs.map(x => BigDecimal(x) * BigDecimal(x)).sum.toDouble / n
      (xs.length.toLong, n, m, (r2 - m * m) * (n / (n - 1.0)))
    }
    val (naL, na, ma, va) = stats(true)
    val (nrL, nr, mr, vr) = stats(false)
    val (sea, ser) = (va / na, vr / nr)
    val got = SparkEntry.queries("q_stats_ttest")(spark, Sf0001).head()
    assert(got.getLong(0) == naL && got.getLong(1) == nrL)
    assert(got.getDouble(2) == round6(ma) && got.getDouble(3) == round6(mr))
    assert(got.getDouble(6) == round6((ma - mr) / math.sqrt(sea + ser)))
    val dof = (sea + ser) * (sea + ser) /
      (sea * sea / (na - 1.0) + ser * ser / (nr - 1.0))
    assert(got.getDouble(7) ==
      BigDecimal(dof).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("q_stats_chisq equals an exact driver recomputation; one global statistic") {
    val ds = Tables.documents(spark, Sf0001)
      .select(col("lang"), col("source")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val cells = ds.groupBy(identity).map { case (k, vs) => k -> vs.size.toLong }
    val rt = ds.groupBy(_._1).map { case (l, vs) => l -> vs.size.toLong }
    val ct = ds.groupBy(_._2).map { case (s0, vs) => s0 -> vs.size.toLong }
    val n = ds.length.toDouble
    val rows = SparkEntry.queries("q_stats_chisq")(spark, Sf0001).collect()
    assert(rows.length == cells.size)
    for (r <- rows) {
      val key = (r.getAs[String]("lang"), r.getAs[String]("source"))
      val o = cells(key)
      val e = rt(key._1).toDouble * ct(key._2).toDouble / n
      assert(r.getAs[Long]("o") == o, s"$key: o")
      assert(r.getAs[Double]("e") == round6(e), s"$key: e")
      val c = (o.toDouble - e) * (o.toDouble - e) / e
      assert(r.getAs[Double]("contrib") == round6(c), s"$key: contrib")
    }
    val chi2 = rows.map(_.getAs[Double]("chi2")).distinct
    assert(chi2.length == 1, "chi2 must be one global statistic")
    val summed = dsum6(rows.map(_.getAs[Double]("contrib")).toSeq)
    assert(chi2.head == summed, s"chi2 ${chi2.head} != Σcontrib $summed")
  }

  test("q_graph_cooccur equals a driver recomputation and is non-degenerate") {
    val ev = Tables.events(spark, Sf0001)
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val perType = ev.groupBy(identity).map { case ((u, t), es) => (u, t, es.size.toLong) }
    val perUser = perType.groupBy(_._1).map { case (u, ps) =>
      u -> (ps.map(_._3).sum, ps.size.toLong) }
    val ut = perType.collect { case (u, t, k)
      if k * perUser(u)._2 > perUser(u)._1 => (u, t) }.toSet
    val cnt = ut.groupBy(_._2).map { case (t, s) => t -> s.size.toLong }
    val types = cnt.keys.toSeq.sorted
    val want = (for {
      a <- types; b <- types if a < b
      both = ut.count { case (u, t) => t == a && ut((u, b)) }
      if both > 0
    } yield ((a, b), (cnt(a), cnt(b), both.toLong))).toMap
    val got = SparkEntry.queries("q_graph_cooccur")(spark, Sf0001).collect()
    assert(got.nonEmpty)
    // Column positions shift through the join chain — read by name.
    val byName = got.map { r =>
      ((r.getAs[String]("type_a"), r.getAs[String]("type_b")),
       (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Long]("n_both")))
    }.toMap
    assert(byName == want, s"cooccur drift:\n got $byName\nwant $want")
    // Degeneracy guard: at least two distinct cosine values.
    val cosines = got.map(_.getAs[Double]("cosine")).distinct
    assert(cosines.length >= 2, s"cosine degenerate: ${cosines.toSeq}")
  }

  test("q_text_flesch equals a driver re-derivation of the readability pair") {
    val docs = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = SparkEntry.queries("q_text_flesch")(spark, Sf0001).collect()
    assert(got.length == docs.size)
    for (r <- got) {
      val text = docs(r.getAs[Long]("doc_id"))
      val toks = text.split(" ", -1)
      val nW = toks.length.toLong
      val nSent = math.max(1L, "[.!?]+".r.findAllIn(text).size.toLong)
      val nSyl = toks.map(t =>
        math.max(1L, "[aeiouy]+".r.findAllIn(t).size.toLong)).sum
      assert(r.getAs[Long]("n_words") == nW)
      assert(r.getAs[Long]("n_sentences") == nSent)
      assert(r.getAs[Long]("n_syllables") == nSyl)
      val wps = nW.toDouble / nSent.toDouble
      val spw = nSyl.toDouble / nW.toDouble
      assert(r.getAs[Double]("flesch_ease") ==
        round6(206.835 - 1.015 * wps - 84.6 * spw))
      assert(r.getAs[Double]("fk_grade") ==
        round6(0.39 * wps + 11.8 * spw - 15.59))
    }
  }

  test("q_ml_adaboost_round: exact stump errors and a correctly-flagged argmin") {
    val w0 = queries.MlSuffStats.adaThresholds
    val data = Tables.embeddings(spark, Sf0001)
      .select(col("label"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (if (r.getAs[Number](0).longValue() % 2 == 1) 1 else -1,
        r.getSeq[Double](1).take(4)))
    def err(f: Int, thr: Double, pol: Int): Long =
      data.count { case (y, x) =>
        (if (x(f) >= thr) pol else -pol) != y }.toLong
    val got = SparkEntry.queries("q_ml_adaboost_round")(spark, Sf0001).collect()
    assert(got.length == 4 * w0.length * 2)
    for (r <- got) {
      val (f, thr, pol) = (r.getAs[Long]("f").toInt, r.getAs[Double]("thr"),
        r.getAs[Long]("pol").toInt)
      val e = err(f, thr, pol)
      assert(r.getAs[Long]("n_err") == e, s"stump ($f,$thr,$pol): err")
      if (e > 0 && e < data.length)
        assert(r.getAs[Double]("alpha") ==
          round6(0.5 * math.log((data.length - e).toDouble / e.toDouble)))
    }
    // Exactly one winner, and it is the lexicographic argmin.
    val best = got.filter(_.getAs[Long]("is_best") == 1L)
    assert(best.length == 1)
    val minErr = got.map(_.getAs[Long]("n_err")).min
    assert(best.head.getAs[Long]("n_err") == minErr)
  }

  test("q_layout_partition_evolve: both epochs serve the spanning read; pruning certified by the fixture") {
    val staged = queries.Relational.stagedSpecEvolveLayout(spark, Sf0001)
    val (kept, total) = sources.Layout.specPlan(spark, staged, 199606, 199802)
    assert(kept.nonEmpty && kept.size < total)
    // The spanning read crosses the spec boundary: rows from both epochs.
    val lo = lit("1996-06-01").cast("timestamp")
    val hi = lit("1998-03-01").cast("timestamp")
    val read = sources.Layout.specPrunedRead(spark, staged, 199606, 199802)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
    val cut = lit("1997-01-01").cast("timestamp")
    assert(read.filter(col("o_orderdate") < cut).count() > 0, "epoch 0 absent")
    assert(read.filter(col("o_orderdate") >= cut).count() > 0, "epoch 1 absent")
    val want = Tables.orders(spark, Sf0001)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi).count()
    assert(read.count() == want)
  }

  test("q_ml_target_encode: out-of-fold encodings never see their own fold") {
    val rows = Tables.orders(spark, Sf0001)
      .select(col("o_orderpriority"), (col("o_orderkey") % 5L),
        col("o_totalprice")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val got = SparkEntry.queries("q_ml_target_encode")(spark, Sf0001).collect()
    assert(got.length == rows.map(r => (r._1, r._2)).distinct.length)
    // Mirror the engine's exact-integer-cents composition: per-row
    // round(×100)→long, all aggregates exact, leave-fold-out = total −
    // partial, one double epilogue.
    def cents(x: Double): Long =
      BigDecimal(java.math.BigDecimal.valueOf(x * 100))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact
    val part = rows.groupBy(r => (r._1, r._2)).map { case (k, vs) =>
      k -> (vs.length.toLong, vs.map(v => BigInt(cents(v._3))).sum) }
    val catTot = part.groupBy(_._1._1).map { case (c, ps) =>
      c -> (ps.values.map(_._1).sum, ps.values.map(_._2).sum) }
    val foldTot = part.groupBy(_._1._2).map { case (f, ps) =>
      f -> (ps.values.map(_._1).sum, ps.values.map(_._2).sum) }
    val allN = part.values.map(_._1).sum
    val allS = part.values.map(_._2).sum
    for (r <- got) {
      val (cat, fold) = (r.getAs[String]("cat"), r.getAs[Long]("fold"))
      val (nCf, sCf) = part((cat, fold))
      val (nC, sC) = catTot(cat)
      val nTrain = (nC - nCf).toDouble
      val sTrain = (sC - sCf).toDouble
      assert(r.getAs[Long]("n_train_cat") == nC - nCf)
      assert(r.getAs[Double]("oof_mean_cents") == round6(sTrain / nTrain),
        s"($cat, $fold): oof_mean_cents")
      val (nF, sF) = foldTot(fold)
      val gMean = (allS - sF).toDouble / (allN - nF).toDouble
      assert(r.getAs[Double]("encoding_cents") ==
        round6((sTrain + 20.0 * gMean) / (nTrain + 20.0)),
        s"($cat, $fold): encoding_cents")
    }
  }

  test("q_ml_woe_iv: WOE signs track class skew and IV is one global total") {
    val rows = SparkEntry.queries("q_ml_woe_iv")(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val (tp, tn) = (rows.map(_.getAs[Long]("n_pos")).sum,
      rows.map(_.getAs[Long]("n_neg")).sum)
    for (r <- rows) {
      val (p, n0) = (r.getAs[Long]("n_pos"), r.getAs[Long]("n_neg"))
      val sp = (p.toDouble + 0.5) / tp.toDouble
      val sn = (n0.toDouble + 0.5) / tn.toDouble
      assert(r.getAs[Double]("woe") == round6(math.log(sp / sn)))
      assert(r.getAs[Double]("iv_contrib") == round6((sp - sn) * math.log(sp / sn)))
    }
    val iv = rows.map(_.getAs[Double]("iv_total")).distinct
    assert(iv.length == 1)
    assert(iv.head == dsum6(rows.map(_.getAs[Double]("iv_contrib")).toSeq))
    // IV contributions are nonnegative by construction ((sp−sn) and the
    // log share a sign).
    assert(rows.forall(_.getAs[Double]("iv_contrib") >= 0.0))
  }

  test("q_ml_chi2_select: exact 2x2 cells and a descending top-20") {
    val docs = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1) == "en", r.getString(2)))
    def bucket(tok: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.substring(0, 4), 16) % 64
    }
    val present = docs.flatMap { case (id, pos, text) =>
      text.split(" ", -1).map(t => (id, pos, bucket(t))).distinct }.distinct
    val nPos = docs.count(_._2).toLong
    val nNeg = docs.length - nPos
    val got = SparkEntry.queries("q_ml_chi2_select")(spark, Sf0001).collect()
    assert(got.length == 20)
    val chis = got.map(_.getAs[Double]("chi2"))
    assert(chis.zip(chis.tail).forall { case (a, b) => a >= b }, "not descending")
    for (r <- got) {
      val b = r.getAs[Long]("bucket")
      val a = present.count(x => x._3 == b && x._2).toLong
      val bn = present.count(x => x._3 == b && !x._2).toLong
      assert(r.getAs[Long]("n_pos_present") == a, s"bucket $b: a")
      assert(r.getAs[Long]("n_neg_present") == bn, s"bucket $b: b")
      val (ad, bd, cd, dd) = (a.toDouble, bn.toDouble,
        (nPos - a).toDouble, (nNeg - bn).toDouble)
      val n = (nPos + nNeg).toDouble
      val chi = n * (ad * dd - bd * cd) * (ad * dd - bd * cd) /
        ((ad + bd) * (cd + dd) * (ad + cd) * (bd + dd))
      assert(r.getAs[Double]("chi2") == round6(chi), s"bucket $b: chi2")
    }
  }

  test("q_layout_stats_merge: merged manifest partials equal the table truth; files pinned on disk") {
    val staged = queries.Relational.stagedManifestAppendLayout(spark, Sf0001)
    val got = SparkEntry.queries("q_layout_stats_merge")(spark, Sf0001).head()
    val li = Tables.lineitem(spark, Sf0001)
    assert(got.getAs[Long]("n_rows") == li.count())
    assert(got.getAs[Long]("n_commits") == 2L)
    val want = li.agg(
      unix_micros(min(col("l_shipdate")).cast("timestamp")),
      unix_micros(max(col("l_shipdate")).cast("timestamp"))).head()
    assert(got.getAs[Long]("min_us") == want.getLong(0))
    assert(got.getAs[Long]("max_us") == want.getLong(1))
    // The file-count statistic the oracle cannot see: manifest live rows
    // == parquet files on disk.
    import org.apache.hadoop.fs.Path
    val fs = new Path(staged).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = fs.listStatus(new Path(s"$staged/data"))
      .count(_.getPath.getName.endsWith(".parquet"))
    val liveRows = spark.read.parquet(s"$staged/manifest")
      .filter(col("op") === "add").count()
    assert(liveRows == onDisk, s"manifest $liveRows files vs $onDisk on disk")
  }

  test("q_events_forecast: trailing-window forecast matches a driver fold; MAE is global") {
    val got = SparkEntry.queries("q_events_forecast")(spark, Sf0001).collect()
    assert(got.nonEmpty)
    // Rebuild the daily series the same exact-decimal way.
    val daily = Tables.events(spark, Sf0001)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(graft.functions.Det.dsum(col("value")).as("v"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .sortBy(_._1)
    val byDay = daily.toMap
    val days = daily.map(_._1)
    for (r <- got) {
      val d = r.getAs[String]("day")
      val i = days.indexOf(d)
      assert(i >= 7, s"$d emitted without 7 trailing days")
      val window = (i - 7 until i).map(j => byDay(days(j)))
      val tsum = dsum6(window)
      assert(r.getAs[Double]("forecast") == round6(tsum / 7.0), s"$d: forecast")
      assert(r.getAs[Double]("abs_err") ==
        round6(math.abs(byDay(d) - round6(tsum / 7.0))), s"$d: abs_err")
    }
    val mae = got.map(_.getAs[Double]("mae")).distinct
    assert(mae.length == 1)
    assert(mae.head == round6(
      dsum6(got.map(_.getAs[Double]("abs_err")).toSeq) / got.length))
  }

  test("q_ml_kmeanspp equals a driver maximin traversal and spreads the seeds") {
    val pts = Tables.embeddings(spark, Sf0001)
      .select(col("vec_id"), col("embedding")(0).cast("double"),
        col("embedding")(1).cast("double"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    def d2(a: (Double, Double), b: (Double, Double)) =
      (a._1 - b._1) * (a._1 - b._1) + (a._2 - b._2) * (a._2 - b._2)
    // Each driver seed records its round's max-min distance alongside the
    // coordinates, so the reported d2/e0/e1 columns are pinned exactly —
    // not just "positive" (ADVICE r17: a wrong-but-positive max-min or
    // mis-rounded coordinate must fail, not pass).
    var seeds = List((pts.head._1, (pts.head._2, pts.head._3), 0.0))
    for (_ <- 2 to 4) {
      val nxt = pts.map { case (id, x, y) =>
        (id, (x, y), seeds.map(s => d2((x, y), s._2)).min) }
        .minBy { case (id, _, d) => (-d, id) }
      seeds = seeds :+ ((nxt._1, nxt._2, nxt._3))
    }
    val got = SparkEntry.queries("q_ml_kmeanspp")(spark, Sf0001).collect()
    assert(got.length == 4)
    assert(got.map(_.getLong(1)).toSeq == seeds.map(_._1),
      s"seed ids drift: ${got.map(_.getLong(1)).toSeq} vs ${seeds.map(_._1)}")
    for ((r, (_, (x, y), d)) <- got.zip(seeds)) {
      assert(r.getDouble(2) == round6(x), s"round ${r.getLong(0)}: e0")
      assert(r.getDouble(3) == round6(y), s"round ${r.getLong(0)}: e1")
      assert(r.getDouble(4) == round6(d), s"round ${r.getLong(0)}: d2")
    }
    // Maximin property: every later seed's reported d2 is the max-min
    // distance of its round — strictly positive (the seeds spread).
    assert(got.drop(1).forall(_.getDouble(4) > 0.0))
  }

  test("q_dedup_containment surfaces the asymmetric near-supersets Jaccard misses") {
    val got = SparkEntry.queries("q_dedup_containment")(spark, Sf0001).collect()
    assert(got.length > 0 && got.length <= 50)
    // Driver recomputation over bigram shingle sets.
    val docs = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split(" ", -1))
      .filter(_._2.length >= 2)
    val sh = docs.map { case (id, w) =>
      id -> w.sliding(2).map(_.mkString(" ")).toSet }.toMap
    for (r <- got) {
      val (a, b) = (r.getLong(0), r.getLong(1))
      val inter = (sh(a) & sh(b)).size.toLong
      assert(r.getLong(2) == inter, s"($a,$b): inter")
      assert(r.getLong(3) == sh(a).size.toLong, s"($a,$b): n_src")
      assert(r.getDouble(4) ==
        round6(inter.toDouble / sh(a).size.toDouble), s"($a,$b): containment")
    }
    // Descending, and the top row is a genuine high-containment pair.
    val cs = got.map(_.getDouble(4))
    assert(cs.zip(cs.tail).forall { case (x, y) => x >= y })
    assert(cs.head >= 0.5, s"top containment ${cs.head} — corpus has planted near-supersets")
  }

  test("containmentTop50: a rejected ladder rung is released; at most one more cached frame") {
    val sc = spark.sparkContext
    val rdds0 = sc.getPersistentRDDs.size
    try {
      // A 50th containment cannot clear 1.0 by a rounding step, so the
      // first rung is always rejected (a θ above 1 is no valid rung: its
      // prefix length goes negative).
      val top = queries.LlmOps.containmentTop50(spark, Tables.documents(spark, Sf0001),
        thetas = Seq(1.0, 0.0))
      val grown = sc.getPersistentRDDs.size - rdds0
      assert(grown <= 1, s"the threshold ladder left $grown cached frames")
      assert(top.collect().toSeq ==
        SparkEntry.queries("q_dedup_containment")(spark, Sf0001).collect().toSeq)
    } finally graft.operators.ScaleOps.releaseTracked()
  }

  test("containmentTop50: a theta outside [0, 1] fails fast, naming the value") {
    for (bad <- Seq(2.0, -0.1)) {
      val e = intercept[IllegalArgumentException] {
        queries.LlmOps.containmentTop50(spark, Tables.documents(spark, Sf0001),
          thetas = Seq(bad, 0.0))
      }
      assert(e.getMessage.contains(s"theta $bad is outside [0, 1]"), e.getMessage)
    }
  }

  test("q_events_changepoint: exact deviation, one flagged argmax day") {
    val got = SparkEntry.queries("q_events_changepoint")(spark, Sf0001).collect()
    assert(got.nonEmpty)
    val days = got.map(r => (r.getString(0), r.getLong(2))).sortBy(_._1)
    val n = BigInt(days.length)
    val total = days.map(d => BigInt(d._2)).sum
    var s = BigInt(0)
    val devs = days.zipWithIndex.map { case ((_, v), i) =>
      s += BigInt(v)
      (s * n - BigInt(i + 1) * total).abs
    }
    for ((r, i) <- got.sortBy(_.getString(0)).zipWithIndex) {
      assert(r.getLong(1) == i + 1, s"t at $i")
      assert(BigInt(r.getDouble(3).toLong) == devs(i), s"dev at day ${r.getString(0)}")
    }
    val flagged = got.filter(_.getLong(4) == 1L)
    assert(flagged.length == 1)
    val maxDev = devs.max
    assert(BigInt(flagged.head.getDouble(3).toLong) == maxDev)
    // Earliest-day tiebreak.
    val firstMaxIdx = devs.indexWhere(_ == maxDev)
    assert(flagged.head.getLong(1) == firstMaxIdx + 1)
  }

  test("q_sim_sq8: recall >= 0.6 vs brute-force top-10; adist within the quantization bound") {
    val rows = SparkEntry.queries("q_sim_sq8")(spark, Sf0001).collect()
    assert(rows.length == 10)
    // Brute-force exact top-10 on the driver.
    val all = Tables.embeddings(spark, Sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    val q = all.find(_._1 == 0L).get._2
    def euclid(a: Seq[Double]) =
      math.sqrt(a.zip(q).map { case (x, y) => (x - y) * (x - y) }.sum)
    val exact = all.filter(_._1 != 0L)
      .map { case (id, e) => (id, euclid(e)) }
      .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
    val recall = rows.map(_.getLong(0)).count(exact.contains) / 10.0
    assert(recall >= 0.6, s"SQ8 recall $recall < 0.6 vs brute force")
    // Reconstruction bound: |sqrt(adist) − dist| ≤ ‖per-dim scale‖₂ (each
    // coordinate of both the corpus vector and the query moves ≤ scale/2).
    val dims = q.indices
    val lo = dims.map(i => all.filter(_._1 != 0L).map(_._2(i)).min)
    val hi = dims.map(i => all.filter(_._1 != 0L).map(_._2(i)).max)
    val bound = math.sqrt(dims.map { i =>
      val s = if (hi(i) > lo(i)) (hi(i) - lo(i)) / 255.0 else 1.0
      s * s
    }.sum)
    for (r <- rows) {
      val (ad, d) = (r.getDouble(2), r.getDouble(3))
      assert(math.abs(math.sqrt(ad) - d) <= bound + 1e-6,
        s"vec ${r.getLong(0)}: |sqrt($ad) - $d| exceeds quantization bound $bound")
    }
  }
}
