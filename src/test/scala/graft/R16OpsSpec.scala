package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r16 operator cross-checks: weighted SSSP vs a brute-force Bellman-Ford,
  * BM25 vs an exact driver-side recomputation (same JVM ln / HALF_UP
  * rounding / decimal-sum semantics as the engine), and RRF fusion
  * re-derived from its own legs. sf0.001 keeps every collect tiny. */
class R16OpsSpec extends AnyFunSuite {
  import SparkFixture._

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Det.dsum(scale 6) reproduced exactly: each double → DECIMAL(38,10),
    * exact sum, HALF_UP round to 6, through the scaled-long division. */
  private def dsum6(xs: Seq[Double]): Double = {
    val s = xs.map(BigDecimal(_).setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum
    s.setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .*(BigDecimal(1000000)).toLongExact / 1000000.0
  }

  test("q_graph_sssp equals a brute-force Bellman-Ford over the same pruned weighted graph") {
    import org.apache.spark.sql.expressions.Window
    // Rebuild the pruned weighted entity graph exactly as the query does.
    val e0 = Tables.lineitem(spark, Sf0001).select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, Sf0001).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(spark, Sf0001).select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.customer(spark, Sf0001).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("s_nationkey").cast("long").as("src"),
        col("c_nationkey").cast("long").as("dst"))
      .agg(count(lit(1)).as("w"))
    val wTop = Window.partitionBy(col("src")).orderBy(col("w").desc, col("dst"))
    val edges = e0.withColumn("rn", row_number().over(wTop)).filter(col("rn") <= 3)
      .select(col("src"), col("dst"), (lit(1L) + col("w") % 5L).as("cost"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val seed = Tables.supplier(spark, Sf0001)
      .orderBy(col("s_suppkey")).limit(1)
      .select(col("s_nationkey").cast("long")).head().getLong(0)
    // Bellman-Ford: |V| relaxation sweeps — a different algorithm from the
    // query's Dijkstra, same answer on positive costs.
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    var dist = Map(seed -> 0L)
    for (_ <- nodes.indices) {
      for ((u, v, c) <- edges; du <- dist.get(u))
        if (du + c < dist.getOrElse(v, Long.MaxValue)) dist += v -> (du + c)
    }
    val got = SparkEntry.queries("q_graph_sssp")(spark, Sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == dist, s"sssp drift: got $got vs brute $dist")
    // Weighted costs must respect the hop structure: hops <= cost <= 5*hops.
    val hops = SparkEntry.queries("q_graph_reachability")(spark, Sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.keySet == hops.keySet, "sssp and BFS must reach the same set")
    for ((n, c) <- got; h = hops(n))
      assert(h <= c && c <= 5 * h, s"node $n: cost $c outside [$h, ${5 * h}]")
  }

  /** Exact driver-side BM25 over the collected corpus — same tokenizer
    * (split on single space, interior+trailing empties kept), same JVM ln,
    * same rounding and decimal sum as the engine. */
  private lazy val bm25Brute: Map[Long, Seq[(Long, Double, Long)]] = {
    val docs = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val tf = docs.flatMap { case (d, t) =>
      t.toLowerCase.split(" ", -1).map(term => (d, term))
    }.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val dl = tf.groupBy(_._1._1).map { case (d, m) => d -> m.values.sum }
    val n = docs.length.toDouble
    val avgdl = dl.values.sum.toDouble / n
    val df = tf.groupBy(_._1._2).map { case (t, m) => t -> m.size.toLong }
    val qids = docs.map(_._1).filter(_ <= 4)
    qids.map { qid =>
      val qterms = tf.keys.filter(_._1 == qid).map(_._2).toSet
      val contribs = tf.toSeq.collect {
        case ((d, term), f) if d != qid && qterms(term) =>
          val idf = math.log(1.0 + (n - df(term).toDouble + 0.5) / (df(term).toDouble + 0.5))
          val tfc = f.toDouble * (1.2 + 1.0) /
            (f.toDouble + 1.2 * (1.0 - 0.75 + 0.75 * dl(d).toDouble / avgdl))
          (d, round6(idf * tfc))
      }
      val scored = contribs.groupBy(_._1).map { case (d, cs) =>
        (d, dsum6(cs.map(_._2)), cs.length.toLong)
      }.toSeq
      qid -> scored.sortBy { case (d, s, _) => (-s, d) }.take(10)
    }.toMap
  }

  test("q_text_bm25 equals the exact driver-side BM25 (same ln, rounding, decimal sum)") {
    val got = SparkEntry.queries("q_text_bm25")(spark, Sf0001).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getLong(1))
          .map(r => (r.getLong(2), r.getDouble(3), r.getLong(4))).toSeq
      }
    assert(got.keySet == bm25Brute.keySet)
    for ((q, rows) <- got)
      assert(rows == bm25Brute(q), s"qid $q: $rows vs brute ${bm25Brute(q)}")
  }

  test("q_sim_hybrid_rrf: fused scores re-derive from the leg ranks; dense leg matches brute cosine") {
    val got = SparkEntry.queries("q_sim_hybrid_rrf")(spark, Sf0001).collect()
    assert(got.nonEmpty)
    // Fused score is exactly 1/(60+dr) + 1/(60+sr) with absent legs = 0.
    for (r <- got) {
      val dr = if (r.isNullAt(3)) None else Some(r.getLong(3))
      val sr = if (r.isNullAt(4)) None else Some(r.getLong(4))
      assert(dr.isDefined || sr.isDefined, "a fused row must come from a leg")
      val exp = round6(dr.map(x => 1.0 / (60.0 + x)).getOrElse(0.0) +
        sr.map(x => 1.0 / (60.0 + x)).getOrElse(0.0))
      assert(r.getDouble(5) == exp, s"row $r: rrf ${r.getDouble(5)} != $exp")
    }
    // Per qid: ranks are 1..k and fused scores non-increasing.
    for ((_, rows) <- got.groupBy(_.getLong(0))) {
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq)
      val scores = sorted.map(_.getDouble(5)).toSeq
      assert(scores == scores.sorted.reverse, s"fused scores not ranked: $scores")
    }
    // Dense leg cross-check: brute cosine ranks over collected embeddings.
    val emb = Tables.embeddings(spark, Sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val denseBrute = (0L to 4L).map { qid =>
      val ranked = emb.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (id, round6(cos(v, emb(qid)))) }
        .sortBy { case (id, c) => (-c, id) }
        .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
      qid -> ranked
    }.toMap
    for (r <- got if !r.isNullAt(3)) {
      val exp = denseBrute(r.getLong(0))(r.getLong(2))
      assert(r.getLong(3) == exp,
        s"qid ${r.getLong(0)} id ${r.getLong(2)}: dense rank ${r.getLong(3)} != brute $exp")
    }
  }

  test("q_sample_weighted equals a brute-force A-Res draw (salted two-phase top-k is exact)") {
    val docs = Tables.documents(spark, Sf0001)
      .select(col("lang"), col("doc_id"), col("n_chars"), col("text"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def aresKey(text: String, w: Long): Double = {
      val hex = md.digest(text.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 8)
      val v = java.lang.Long.parseLong(hex, 16)
      round6(math.log((v.toDouble + 0.5) / 4294967296.0) / w.toDouble)
    }
    val brute = docs.map { case (l, d, nc, t) => (l, d, nc, aresKey(t, nc)) }
      .groupBy(_._1).map { case (l, rows) =>
        l -> rows.sortBy { case (_, d, _, k) => (-k, d) }.take(5)
          .zipWithIndex.map { case ((_, d, nc, k), i) => (i + 1L, d, nc, k) }.toSeq
      }
    val got = SparkEntry.queries("q_sample_weighted")(spark, Sf0001).collect()
      .groupBy(_.getString(0)).map { case (l, rows) =>
        l -> rows.sortBy(_.getLong(1))
          .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
      }
    assert(got.keySet == brute.keySet)
    for ((l, rows) <- got)
      assert(rows == brute(l), s"lang $l: $rows vs brute ${brute(l)}")
    // Heavier docs must be overrepresented vs a uniform draw in
    // expectation — sanity-check the weighting direction: the sampled
    // mean n_chars exceeds the corpus mean (weights span a wide range).
    val sampledMean = got.values.flatten.map(_._3).sum.toDouble /
      got.values.flatten.size
    val corpusMean = docs.map(_._3).sum.toDouble / docs.length
    assert(sampledMean > corpusMean,
      s"weighted draw not weight-biased: sampled $sampledMean vs corpus $corpusMean")
  }

  test("q_quality_drift equals a brute-force PSI; every type covered; totals sum to the corpus") {
    val ev = Tables.events(spark, Sf0001)
      .select(col("event_type"), col("ts"), col("value"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
    val cut = java.sql.Timestamp.valueOf("2024-01-16 00:00:00")
    val types = ev.map(_._1).distinct
    val brute = types.map { t =>
      val rows = ev.filter(_._1 == t)
      def bins(p: Boolean) = {
        val sel = rows.filter(r => r._2.before(cut) == p)
        (0 to 9).map(b => sel.count(r =>
          math.min(math.floor(r._3 / 50.0).toLong, 9L) == b).toLong)
      }
      val (cr, cu) = (bins(true), bins(false))
      val (nr, nc) = (cr.sum, cu.sum)
      val terms = (0 to 9).map { b =>
        val p = (cr(b).toDouble + 1.0) / (nr.toDouble + 10.0)
        val q = (cu(b).toDouble + 1.0) / (nc.toDouble + 10.0)
        round6((p - q) * math.log(p / q))
      }
      t -> (nr, nc, dsum6(terms))
    }.toMap
    val got = SparkEntry.queries("q_quality_drift")(spark, Sf0001).collect()
    assert(got.map(_.getString(0)).toSet == types.toSet, "every type covered")
    var total = 0L
    for (r <- got) {
      val (nr, nc, psi) = brute(r.getString(0))
      assert(r.getLong(1) == nr && r.getLong(2) == nc)
      assert(r.getDouble(3) == psi,
        s"${r.getString(0)}: psi ${r.getDouble(3)} != brute $psi")
      assert(r.getLong(4) == (if (psi > 0.1) 1L else 0L))
      total += nr + nc
    }
    assert(total == ev.length, "ref+cur totals must cover the corpus")
  }

  test("q_agg_weighted_median: router forms agree and match a brute crossing scan") {
    val agg = queries.Relational.wmedianAggForm(spark, Sf0001).collect()
    // The scale form's scan spans several range partitions, as it would
    // above the gate (withSplitScans), so the carries are compared too.
    val scale = withSplitScans(queries.Relational.wmedianScaleForm(spark, Sf0001).collect())
    assert(agg.map(_.toString).toSeq == scale.map(_.toString).toSeq,
      "window form and bucketed prefix form must be bit-identical")
    // Brute: exact decimal cumulative weight by ascending price per flag.
    val rows = Tables.lineitem(spark, Sf0001)
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val brute = rows.groupBy(_._1).map { case (f, rs) =>
      val byPrice = rs.groupBy(_._2).view
        .mapValues(_.map(x => BigDecimal(x._3)
          .setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum)
        .toSeq.sortBy(_._1)
      val total = byPrice.map(_._2).sum
      var cum = BigDecimal(0)
      val med = byPrice.collectFirst {
        case (p, w) if { cum += w; cum * 2 >= total } => p
      }.get
      f -> (rs.length.toLong, dsum6(rs.map(_._3)), med)
    }
    assert(agg.length == brute.size)
    for (r <- agg) {
      val (n, tq, med) = brute(r.getString(0))
      assert(r.getLong(1) == n && r.getDouble(2) == tq && r.getDouble(3) == med,
        s"${r.getString(0)}: got (${r.getLong(1)}, ${r.getDouble(2)}, " +
          s"${r.getDouble(3)}) vs brute ($n, $tq, $med)")
    }
  }

  test("q_join_range bucketed equi-join equals the naive interval filter") {
    val day0 = java.time.LocalDate.of(1970, 1, 1)
    def days(ts: java.time.LocalDateTime): Long =
      java.time.temporal.ChronoUnit.DAYS.between(day0, ts.toLocalDate)
    val wins = Tables.orders(spark, Sf0001)
      .filter(col("o_totalprice") > 470000.0)
      .select(col("o_orderpriority"), col("o_orderdate"))
      .collect()
      .map(r => (r.getString(0), days(r.getAs[java.time.LocalDateTime](1))))
    val pts = Tables.lineitem(spark, Sf0001)
      .select(col("l_shipdate"), col("l_extendedprice"))
      .collect()
      .map(r => (days(r.getAs[java.time.LocalDateTime](0)), r.getDouble(1)))
    // Naive all-pairs reference (fine at sf0.001) — the nested loop the
    // bucketed decomposition replaces. dsum at the output's scale 2.
    def dsum2(xs: Seq[Double]): Double = xs
      .map(BigDecimal(_).setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum
      .setScale(2, BigDecimal.RoundingMode.HALF_UP)
      .*(BigDecimal(100)).toLongExact / 100.0
    val brute = (for {
      (prio, s) <- wins
      (d, price) <- pts
      if d >= s && d < s + 2
    } yield (prio, price)).groupBy(_._1).view
      .mapValues(ps => (ps.length.toLong, dsum2(ps.map(_._2).toSeq)))
      .toMap
    val got = SparkEntry.queries("q_join_range")(spark, Sf0001).collect()
    assert(got.map(_.getString(0)).toSet == brute.keySet, "priority coverage")
    for (r <- got) {
      val (n, sum) = brute(r.getString(0))
      assert(r.getLong(1) == n, s"${r.getString(0)}: ${r.getLong(1)} pairs vs brute $n")
      assert(r.getDouble(2) == sum, s"${r.getString(0)}: sum ${r.getDouble(2)} vs $sum")
    }
  }

  test("q_graph_kcore satisfies the definitional coreness invariants") {
    val core = SparkEntry.queries("q_graph_kcore")(spark, Sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core.nonEmpty && core.values.max >= 2, "graph too sparse to test")
    // Rebuild the same undirected simple graph from the family's shared
    // edge definition (the reachability key exposes the pruned variant,
    // so re-derive unpruned edges directly).
    val e0 = Tables.lineitem(spark, Sf0001).select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, Sf0001).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(spark, Sf0001).select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.customer(spark, Sf0001).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .select(col("s_nationkey").cast("long").as("a"),
        col("c_nationkey").cast("long").as("b"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(e => e._1 != e._2)
    val adj = (e0 ++ e0.map(_.swap)).distinct.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    assert(core.keySet == adj.keySet, "every non-isolated node gets a coreness")
    // Invariant 1: the subgraph of nodes with coreness >= c has min degree
    // >= c (each such node keeps >= c neighbors inside the subgraph).
    for (c <- 1L to core.values.max) {
      val sub = core.filter(_._2 >= c).keySet
      for (n <- sub)
        assert((adj(n) & sub).size >= c,
          s"node $n (core ${core(n)}) keeps only ${(adj(n) & sub).size} " +
            s"neighbors in the >=$c core")
    }
    // Invariant 2 (maximality): bumping any node's coreness to c+1 breaks
    // the definition — in the subgraph of nodes with coreness >= c(n),
    // iteratively peeling at c(n)+1 removes n.
    for ((n, c) <- core) {
      var sub = core.filter(_._2 >= c).keySet
      var changed = true
      while (changed && sub(n)) {
        val doomed = sub.filter(m => (adj(m) & sub).size < c + 1)
        changed = doomed.nonEmpty
        sub = sub -- doomed
      }
      assert(!sub(n), s"node $n (core $c) survives a (c+1)-peel — coreness too low")
    }
  }

  test("q_agg_topk_group: WindowGroupLimit in the plan and a brute top-3 match") {
    val df = SparkEntry.queries("q_agg_topk_group")(spark, Sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=k pushdown missing — plan:\n${plan.take(800)}")
    val got = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // Brute from the per-(brand, part) revenue frame.
    val rev = Tables.lineitem(spark, Sf0001)
      .join(Tables.part(spark, Sf0001).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("p_partkey"),
        col("l_extendedprice"), col("l_discount"))
      .collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        r.getDouble(2) * 1.0 -> (r.getDouble(2), r.getDouble(3))))
      .map { case (k, (_, (p, d))) => k -> (p, d) }
    val brute = rev.groupBy(_._1).toSeq
      .map { case ((brand, part), rs) =>
        (brand, part, dsumLike(rs.map { case (_, (p, d)) => p * (1.0 - d) }, 2))
      }
      .groupBy(_._1).toSeq.flatMap { case (_, parts) =>
        parts.sortBy(p => (-p._3, p._2)).take(3).zipWithIndex
          .map { case ((b, pk, r), i) => (b, pk, r, i + 1) }
      }.sortBy(t => (t._1, t._4))
    assert(got.toSeq == brute, s"top-3 drift: ${got.take(4).toSeq} vs ${brute.take(4)}")
  }

  test("q_stats_winsorize: router forms agree and the clamp preserves the band") {
    val agg = queries.Relational.winsorAggForm(spark, Sf0001).collect()
    val scale = withSplitScans(queries.Relational.winsorScaleForm(spark, Sf0001).collect())
    assert(agg.map(_.toString).toSeq == scale.map(_.toString).toSeq,
      "single-buffer and bucketed quantile forms must be bit-identical")
    // The winsorized mean must sit inside [p05, p95] for every group.
    for (r <- agg)
      assert(r.getDouble(2) <= r.getDouble(4) && r.getDouble(4) <= r.getDouble(3),
        s"${r.getString(0)}: mean ${r.getDouble(4)} outside " +
          s"[${r.getDouble(2)}, ${r.getDouble(3)}]")
  }

  test("q_events_rfm: router forms agree, scores bounded, code composes") {
    val agg = queries.Relational.rfmAggForm(spark, Sf0001).collect()
    // Release the agg form's cached users first: once materialized, that
    // cache sizes the scale form's scan by its few hundred real bytes, one
    // range partition even under withSplitScans.
    graft.operators.ScaleOps.releaseTracked()
    val scale = withSplitScans(queries.Relational.rfmScaleForm(spark, Sf0001).collect())
    assert(agg.map(_.toString).toSeq == scale.map(_.toString).toSeq,
      "percentile edges and bucketed-exact edges must score identically")
    assert(agg.nonEmpty)
    for (r <- agg) {
      val (rs, fs, ms, code) =
        (r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))
      assert(rs >= 1 && rs <= 5 && fs >= 1 && fs <= 5 && ms >= 1 && ms <= 5)
      assert(code == rs * 100 + fs * 10 + ms)
    }
    // Threshold scoring must spread users across score levels.
    assert(agg.map(_.getLong(4)).distinct.length >= 3, "r_score degenerate")
  }

  test("q_join_asof_nearest equals a brute nearest-click scan") {
    def micros(v: Any): Long = v match {
      case t: java.sql.Timestamp =>
        t.getTime / 1000L * 1000000L + t.getNanos / 1000L
      case t: java.time.LocalDateTime =>
        t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L
    }
    val ev = Tables.events(spark, Sf0001)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), micros(r.get(1)), r.getLong(2), r.getString(3)))
    val brute = ev.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      val clicks = rs.filter(_._4 == "click").map(c => (c._2, c._3))
      rs.filter(_._4 == "purchase").flatMap { p =>
        if (clicks.isEmpty) None
        else {
          // nearest by |diff|; ties backward (diff >= 0 wins at equal
          // distance), then the carry convention picks the latest
          // backward click / earliest forward click.
          val back = clicks.filter(_._1 <= p._2)
            .sortBy(c => (c._1, c._2)).lastOption
          val fwd = clicks.filter(_._1 > p._2)
            .sortBy(c => (c._1, c._2)).headOption
          val pick = (back, fwd) match {
            case (Some(b), Some(f)) =>
              if (p._2 - b._1 <= f._1 - p._2) b else f
            case (Some(b), None) => b
            case (None, Some(f)) => f
            case _ => sys.error("unreachable")
          }
          Some(p._3 -> (pick._2, p._2 - pick._1))
        }
      }
    }.toMap
    val got = SparkEntry.queries("q_join_asof_nearest")(spark, Sf0001).collect()
    assert(got.length == brute.size)
    var fwdSeen = 0
    for (r <- got) {
      val (cid, diff) = brute(r.getLong(0))
      assert(r.getLong(2) == cid && r.getLong(3) == diff,
        s"purchase ${r.getLong(0)}: (${r.getLong(2)}, ${r.getLong(3)}) " +
          s"vs brute ($cid, $diff)")
      if (r.getLong(3) < 0) fwdSeen += 1
    }
    assert(fwdSeen > 0, "the forward direction must actually fire")
  }

  test("q_events_attribution equals a brute per-user carry scan") {
    def micros(v: Any): Long = v match {
      case t: java.sql.Timestamp =>
        t.getTime / 1000L * 1000000L + t.getNanos / 1000L
      case t: java.time.LocalDateTime =>
        t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L
    }
    val ev = Tables.events(spark, Sf0001)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
      .collect()
      .map(r => (r.getLong(0), micros(r.get(1)), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    val credited = ev.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      val sorted = rs.sortBy(r => (r._2, r._3))
      var lt: Option[(Long, String)] = None
      sorted.flatMap { r =>
        val out = if (r._4 == "purchase") {
          val ch = lt match {
            case Some((t, ty)) if t >= r._2 - 24L * 3600 * 1000000L => ty
            case _ => "direct"
          }
          Seq(ch -> r._5)
        } else Nil
        if (r._4 == "click" || r._4 == "view") lt = Some((r._2, r._4))
        out
      }
    }
    val brute = credited.groupBy(_._1).view
      .mapValues(xs => (xs.length.toLong, dsumLike(xs.map(_._2), 6))).toMap
    val got = SparkEntry.queries("q_events_attribution")(spark, Sf0001).collect()
    assert(got.map(_.getString(0)).toSet == brute.keySet)
    for (r <- got) {
      val (n, sv) = brute(r.getString(0))
      assert(r.getLong(1) == n && r.getDouble(2) == sv,
        s"${r.getString(0)}: (${r.getLong(1)}, ${r.getDouble(2)}) vs brute ($n, $sv)")
    }
  }

  test("q_agg_argmax struct-max aggregate equals the window greatest-row form") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").desc)
    val ref = Tables.customer(spark, Sf0001)
      .withColumn("rn", row_number().over(w))
      .withColumn("n_customers",
        count(lit(1)).over(Window.partitionBy(col("c_mktsegment"))))
      .filter(col("rn") === 1)
      .select(col("c_mktsegment"), col("n_customers"),
        col("c_acctbal").as("top_acctbal"), col("c_custkey").as("top_custkey"))
      .orderBy("c_mktsegment")
      .collect().map(_.toString).toSeq
    val got = SparkEntry.queries("q_agg_argmax")(spark, Sf0001)
      .collect().map(_.toString).toSeq
    assert(got == ref, s"argmax drift: $got vs $ref")
  }

  test("q_stream_anomaly: streamed moments + integer z-flags equal a brute batch recompute") {
    def micros(v: Any): Long = v match {
      case t: java.sql.Timestamp =>
        t.getTime / 1000L * 1000000L + t.getNanos / 1000L
      case t: java.time.LocalDateTime =>
        t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L
    }
    // sf0.01: enough volume that the n_prior >= 500 arming threshold is
    // actually crossed (200 events/type at sf0.001 never arms).
    val ev = Tables.events(spark, Sf001)
      .select(col("ts"), col("event_type"), col("value"))
      .collect()
      .map(r => (micros(r.get(0)), r.getString(1), r.getDouble(2)))
    val hourUs = 3600L * 1000000L
    val hourly = ev.groupBy(e => (e._2, Math.floorDiv(e._1, hourUs) * hourUs))
      .map { case ((ty, h), rs) =>
        val cents = rs.map(r => BigDecimal(r._3)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP)
          .*(BigDecimal(100)).toLongExact)
        (ty, h, rs.length.toLong, cents.sum, cents.map(c => c * c).sum)
      }.toSeq
    var armed = 0
    val brute = hourly.groupBy(_._1).flatMap { case (_, hs) =>
      val sorted = hs.sortBy(_._2)
      var np = BigInt(0); var s1p = BigInt(0); var s2p = BigInt(0)
      sorted.map { case (ty, h, n, s1, s2) =>
        val flag =
          if (np < 500) 0L
          else {
            armed += 1
            val lhsRoot = BigInt(s1) * np - s1p * BigInt(n)
            if (lhsRoot * lhsRoot > BigInt(9) * BigInt(n) * (np * s2p - s1p * s1p)) 1L
            else 0L
          }
        np += n; s1p += s1; s2p += s2
        (ty, h) -> (n, s1, flag)
      }
    }
    assert(armed > 0, "the arming threshold must be crossed at sf0.01")
    val got = SparkEntry.queries("q_stream_anomaly")(spark, Sf001).collect()
    assert(got.length == brute.size)
    for (r <- got) {
      val k = (r.getString(0), micros(r.get(1)))
      val (n, s1, flag) = brute(k)
      assert(r.getLong(2) == n && r.getLong(3) == s1 && r.getLong(4) == flag,
        s"$k: (${r.getLong(2)}, ${r.getLong(3)}, ${r.getLong(4)}) " +
          s"vs brute ($n, $s1, $flag)")
    }
  }

  test("q_window_median rolling frame equals a brute per-user 10-row median") {
    // ts surfaces as java.sql.Timestamp (TimestampType) or LocalDateTime
    // (NTZ) depending on the decode path; normalize either to epoch micros.
    def micros(v: Any): Long = v match {
      case t: java.sql.Timestamp =>
        t.getTime / 1000L * 1000000L + t.getNanos / 1000L
      case t: java.time.LocalDateTime =>
        t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L
    }
    val ev = Tables.events(spark, Sf0001)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), micros(r.get(1)), r.getLong(2), r.getDouble(3)))
    val brute = ev.groupBy(_._1).flatMap { case (_, rs) =>
      val sorted = rs.sortBy(r => (r._2, r._3))
      sorted.indices.map { i =>
        val frame = sorted.slice(math.max(0, i - 9), i + 1).map(_._4).sorted
        (sorted(i)._1, sorted(i)._3) -> frame((frame.length + 1) / 2 - 1)
      }
    }
    val got = SparkEntry.queries("q_window_median")(spark, Sf0001).collect()
    assert(got.length == ev.length)
    for (r <- got)
      assert(r.getDouble(4) == brute((r.getLong(0), r.getLong(2))),
        s"user ${r.getLong(0)} event ${r.getLong(2)}: " +
          s"${r.getDouble(4)} vs brute ${brute((r.getLong(0), r.getLong(2)))}")
  }
}
