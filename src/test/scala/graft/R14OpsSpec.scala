package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Brute-force cross-checks for the r14 batch-2 keys (tree split, ridge
  * path, eval metrics, rolling distinct, duplicated spans): each query at
  * sf0.001 vs a driver-side fold that restates the SEMANTICS naively —
  * integer/exact comparisons wherever the declared arithmetic is exact, so
  * a decomposition bug (not just a rounding slip) is what fails. */
class R14OpsSpec extends AnyFunSuite {
  import SparkFixture._

  private def roundN(x: Double, n: Int): Double =
    java.math.BigDecimal.valueOf(x).setScale(n, java.math.RoundingMode.HALF_UP).doubleValue()

  test("q_ml_tree_split equals a brute-force per-boundary variance-reduction scan") {
    val rows = Tables.lineitem(spark, Sf0001)
      .select(col("l_extendedprice"), col("l_quantity")).collect()
      .map(r => (math.floor(r.getDouble(0) / 4096.0).toLong, r.getDouble(1).toLong))
    val byBin = rows.groupBy(_._1).view.mapValues { g =>
      (g.size.toLong, g.map(_._2).sum, g.map(x => x._2 * x._2).sum)
    }.toMap
    val bins = byBin.keys.toSeq.sorted
    val (nT, sT, qT) = byBin.values.foldLeft((0L, 0L, 0L)) {
      case ((a, b, c), (n, s, q)) => (a + n, b + s, c + q)
    }
    def sse(n: Long, s: Long, q: Long): Double = q.toDouble - s.toDouble * s.toDouble / n.toDouble
    val expected = bins.dropRight(1).map { b =>
      val (nl, sl, ql) = bins.filter(_ <= b).foldLeft((0L, 0L, 0L)) {
        case ((a, bb, c), x) =>
          val (n, s, q) = byBin(x); (a + n, bb + s, c + q)
      }
      val (nr, sr, qr) = (nT - nl, sT - sl, qT - ql)
      (b, nl, nr, roundN(sse(nT, sT, qT) - sse(nl, sl, ql) - sse(nr, sr, qr), 4))
    }
    val best = expected.maxBy { case (b, _, _, g) => (g, -b) }._1
    val got = SparkEntry.queries("q_ml_tree_split")(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    assert(got.map(t => (t._1, t._2, t._3, t._4)).toSeq === expected)
    assert(got.filter(_._5).map(_._1).toSeq === Seq(best))
  }

  test("q_ml_ridge_path: lambda=0 reproduces OLS; slope magnitudes shrink with lambda") {
    val raw = Tables.lineitem(spark, Sf0001)
      .select(col("l_quantity"), col("l_discount"), col("l_extendedprice")).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    // Naive raw-double OLS via centered normal equations (no decimal path —
    // the tolerance absorbs summation-order noise, the SHAPE must agree).
    val n = raw.length.toDouble
    val (sq, sd, sy) = (raw.map(_._1).sum, raw.map(_._2).sum, raw.map(_._3).sum)
    val cqq = raw.map(t => t._1 * t._1).sum - sq * sq / n
    val cqd = raw.map(t => t._1 * t._2).sum - sq * sd / n
    val cdd = raw.map(t => t._2 * t._2).sum - sd * sd / n
    val cqy = raw.map(t => t._1 * t._3).sum - sq * sy / n
    val cdy = raw.map(t => t._2 * t._3).sum - sd * sy / n
    val det = cqq * cdd - cqd * cqd
    val b1 = (cdd * cqy - cqd * cdy) / det
    val b2 = (cqq * cdy - cqd * cqy) / det
    val b0 = sy / n - b1 * (sq / n) - b2 * (sd / n)
    val got = SparkEntry.queries("q_ml_ridge_path")(spark, Sf0001).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val ols = got.find(_._1 == 0.0).get
    assert(math.abs(ols._2 - b0) <= 1e-3 * math.max(1.0, math.abs(b0)))
    assert(math.abs(ols._3 - b1) <= 1e-3 * math.max(1.0, math.abs(b1)))
    assert(math.abs(ols._4 - b2) <= 1e-3 * math.max(1.0, math.abs(b2)))
    // L2 norm of the slope vector is non-increasing along the path.
    val norms = got.sortBy(_._1).map(t => math.sqrt(t._3 * t._3 + t._4 * t._4))
    assert(norms.zip(norms.tail).forall { case (a, b) => b <= a + 1e-9 })
    assert(norms.last < norms.head) // the big lambdas really do shrink
  }

  test("q_ml_eval_confusion equals brute-force per-class metrics") {
    val preds = Tables.embeddings(spark, Sf0001)
      .select(col("label"), col("embedding")).collect()
      .map { r =>
        val e = r.getSeq[Float](1).map(_.toDouble)
        val pred =
          if (e(0) >= e(1) && e(0) >= e(2) && e(0) >= e(3)) 0
          else if (e(1) >= e(2) && e(1) >= e(3)) 1
          else if (e(2) >= e(3)) 2 else 3
        (r.getInt(0) % 4, pred)
      }
    val expected = (0 to 3).map { c =>
      val tp = preds.count(p => p._1 == c && p._2 == c).toLong
      val fp = preds.count(p => p._1 != c && p._2 == c).toLong
      val fn = preds.count(p => p._1 == c && p._2 != c).toLong
      (c, tp, fp, fn, tp + fn,
        if (tp + fp == 0) null else roundN(tp.toDouble / (tp + fp).toDouble, 6),
        if (tp + fn == 0) null else roundN(tp.toDouble / (tp + fn).toDouble, 6),
        if (2 * tp + fp + fn == 0) null
        else roundN((2 * tp).toDouble / (2 * tp + fp + fn).toDouble, 6))
    }
    val got = SparkEntry.queries("q_ml_eval_confusion")(spark, Sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) null else r.getDouble(5),
        if (r.isNullAt(6)) null else r.getDouble(6),
        if (r.isNullAt(7)) null else r.getDouble(7)))
    assert(got.toSeq === expected)
  }

  test("q_window_distinct equals brute-force trailing-7-day distinct sets") {
    val evs = Tables.events(spark, Sf0001)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val expected = evs.map(e => (e._1, e._2)).distinct.sorted(
      Ordering.Tuple2(Ordering.String, Ordering.fromLessThan[java.time.LocalDate](_ isBefore _)))
      .map { case (tpe, day) =>
        val users = evs.filter(e => e._1 == tpe &&
          !e._2.isBefore(day.minusDays(6)) && !e._2.isAfter(day)).map(_._3).distinct
        (tpe, day.toString, users.size.toLong)
      }
    val got = SparkEntry.queries("q_window_distinct")(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === expected)
  }

  test("q_ml_gbdt_round equals a brute-force two-round boosting fold") {
    val raw = Tables.lineitem(spark, Sf0001)
      .select(col("l_extendedprice"), col("l_discount"), col("l_quantity")).collect()
      .map(r => (math.floor(r.getDouble(0) / 4096.0).toLong,
        math.floor(r.getDouble(1) * 100.0).toLong, r.getDouble(2)))
    // Round 1: exact-integer histogram on bin1, best split + leaf means.
    val by1 = raw.groupBy(_._1).view.mapValues { g =>
      (g.size.toLong, g.map(_._3.toLong).sum, g.map(x => x._3.toLong * x._3.toLong).sum)
    }.toMap
    val bins1 = by1.keys.toSeq.sorted
    val (nT, sT, qT) = by1.values.foldLeft((0L, 0L, 0L)) {
      case ((a, b, c), (n, s, q)) => (a + n, b + s, c + q)
    }
    def sse(n: Long, s: Double, q: Double): Double = q - s * s / n.toDouble
    val cands1 = bins1.dropRight(1).map { b =>
      val (nl, sl, ql) = bins1.filter(_ <= b).foldLeft((0L, 0L, 0L)) {
        case ((a, bb, c), x) => val (n, s, q) = by1(x); (a + n, bb + s, c + q)
      }
      (b, nl, sl, ql, roundN(sse(nT, sT.toDouble, qT.toDouble)
        - sse(nl, sl.toDouble, ql.toDouble)
        - sse(nT - nl, (sT - sl).toDouble, (qT - ql).toDouble), 4))
    }
    val (s1, nl1, sl1, _, _) = cands1.maxBy { case (b, _, _, _, g) => (g, -b) }
    val muL = sl1.toDouble / nl1.toDouble
    val muR = (sT - sl1).toDouble / (nT - nl1).toDouble
    // Round 2: residual histogram on bin2 through the decimal path.
    val res = raw.map { case (b1, b2, y) =>
      (b2, y - (if (b1 <= s1) muL else muR))
    }
    val by2 = res.groupBy(_._1).view.mapValues { g =>
      (g.size.toLong, dsumLike(g.map(_._2), 6), dsumLike(g.map(x => x._2 * x._2), 6))
    }.toMap
    // The query merges decimal partials across ALL bins before the one
    // round-scale conversion, so totals/prefixes fold the RAW per-row
    // values, not the per-bin rounded ones.
    val bins2 = by2.keys.toSeq.sorted
    val n2T = res.size.toLong
    val s2T = dsumLike(res.map(_._2), 6)
    val q2T = dsumLike(res.map(x => x._2 * x._2), 6)
    val expected = bins2.dropRight(1).map { b =>
      val left = res.filter(_._1 <= b)
      val (nl, sl, ql) = (left.size.toLong, dsumLike(left.map(_._2), 6),
        dsumLike(left.map(x => x._2 * x._2), 6))
      val right = res.filter(_._1 > b)
      val (nr, sr, qr) = (right.size.toLong, dsumLike(right.map(_._2), 6),
        dsumLike(right.map(x => x._2 * x._2), 6))
      (b, nl, nr, roundN(sse(n2T, s2T, q2T) - sse(nl, sl, ql) - sse(nr, sr, qr), 4))
    }
    val best2 = expected.maxBy { case (b, _, _, g) => (g, -b) }._1
    val got = SparkEntry.queries("q_ml_gbdt_round")(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4), r.getLong(5), r.getDouble(6), r.getDouble(7)))
    assert(got.map(t => (t._1, t._2, t._3, t._4)).toSeq === expected)
    assert(got.filter(_._5).map(_._1).toSeq === Seq(best2))
    assert(got.head._6 === s1)
    assert(got.head._7 === roundN(muL, 6))
    assert(got.head._8 === roundN(muR, 6))
  }

  test("q_join_view_maintain: the move probe exchanges NOTHING on the bucketed rollup side") {
    // The 100 TB claim: with the broadcast gate off (what a corpus-sized
    // move set does organically), the per-customer rollup joins from its
    // bucket layout — only the move set may exchange (the MergeSpec
    // bucketed-base pattern applied to the join-view's supporting index).
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val r0 = graft.queries.Relational.stagedCustOrderRollup(spark, Sf0001)
    val moves = Tables.customer(spark, Sf0001)
      .filter(col("c_custkey") % 10 === 2)
      .select(col("c_custkey").as("cust"), col("c_mktsegment").as("old_seg"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = PlanCheck.finalPlan(moves.join(r0, "cust"))
      def scansRollup(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        PlanCheck.flatten(p).exists {
          case f: FileSourceScanExec =>
            f.relation.location.rootPaths.exists(_.toString.contains("cust-order-rollup"))
          case _ => false
        }
      assert(scansRollup(plan), s"expected the rollup scan in:\n$plan")
      val rollupShuffles = PlanCheck.flatten(plan).count {
        case e: ShuffleExchangeLike => scansRollup(e)
        case _ => false
      }
      assert(rollupShuffles == 0, s"bucketed rollup side was shuffled:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_ml_eval_auc equals brute-force average-rank AUC; window ≡ scale form") {
    val rows = Tables.embeddings(spark, Sf0001)
      .select(col("embedding"), col("label")).collect()
      .map { r =>
        val e = r.getSeq[Float](0)
        (e(0).toDouble + e(1).toDouble, r.getInt(1) % 2 == 1)
      }
    // Brute force: ascending sort, average rank over tie runs.
    val sorted = rows.sortBy(_._1)
    val ranks = scala.collection.mutable.ArrayBuffer[Double]()
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j)._1 == sorted(i)._1) j += 1
      val avg = (i + 1 + j).toDouble / 2.0 // mean of positions i+1 .. j
      for (_ <- i until j) ranks += avg
      i = j
    }
    val nPos = sorted.count(_._2).toLong
    val nNeg = sorted.length - nPos
    val sumPos = sorted.zip(ranks).filter(_._1._2).map(_._2).sum
    val expected = roundN(
      (sumPos - nPos.toDouble * (nPos + 1).toDouble / 2.0) / (nPos.toDouble * nNeg), 6)
    val got = SparkEntry.queries("q_ml_eval_auc")(spark, Sf0001).collect().head
    assert(got.getLong(0) === nPos)
    assert(got.getLong(1) === nNeg)
    assert(got.getDouble(2) === expected)
    // The key's prefix scan must equal the window form bit for bit. Under
    // withSplitScans the scan spans several range partitions, as it does at
    // scale, so the carries are compared too.
    val w = ScaleOpsSpec.aucWindowForm(spark, Sf0001).collect().head
    val sc = withSplitScans(SparkEntry.queries("q_ml_eval_auc")(spark, Sf0001).collect().head)
    assert(w.toSeq === sc.toSeq)
    assert(w.toSeq === got.toSeq)
  }

  test("q_graph_triangles equals brute-force triangle enumeration") {
    val rows = Tables.lineitem(spark, Sf0001)
      .select(col("l_orderkey"), col("l_suppkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val orderCust = Tables.orders(spark, Sf0001)
      .select(col("o_orderkey"), col("o_custkey")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val suppNation = Tables.supplier(spark, Sf0001)
      .select(col("s_suppkey"), col("s_nationkey")).collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val custNation = Tables.customer(spark, Sf0001)
      .select(col("c_custkey"), col("c_nationkey")).collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val und = rows.flatMap { case (ok, sk) =>
      for {
        cust <- orderCust.get(ok); sn <- suppNation.get(sk); cn <- custNation.get(cust)
        if sn != cn
      } yield (math.min(sn, cn), math.max(sn, cn))
    }.distinct.toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val triCount = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for {
      a <- nodes; b <- nodes if a < b && und((a, b))
      c <- nodes if b < c && und((b, c)) && und((a, c))
    } { triCount(a) += 1; triCount(b) += 1; triCount(c) += 1 }
    val expected = Tables.nation(spark, Sf0001)
      .select(col("n_nationkey"), col("n_name")).collect()
      .map(r => (r.getInt(0).toLong, r.getString(1), triCount(r.getInt(0).toLong)))
      .sortBy(_._1)
    val got = SparkEntry.queries("q_graph_triangles")(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === expected.toSeq)
    assert(got.map(_._3).sum > 0, "corpus should contain at least one triangle")
  }

  test("q_ml_eval_calibration equals brute-force reliability bins") {
    val rows = Tables.embeddings(spark, Sf0001)
      .select(col("embedding"), col("label")).collect()
      .map { r =>
        val e = r.getSeq[Float](0)
        val score = e(0).toDouble + e(1).toDouble
        (math.floor((score + 1.0) * 5.0).toLong, score, r.getInt(1) % 2 == 1)
      }
    val expected = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (bin, g) =>
      (bin, g.size.toLong,
        roundN(SparkFixture.dsumLike(g.map(_._2), 6) / g.size, 6),
        g.count(_._3).toLong,
        roundN(g.count(_._3).toDouble / g.size.toDouble, 6))
    }
    val got = SparkEntry.queries("q_ml_eval_calibration")(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq === expected)
  }

  test("q_text_dup_spans equals brute-force shared-8-gram coverage") {
    val docs = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
    val n = 8
    val gramOwners = docs.flatMap { case (id, toks) =>
      toks.sliding(n).filter(_.size == n).map(g => (g.mkString(" "), id))
    }.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val expected = docs.sortBy(_._1).map { case (id, toks) =>
      val covered = toks.sliding(n).zipWithIndex
        .filter { case (g, _) => g.size == n && gramOwners(g.mkString(" ")) >= 2 }
        .flatMap { case (_, i) => i until (i + n) }.toSet
      (id, toks.size.toLong, covered.size.toLong,
        roundN(covered.size.toDouble / toks.size.toDouble, 6))
    }
    val got = SparkEntry.queries("q_text_dup_spans")(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === expected)
  }
}
