package graft.queries

import graft.Tables
import graft.functions.Det.{davg, dsum}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ML sufficient-statistics contract — SURVEY.md §2.5 (REF-P1/P2).
  *
  * This is the reference-parity core: each query is the single aggregation
  * pass that the reference's mapper/combiner/reducer pipeline computes —
  * partial statistics map-side (Spark's partial HashAggregate ≡ the
  * reference's in-mapper combining), exact merge reduce-side, closed-form
  * solve left to the (driver-side, O(d²)-sized) caller. At 100 TB each query
  * is one scan + one shuffle of a handful of grouped rows — the optimal
  * distributed shape for sufficient statistics.
  *
  * Float determinism: linear sums go through the exact DECIMAL(38,10) path
  * (Det.dsum — partition-order independent); central moments (var/covar) are
  * rounded to 6 dp, far above their ulp-level order sensitivity (SURVEY §2.9).
  */
object MlSuffStats {

  type Q = (SparkSession, String) => DataFrame

  /** Normal-equation sufficient statistics for y = b0 + b1·quantity +
    * b2·discount on lineitem: every entry of XᵀX and Xᵀy for x=(1,q,d).
    * One row out; the 3×3 solve is a host-side epilogue (tested against
    * MLlib's normal-equation solver in MlCrossCheckSpec). */
  val qMlLinregNormal: Q = (s, dir) => {
    val q = col("l_quantity"); val d = col("l_discount"); val y = col("l_extendedprice")
    Tables.lineitem(s, dir)
      .agg(
        count(lit(1)).as("n"),
        dsum(q).as("s_q"),
        dsum(d, 4).as("s_d"),
        dsum(q * q).as("s_qq"),
        dsum(q * d, 4).as("s_qd"),
        dsum(d * d, 6).as("s_dd"),
        dsum(y).as("s_y"),
        dsum(q * y).as("s_qy"),
        dsum(d * y, 4).as("s_dy"))
  }

  /** WEIGHTED normal-equation sufficient statistics (REF-P1's weighted /
    * locally-weighted linear-regression variant): every entry of XᵀWX and
    * XᵀWy for x = (1, q, d), y = extendedprice, with the deterministic
    * per-row weight w = 1/(1+q) — the literal stand-in for a locally-
    * weighted kernel (swap the expression, the plan is identical). Still
    * ONE scan + one shuffle of a single grouped row at any scale; the 3×3
    * weighted solve is a host-side epilogue cross-checked against MLlib
    * `LinearRegression(weightCol)` in MlCrossCheckSpec. All weighted sums
    * go through dsum's exact decimal path (w is the same IEEE double in
    * both engines: all inputs are parquet DOUBLEs). */
  val qMlWls: Q = (s, dir) => {
    val q = col("l_quantity"); val d = col("l_discount"); val y = col("l_extendedprice")
    val w = lit(1.0) / (lit(1.0) + q)
    Tables.lineitem(s, dir)
      .agg(
        count(lit(1)).as("n"),
        dsum(w, 4).as("s_w"),
        dsum(w * q, 4).as("s_wq"),
        dsum(w * d, 4).as("s_wd"),
        dsum(w * q * q, 4).as("s_wqq"),
        dsum(w * q * d, 4).as("s_wqd"),
        dsum(w * d * d, 6).as("s_wdd"),
        dsum(w * y).as("s_wy"),
        dsum(w * q * y).as("s_wqy"),
        dsum(w * d * y, 4).as("s_wdy"))
  }

  /** Gaussian Naive Bayes training statistics over embeddings: per class →
    * prior count + mean/variance of dims 0–3. Means go through the exact
    * decimal path; variances are rounded central moments. (DuckDB lists are
    * 1-indexed — the oracle reads embedding[1..4].) */
  val qMlNbTrain: Q = (s, dir) => {
    def e(i: Int) = col("embedding")(i).cast("double")
    Tables.embeddings(s, dir)
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        davg(e(0)).as("m0"), davg(e(1)).as("m1"),
        davg(e(2)).as("m2"), davg(e(3)).as("m3"),
        round(var_samp(e(0)), 6).as("v0"), round(var_samp(e(1)), 6).as("v1"),
        round(var_samp(e(2)), 6).as("v2"), round(var_samp(e(3)), 6).as("v3"))
      .orderBy("label")
  }

  /** Fixed centroids for the deterministic Lloyd step (k=4 over dims 0–1;
    * data is ~N(0, 0.126) per dim, so ±0.1 quarters the plane). */
  val kmeansCentroids: Seq[(Double, Double)] =
    Seq((-0.1, -0.1), (-0.1, 0.1), (0.1, -0.1), (0.1, 0.1))

  /** Squared distances of (x, y) to each of 4 centroids. */
  private def distTo(cs: Seq[(Double, Double)],
                     x: org.apache.spark.sql.Column,
                     y: org.apache.spark.sql.Column) =
    cs.map { case (cx, cy) => (x - cx) * (x - cx) + (y - cy) * (y - cy) }

  /** Nearest-centroid id for (x, y) — explicit `<=` cascade so ties break to
    * the lowest cluster id identically in Spark and the SQL oracle. */
  private def nearestTo(cs: Seq[(Double, Double)],
                        x: org.apache.spark.sql.Column,
                        y: org.apache.spark.sql.Column) = {
    val ds = distTo(cs, x, y)
    when(ds(0) <= ds(1) && ds(0) <= ds(2) && ds(0) <= ds(3), 0L)
      .when(ds(1) <= ds(2) && ds(1) <= ds(3), 1L)
      .when(ds(2) <= ds(3), 2L)
      .otherwise(3L)
  }

  private def nearest(x: org.apache.spark.sql.Column,
                      y: org.apache.spark.sql.Column) =
    nearestTo(kmeansCentroids, x, y)

  /** One deterministic k-means Lloyd step (REF-P2): assign each embedding to
    * the nearest fixed centroid, then recompute centroids + cluster sizes.
    * The reference re-submits a MapReduce job per iteration; here one
    * iteration is a single narrow projection + one tiny grouped aggregate,
    * and the full loop is `ml.clustering.KMeans` (ml/Pipelines.scala). */
  val qMlKmeansStep: Q = (s, dir) => {
    val e0 = col("embedding")(0).cast("double")
    val e1 = col("embedding")(1).cast("double")
    Tables.embeddings(s, dir)
      .select(nearest(e0, e1).as("cluster"), e0.as("e0"), e1.as("e1"))
      .groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n"),
        davg(col("e0")).as("new_cx"),
        davg(col("e1")).as("new_cy"))
      .orderBy("cluster")
  }

  /** Gaussian Discriminant Analysis statistics (REF-P1): per-class priors,
    * means and the per-class covariance entries of dims 0–1 — the pooled
    * covariance is the n-weighted sum of these rows (a 3-term host-side
    * epilogue, exercised in tests). */
  val qMlGdaStats: Q = (s, dir) => {
    val e0 = col("embedding")(0).cast("double")
    val e1 = col("embedding")(1).cast("double")
    Tables.embeddings(s, dir)
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        davg(e0).as("m0"),
        davg(e1).as("m1"),
        round(var_pop(e0), 6).as("s00"),
        round(covar_pop(e0, e1), 6).as("s01"),
        round(var_pop(e1), 6).as("s11"))
      .orderBy("label")
  }

  /** One deterministic LOGISTIC-REGRESSION gradient step (REF-P2's
    * iterative path, made hash-checkable the q_ml_kmeans_step way: fix the
    * iterate, grade the step): binary target `label % 2`, fixed weights
    * over dims 0–3, per-example sigmoid, then the batch gradient
    * `Σ (p − y)·xⱼ` and the log loss — exactly what ml/Iterative computes
    * per iteration, as one aggregation pass. Per-row doubles go through
    * dsum's DECIMAL(38,10) cast, which absorbs sub-1e-10 libm ulp
    * differences between engines before the order-independent exact sum
    * (SURVEY §2.9 determinism rules). */
  val qMlLogregStep: Q = (s, dir) => {
    val w = Seq(0.1, -0.2, 0.05, 0.15)
    val x = (0 until 4).map(i => col("embedding")(i).cast("double"))
    val z = x.zip(w).map { case (c, wi) => c * lit(wi) }.reduce(_ + _)
    val p = lit(1.0) / (lit(1.0) + exp(-z))
    val y = (col("label") % 2).cast("double")
    Tables.embeddings(s, dir)
      .select(p.as("p"), y.as("y"),
        x(0).as("x0"), x(1).as("x1"), x(2).as("x2"), x(3).as("x3"))
      .agg(
        count(lit(1)).as("n"),
        dsum((col("p") - col("y")) * col("x0"), 6).as("g0"),
        dsum((col("p") - col("y")) * col("x1"), 6).as("g1"),
        dsum((col("p") - col("y")) * col("x2"), 6).as("g2"),
        dsum((col("p") - col("y")) * col("x3"), 6).as("g3"),
        dsum(-(col("y") * log(col("p")) +
          (lit(1.0) - col("y")) * log(lit(1.0) - col("p"))), 6).as("loss"))
  }

  /** Shared by the Spark side and the oracle generator (q_ml_svm_step).
    * Magnitudes chosen so the margin actually straddles the hinge point
    * on this corpus (~2/3 violators at every SF) — with small weights
    * every row violates and the subgradient branch grades a constant. */
  val svmW0: Seq[Double] = Seq(8.0, -12.0, 6.0, 9.0)

  /** One FULL-BATCH linear-SVM subgradient step (r17) [pub: Shalev-Shwartz
    * et al. 2011, Pegasos — the batch form] — the max-margin member of
    * the reference's per-algorithm sufficient-statistics family (logistic
    * ✓, linear ✓, ridge ✓, trees ✓ — hinge loss completes the classic
    * linear-classifier trio): margin = y·(w₀·x) under fixed weights,
    * violators (margin < 1) contribute −y·x to the subgradient, plus the
    * violator count, support fraction denominator (n), and total hinge
    * loss. ONE map-side-combined aggregation over the corpus — the exact
    * shape the reference runs as a map/combine/reduce job per epoch; the
    * weight update w ← (1−ηλ)w − η·g/n is O(d) driver arithmetic.
    * Determinism: the margin is a fixed-order double expression (both
    * engines evaluate the identical tree, so the < 1 branch never
    * disagrees) and every sum runs dsum's exact-decimal path. */
  val qMlSvmStep: Q = (s, dir) => {
    val x = (0 until 4).map(i => col("embedding")(i).cast("double"))
    val y = when(col("label") % 2 === 1, lit(1.0)).otherwise(lit(-1.0))
    Tables.embeddings(s, dir)
      .select(y.as("y") +: (0 until 4).map(i => x(i).as(s"x$i")): _*)
      .withColumn("margin",
        col("y") * (0 until 4).map(i => col(s"x$i") * lit(svmW0(i))).reduce(_ + _))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("margin") < 1.0, 1L).otherwise(0L)).as("n_viol"),
        dsum(when(col("margin") < 1.0, -col("y") * col("x0")).otherwise(lit(0.0)), 6).as("g0"),
        dsum(when(col("margin") < 1.0, -col("y") * col("x1")).otherwise(lit(0.0)), 6).as("g1"),
        dsum(when(col("margin") < 1.0, -col("y") * col("x2")).otherwise(lit(0.0)), 6).as("g2"),
        dsum(when(col("margin") < 1.0, -col("y") * col("x3")).otherwise(lit(0.0)), 6).as("g3"),
        dsum(greatest(lit(0.0), lit(1.0) - col("margin")), 6).as("hinge_loss"))
  }

  /** Shared by the Spark side and the oracle generator (q_ml_adaboost_round):
    * the decision-stump candidate grid — every (feature, threshold,
    * polarity) combination is evaluated; the grid is small by design (the
    * per-round stump search is the O(candidates) part of AdaBoost, the
    * corpus pass is the O(n) part). */
  val adaThresholds: Seq[Double] = Seq(-0.1, 0.0, 0.1)

  /** One ADABOOST ROUND over decision stumps (r18 batch) [pub: Freund &
    * Schapire 1997] — the boosting member of the reference's classic-ML
    * family: under the first round's uniform weights, every candidate
    * stump h(x) = pol·sign(x_f − thr) is scored by its EXACT
    * misclassification count (integer — no float weights in round one, so
    * the argmin is exact), the best stump (min error; ties break by
    * feature, threshold, polarity) is flagged, and every candidate
    * carries its vote weight α = ½·ln((n−err)/err). Scale shape: the
    * 24-candidate grid broadcasts, the corpus pays ONE map-side-combined
    * pass scoring all candidates at once (the classic
    * one-job-per-round MapReduce boosting layout), and the argmin window
    * runs over 24 rows. */
  val qMlAdaboostRound: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val cands = for {
      f <- 0 until 4; t <- adaThresholds; p <- Seq(1, -1)
    } yield (f, t, p)
    val cdf = cands.toDF("f", "thr", "pol")
    val x = (0 until 4).map(i => col("embedding")(i).cast("double"))
    val base = Tables.embeddings(s, dir).select(
      when(col("label") % 2 === 1, 1).otherwise(-1).as("y") +:
      (0 until 4).map(i => x(i).as(s"x$i")): _*)
    val xf = when(col("f") === 0, col("x0")).when(col("f") === 1, col("x1"))
      .when(col("f") === 2, col("x2")).otherwise(col("x3"))
    val w = Window.orderBy(col("n_err"), col("f"), col("thr"), col("pol"))
    base.crossJoin(broadcast(cdf))
      .withColumn("pred",
        when(xf >= col("thr"), col("pol")).otherwise(-col("pol")))
      .groupBy(col("f"), col("thr"), col("pol"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred") =!= col("y"), 1L).otherwise(0L)).as("n_err"))
      .withColumn("eps",
        round(col("n_err").cast("double") / col("n").cast("double"), 6))
      .withColumn("alpha",
        round(when(col("n_err") > 0 && col("n_err") < col("n"),
          lit(0.5) * log((col("n") - col("n_err")).cast("double") /
            col("n_err").cast("double"))), 6))
      .withColumn("is_best",
        (row_number().over(w) === 1).cast("long"))
      .select(col("f").cast("long").as("f"), col("thr"),
        col("pol").cast("long").as("pol"), col("n_err"), col("eps"),
        col("alpha"), col("is_best"))
      .orderBy("f", "thr", "pol")
  }

  /** OUT-OF-FOLD TARGET ENCODING (r18 batch) — the leakage-safe
    * categorical featurizer production pipelines run before any tree/GLM
    * fit: each (category, fold) gets the smoothed target mean computed
    * from the OTHER folds only (encode fold f from data f never saw —
    * same content-addressed folds as q_ml_kfold, orderkey % 5), smoothing
    * m = 20 toward the out-of-fold global mean. Scale shape: the
    * q_ml_kfold sufficient-statistics subtraction — ONE map-side-combined
    * (category, fold) aggregation; category and global totals re-aggregate
    * that O(cats × folds) frame; leave-fold-out = total − fold partials,
    * never a second corpus pass. Exact decimal sums (dsum) feed one
    * fixed-order double epilogue. */
  val qMlTargetEncode: Q = (s, dir) => {
    // Work in EXACT integer cents end-to-end (o_totalprice carries
    // sub-cent precision, so a scale-2 decimal sum can land on half-cent
    // boundaries where the engines' double→decimal quantizers disagree —
    // the per-row round(×100)→long is the proven portable path, and every
    // aggregate after it is exact integer arithmetic).
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val o = Tables.orders(s, dir).select(
      col("o_orderpriority").as("cat"), (col("o_orderkey") % 5L).as("fold"),
      round(col("o_totalprice") * 100).cast("long").as("yc"))
    // cf feeds the category totals, the fold totals, the global total AND
    // the final join (a 4-way diamond): persist the O(cats×folds) frame so
    // the corpus pays ONE aggregation pass, not four.
    val cf = graft.operators.ScaleOps.trackedPersist(
      o.groupBy(col("cat"), col("fold"))
        .agg(count(lit(1)).as("n_cf"), sum(col("yc").cast(dec)).as("s_cf")))
    val cTot = cf.groupBy(col("cat"))
      .agg(sum(col("n_cf")).as("n_c"), sum(col("s_cf")).as("s_c"))
    val gTot = cf.groupBy(col("fold"))
      .agg(sum(col("n_cf")).as("n_f"), sum(col("s_cf")).as("s_f"))
      .crossJoin(broadcast(cf.agg(sum(col("n_cf")).as("n_all"),
        sum(col("s_cf")).as("s_all"))))
      .select(col("fold"), (col("n_all") - col("n_f")).as("n_oof"),
        (col("s_all") - col("s_f")).as("s_oof"))
    val m = lit(20.0)
    val nTrain = (col("n_c") - col("n_cf")).cast("double")
    val sTrain = (col("s_c") - col("s_cf")).cast("double") // exact: < 2^53
    val gMean = col("s_oof").cast("double") / col("n_oof").cast("double")
    cf.join(broadcast(cTot), "cat").join(broadcast(gTot), "fold")
      .select(col("cat"), col("fold"),
        (col("n_c") - col("n_cf")).as("n_train_cat"),
        round(when(nTrain > 0, sTrain / nTrain), 6).as("oof_mean_cents"),
        round((sTrain + m * gMean) / (nTrain + m), 6).as("encoding_cents"))
      .orderBy("cat", "fold")
  }

  /** WEIGHT OF EVIDENCE + INFORMATION VALUE (r18 batch) — the classic
    * credit-scoring / feature-screening statistic: per source (the
    * category), smoothed event/non-event shares against the binary target
    * lang = 'en', WOE = ln(share_pos/share_neg), IV contribution
    * = (share_pos − share_neg)·WOE, and the total IV as an exact decimal
    * window sum over ROUNDED contributions (the q_stats_chisq convention —
    * category order can never change it). ONE map-side-combined
    * conditional aggregation; everything after runs on O(categories)
    * rows. */
  val qMlWoeIv: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
      .select(col("source"), (col("lang") === "en").as("pos"))
    // cat feeds the totals AND the final projection: persist the
    // O(categories) frame — one corpus pass, not two.
    val cat = graft.operators.ScaleOps.trackedPersist(d.groupBy(col("source")).agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
      sum(when(!col("pos"), 1L).otherwise(0L)).as("n_neg")))
    val tot = cat.agg(sum(col("n_pos")).as("t_pos"), sum(col("n_neg")).as("t_neg"))
    val sp = (col("n_pos").cast("double") + 0.5) / col("t_pos").cast("double")
    val sn = (col("n_neg").cast("double") + 0.5) / col("t_neg").cast("double")
    val woe = log(sp / sn)
    cat.crossJoin(broadcast(tot))
      .withColumn("woe", round(woe, 6))
      .withColumn("iv_contrib", round((sp - sn) * woe, 6))
      .withColumn("iv_total", graft.functions.Det.dsumOver(col("iv_contrib"),
        Window.partitionBy(), scale = 6))
      .select(col("source"), col("n_pos"), col("n_neg"), col("woe"),
        col("iv_contrib"), col("iv_total"))
      .orderBy("source")
  }

  /** CHI-SQUARE FEATURE SELECTION (r18 batch) — the univariate filter
    * sklearn ships as chi2/SelectKBest, over hashing-trick features: each
    * document's tokens hash into 64 buckets (the q_ml_feature_hash md5
    * recipe — portable content addressing), presence is per-doc distinct,
    * and every bucket's 2×2 contingency against the binary label
    * lang = 'en' scores χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)); top 20
    * buckets win (ties → smaller bucket). Scale shape: explode + ONE
    * map-side-combined distinct + one conditional aggregation per bucket
    * (O(64) rows after); label totals broadcast; the top-20 is
    * TakeOrderedAndProject. Integer contingency → ONE fixed-order double
    * formula, exact in both engines. */
  val qMlChi2Select: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val h = md5(col("tok"))
    val present = docs
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), (col("lang") === "en").as("pos"),
        (conv(substring(h, 1, 4), 16, 10).cast("long") % 64).as("bucket"))
      .distinct()
    val tot = docs.agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("n_neg"))
    val byBucket = present.groupBy(col("bucket")).agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("a"),
      sum(when(!col("pos"), 1L).otherwise(0L)).as("b"))
    val cD = (col("n_pos") - col("a")).cast("double")
    val dD = (col("n_neg") - col("b")).cast("double")
    val (aD, bD) = (col("a").cast("double"), col("b").cast("double"))
    val n = (col("n_pos") + col("n_neg")).cast("double")
    val chi2 = n * (aD * dD - bD * cD) * (aD * dD - bD * cD) /
      ((aD + bD) * (cD + dD) * (aD + cD) * (bD + dD))
    byBucket.crossJoin(broadcast(tot))
      .select(col("bucket"), col("a").as("n_pos_present"),
        col("b").as("n_neg_present"), round(chi2, 6).as("chi2"))
      .orderBy(col("chi2").desc, col("bucket"))
      .limit(20)
  }

  /** DETERMINISTIC K-MEANS SEEDING — maximin / farthest-point traversal
    * (r18 batch) [pub: Gonzalez 1985; the deterministic k-means++ variant]:
    * seed 1 = the smallest-id point, each next seed = the point MAXIMIZING
    * its distance to the nearest chosen seed (ties → smallest vec_id),
    * k = 4 over the family's (e0, e1) plane. This is the seeding job the
    * reference would run before its Lloyd iterations (q_ml_kmeans_step /
    * _converged take their centroids from exactly this kind of pass).
    * Scale shape: one corpus argmax pass PER SEED (TakeOrdered — per-
    * partition top-1 + driver merge, no sort), seeds ride back as
    * literals; the driver holds O(k) doubles. Determinism: every distance
    * is the same fixed-order double expression in both engines, `least`
    * over doubles is exact, and the argmax carries the vec_id tiebreak. */
  val qMlKmeansPP: Q = (s, dir) => {
    val pts = graft.operators.ScaleOps.trackedPersist(
      Tables.embeddings(s, dir).select(col("vec_id"),
        col("embedding")(0).cast("double").as("e0"),
        col("embedding")(1).cast("double").as("e1")))
    val first = pts.orderBy(col("vec_id")).limit(1).head()
    val seeds = scala.collection.mutable.ArrayBuffer(
      (first.getLong(0), first.getDouble(1), first.getDouble(2), 0.0))
    for (_ <- 2 to 4) {
      val dmin = seeds.map { case (_, cx, cy, _) =>
        (col("e0") - lit(cx)) * (col("e0") - lit(cx)) +
          (col("e1") - lit(cy)) * (col("e1") - lit(cy))
      }.reduce(least(_, _))
      val nxt = pts.withColumn("d2", dmin)
        .orderBy(col("d2").desc, col("vec_id")).limit(1).head()
      seeds += ((nxt.getLong(0), nxt.getDouble(1), nxt.getDouble(2),
        nxt.getDouble(3)))
    }
    import s.implicits._
    seeds.zipWithIndex.map { case ((id, x, y, d2), i) =>
      (i + 1L, id,
        BigDecimal(java.math.BigDecimal.valueOf(x))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(java.math.BigDecimal.valueOf(y))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(java.math.BigDecimal.valueOf(d2))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.toDF("seed_round", "vec_id", "e0", "e1", "d2")
      .orderBy("seed_round")
  }

  /** Shared by the Spark side and the oracle generator so the two unrolled
    * iteration chains can never drift apart. */
  val logregIters = 4
  val logregLr = 0.5
  val logregW0: Seq[Double] = Seq(0.1, -0.2, 0.05, 0.15)

  /** MULTI-ITERATION logistic descent (REF-P2's full loop, graded
    * end-to-end): `logregIters` fixed gradient-descent steps on the mean
    * gradient from `logregW0`, then the final-iterate statistics. Each
    * iteration is one aggregation pass over a tracked-persisted projection
    * (the reference re-submits a job per iteration; the weights ride back in
    * as literals). Determinism composes per-step: every gradient goes
    * through dsum's exact DECIMAL(38,10) path rounded at 6 dp, and the
    * driver-side weight update `w − lr·(g/n)` is plain IEEE double
    * arithmetic — so the oracle's unrolled SQL CTE chain (same dsum twin,
    * same literal lr) reproduces the weight sequence bit-for-bit. The only
    * driver traffic is O(d) doubles per iteration. */
  val qMlLogregConverged: Q = (s, dir) => {
    val x = (0 until 4).map(i => col("embedding")(i).cast("double"))
    val base = Tables.embeddings(s, dir).select(
      (col("label") % 2).cast("double").as("y") +:
      (0 until 4).map(i => x(i).as(s"x$i")): _*)
    val df = graft.operators.ScaleOps.trackedPersist(base)
    def gradCols(w: Seq[Double]) = {
      val z = (0 until 4).map(i => col(s"x$i") * lit(w(i))).reduce(_ + _)
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      (count(lit(1)).as("n") +:
        (0 until 4).map(i => dsum((p - col("y")) * col(s"x$i"), 6).as(s"g$i"))) :+
        dsum(-(col("y") * log(p) +
          (lit(1.0) - col("y")) * log(lit(1.0) - p)), 6).as("loss")
    }
    var w = logregW0
    for (_ <- 1 to logregIters) {
      val aggs = gradCols(w)
      val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      val n = r.getLong(0).toDouble
      w = w.zipWithIndex.map { case (wi, i) =>
        wi - logregLr * (r.getDouble(i + 1) / n)
      }
    }
    val aggs = gradCols(w)
    df.agg(aggs.head, aggs.tail: _*)
      .select(col("n") +:
        (0 until 4).map(i => lit(w(i)).as(s"w$i")) ++:
        (0 until 4).map(i => col(s"g$i")) :+ col("loss"): _*)
  }

  /** Shared by the Spark side and the oracle generator (q_ml_gmm_converged):
    * EM iteration count and initial (w1, mu0, mu1, var0, var1). */
  val gmmIters = 3
  val gmmInit: (Double, Double, Double, Double, Double) = (0.5, -0.05, 0.05, 0.01, 0.01)

  /** MULTI-ITERATION GMM EM (the second P2 loop graded end-to-end, the
    * q_ml_logreg_converged pattern): `gmmIters` EM steps of a 1-D
    * two-component mixture over embedding dim 0, then the final parameters
    * and observed log-likelihood. Per-iteration: responsibilities as
    * expressions, six dsum sufficient statistics in ONE aggregation pass,
    * M-step arithmetic driver-side in plain IEEE doubles — so the oracle's
    * unrolled CTE chain (same dsum twins, same literal constants, same
    * association order) reproduces the parameter sequence bit-for-bit.
    * Gaussian exp/ln ulp differences between engines are absorbed by the
    * per-row DECIMAL(38,10) cast before the exact sum (SURVEY §2.9). */
  val qMlGmmConverged: Q = (s, dir) => {
    val df = graft.operators.ScaleOps.trackedPersist(
      Tables.embeddings(s, dir).select(col("embedding")(0).cast("double").as("x")))
    val x = col("x")
    def gauss(mu: Double, v: Double) =
      exp((x - lit(mu)) * (x - lit(mu)) * lit(-0.5 / v)) *
        lit(1.0 / math.sqrt(2 * math.Pi * v))
    var (w1, mu0, mu1, v0, v1) = gmmInit
    for (_ <- 1 to gmmIters) {
      val p0 = gauss(mu0, v0) * lit(1.0 - w1)
      val p1 = gauss(mu1, v1) * lit(w1)
      val r1 = p1 / (p0 + p1)
      val r = df.agg(
        count(lit(1)).as("n"),
        dsum(r1, 6).as("n1"),
        dsum((lit(1.0) - r1) * x, 6).as("s0"),
        dsum(r1 * x, 6).as("s1"),
        dsum((lit(1.0) - r1) * x * x, 6).as("q0"),
        dsum(r1 * x * x, 6).as("q1")).collect()(0)
      val n = r.getLong(0).toDouble
      val n1 = r.getDouble(1); val n0 = n - n1
      w1 = n1 / n
      mu0 = r.getDouble(2) / n0
      mu1 = r.getDouble(3) / n1
      v0 = math.max(r.getDouble(4) / n0 - mu0 * mu0, 1e-9)
      v1 = math.max(r.getDouble(5) / n1 - mu1 * mu1, 1e-9)
    }
    val p0 = gauss(mu0, v0) * lit(1.0 - w1)
    val p1 = gauss(mu1, v1) * lit(w1)
    df.agg(count(lit(1)).as("n"), dsum(log(p0 + p1), 6).as("loglik"))
      .select(col("n"), lit(w1).as("w1"), lit(mu0).as("mu0"), lit(mu1).as("mu1"),
        lit(v0).as("v0"), lit(v1).as("v1"), col("loglik"))
  }

  /** Shared by the Spark side and the oracle generator
    * (q_ml_kmeans_converged): fixed Lloyd iteration count; the starting
    * centroids are [[kmeansCentroids]]. */
  val kmeansConvIters = 3

  /** MULTI-ITERATION k-means (REF-P2's flagship loop, graded end-to-end —
    * the q_ml_logreg_converged / q_ml_gmm_converged machinery applied to
    * Lloyd's algorithm): `iters` fixed assign/update steps from the shared
    * starting centroids, then the final per-cluster statistics — size,
    * centroid, within-cluster sum of squared distances. Each iteration is
    * one narrow projection + one 4-row grouped aggregate over a tracked-
    * persisted projection; the centroid update `s/n` happens driver-side in
    * plain IEEE doubles (O(k·d) doubles of driver traffic per iteration —
    * the reference re-submits a MapReduce job per iteration with centroids
    * riding along in the job conf). Determinism composes per step: both
    * coordinate sums go through dsum's exact DECIMAL(38,10) path rounded at
    * 6 dp, assignment ties break through the same `<=` cascade in both
    * engines, so the oracle's unrolled CTE chain reproduces the centroid
    * sequence bit-for-bit. The single-step sibling (q_ml_kmeans_step) keeps
    * the one-pass sufficient-statistics grade; the MLlib KMeans cross-check
    * lives in MlCrossCheckSpec. */
  def kmeansConvergedQ(iters: Int): Q = (s, dir) => {
    val df = graft.operators.ScaleOps.trackedPersist(
      Tables.embeddings(s, dir).select(
        col("embedding")(0).cast("double").as("e0"),
        col("embedding")(1).cast("double").as("e1")))
    var cs = kmeansCentroids
    for (_ <- 1 to iters) {
      val rows = df
        .select(nearestTo(cs, col("e0"), col("e1")).as("cluster"),
          col("e0"), col("e1"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"),
          dsum(col("e0"), 6).as("s0"), dsum(col("e1"), 6).as("s1"))
        .collect()
      val stats = rows.map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
      // An empty cluster keeps its previous centroid (the oracle's
      // coalesce(..., previous) mirror) — with this data/init all 4 stay
      // populated, but the rule must be identical in both engines.
      cs = cs.zipWithIndex.map { case (prev, i) =>
        stats.get(i.toLong) match {
          case Some((n, s0, s1)) if n > 0L => (s0 / n, s1 / n)
          case _ => prev
        }
      }
    }
    val ds = distTo(cs, col("e0"), col("e1"))
    // The assigned centroid's distance IS the minimum (ties share the
    // value), so least() gives the per-point WSSQ contribution without a
    // second cascade.
    val cx = when(col("cluster") === 0L, lit(cs(0)._1))
      .when(col("cluster") === 1L, lit(cs(1)._1))
      .when(col("cluster") === 2L, lit(cs(2)._1))
      .otherwise(lit(cs(3)._1))
    val cy = when(col("cluster") === 0L, lit(cs(0)._2))
      .when(col("cluster") === 1L, lit(cs(1)._2))
      .when(col("cluster") === 2L, lit(cs(2)._2))
      .otherwise(lit(cs(3)._2))
    df.select(nearestTo(cs, col("e0"), col("e1")).as("cluster"),
        least(ds: _*).as("d2"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), dsum(col("d2"), 6).as("wssq"))
      .select(col("cluster"), col("n"), cx.as("cx"), cy.as("cy"), col("wssq"))
      .orderBy("cluster")
  }

  val qMlKmeansConverged: Q = kmeansConvergedQ(kmeansConvIters)

  /** PCA top-3 principal components of the 64-dim embeddings — the
    * reference family's dimensionality-reduction member, in the P1
    * sufficient-stats shape at a dimension where per-entry sum columns
    * stop being writable: ONE Gram-UDAF pass accumulates XᵀX, Σx (the Xᵀy
    * slot with y≡1) and n map-side (the shuffle carries one ~2.2k-double
    * row per partition at any corpus size), the driver forms the 64×64
    * covariance and runs a deterministic POWER ITERATION WITH DEFLATION
    * (fixed all-ones start, 3000 matvecs per component — microseconds at
    * d=64; after each eigenpair converges, C ← C − λ v vᵀ exposes the
    * next). All three components come from the SAME single corpus pass —
    * the deflation runs on the driver's 64×64 matrix, never re-reads
    * data. The driver-side solve is the prescribed P2 pattern: O(d²)
    * scalars cross the boundary, never rows. Sign pinned per component
    * (largest-|loading| coordinate positive), outputs rounded — the tiny
    * partition-order jitter of the double Gram sums is ~1e-9 in the
    * loadings, far under the 6-dp surface. No oracle: an eigensolve is
    * not SQL-expressible; MlCrossCheckSpec pins per-component |cos| ≥
    * 0.999 against MLlib PCA (k = 3), descending eigenvalues, and
    * pairwise orthogonality. */
  val qMlPcaPower: Q = (s, dir) => {
    import s.implicits._
    val d = 64
    val k = 3
    val packed = Tables.embeddings(s, dir)
      .select(col("embedding").cast("array<double>").as("x"))
      .agg(graft.functions.Gram.gram(d)(col("x"), lit(1.0)).as("g"))
      .collect()(0).getSeq[Double](0).toArray
    val (xtx, sx, n) = graft.functions.Gram.unpack(d, packed)
    val c = Array.tabulate(d, d)((i, j) => (xtx(i)(j) - sx(i) * sx(j) / n) / (n - 1.0))
    def matvec(v: Array[Double]): Array[Double] = Array.tabulate(d) { i =>
      var acc = 0.0; var j = 0
      while (j < d) { acc += c(i)(j) * v(j); j += 1 }
      acc
    }
    val trace = (0 until d).map(i => c(i)(i)).sum
    val comps = (1 to k).map { comp =>
      var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
      for (_ <- 0 until 3000) {
        val w = matvec(v)
        val nrm = math.sqrt(w.map(x => x * x).sum)
        v = w.map(_ / nrm)
      }
      val cv = matvec(v)
      val eig = v.zip(cv).map { case (a, b) => a * b }.sum
      // Deflate in place: the next component is the top eigenpair of the
      // residual matrix C − λ v vᵀ.
      for (i <- 0 until d; j <- 0 until d) c(i)(j) -= eig * v(i) * v(j)
      val am = v.indices.maxBy(i => (math.abs(v(i)), -i))
      val sgn = if (v(am) < 0) -1.0 else 1.0
      (comp, v.map(_ * sgn), eig)
    }
    comps.flatMap { case (comp, v, eig) =>
      v.indices.map(i => (comp, i.toLong, v(i), eig, eig / trace))
    }
      .toDF("component", "dim_idx", "loading", "eigval", "var_ratio")
      .select(col("component"), col("dim_idx"),
        round(col("loading"), 6).as("loading"),
        round(col("eigval"), 6).as("eigval"), round(col("var_ratio"), 6).as("var_ratio"))
      .orderBy("component", "dim_idx")
  }

  /** HISTOGRAM-BASED BEST-SPLIT FINDING — the regression-stump step of
    * gradient-boosted trees / CART (LightGBM's histogram algorithm, public):
    * feature = l_extendedprice row-locally binned at width 4096 (≤26 bins
    * over the [901, 105k] domain — at 100 TB the widths would come from a
    * quantile sketch, same plan), target = l_quantity. ONE map-side-combined
    * aggregation builds per-bin (n, Σy, Σy²); every candidate boundary's
    * left/right stats then come from a triangle self-join over the ≤26-row
    * bin table (bounded epilogue — deliberately NOT a float window sum,
    * whose in-frame association order differs between engines). Σy and Σy²
    * are EXACT integers here (quantity is integral 1..50), surfaced as
    * BIGINT, so the variance-reduction gain is identical IEEE arithmetic on
    * identical integer inputs in both engines:
    *   gain = SSE_parent − SSE_left − SSE_right,  SSE = Σy² − (Σy)²/n.
    * Splitting at boundary b sends bins ≤ b left; the max bin is excluded
    * (empty right side). is_best tie-breaks on (gain desc, bin asc) over the
    * ROUNDED gain. Corpus cost at any scale: one scan + one ≤26-group
    * shuffle. */
  /** The integer-exact split machinery shared by q_ml_tree_split and
    * q_ml_gbdt_round's round 1 (factored so the gain algebra / tie-break /
    * prefix strategy cannot drift between the two keys): from a PERSISTED
    * bounded bin table (bin, n, s=Σy exact BIGINT, q=Σy² exact BIGINT),
    * every candidate boundary's left/right stats via the triangle
    * self-join + the totals row, with the variance-reduction gain rounded
    * to 4 dp. Max bin excluded (empty right side). */
  private def intSplitCandidates(bins: DataFrame): DataFrame = {
    val d = (c: Column) => c.cast("double")
    val tot = bins.agg(sum(col("n")).as("n_tot"), sum(col("s")).as("s_tot"),
      sum(col("q")).as("q_tot"))
    val cum = bins.as("c").join(bins.as("b"), col("b.bin") <= col("c.bin"))
      .groupBy(col("c.bin").as("split_bin"))
      .agg(sum(col("b.n")).as("nl"), sum(col("b.s")).as("sl"), sum(col("b.q")).as("ql"))
    cum.crossJoin(tot)
      .withColumn("nr", col("n_tot") - col("nl"))
      .filter(col("nr") > 0)
      .withColumn("sr", col("s_tot") - col("sl"))
      .withColumn("qr", col("q_tot") - col("ql"))
      .withColumn("gain", round(
        (d(col("q_tot")) - d(col("s_tot")) * d(col("s_tot")) / d(col("n_tot"))) -
        (d(col("ql")) - d(col("sl")) * d(col("sl")) / d(col("nl"))) -
        (d(col("qr")) - d(col("sr")) * d(col("sr")) / d(col("nr"))), 4))
  }

  /** Bounded bin table of an integral-valued target over a row-local bin
    * expression, PERSISTED: it feeds three consumers (both triangle sides
    * + the totals row) — without the persist each re-runs the corpus
    * aggregation. */
  private def intBins(rows: DataFrame, bin: Column, y: Column): DataFrame =
    graft.operators.ScaleOps.trackedPersist(
      rows.select(bin.as("bin"), y.as("y"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          sum(col("y").cast("decimal(38,10)")).cast("long").as("s"),
          sum((col("y") * col("y")).cast("decimal(38,10)")).cast("long").as("q")))

  val qMlTreeSplit: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val bins = intBins(Tables.lineitem(s, dir),
      floor(col("l_extendedprice") / 4096.0).cast("long"), col("l_quantity"))
    intSplitCandidates(bins)
      .select(col("split_bin"), col("nl").as("n_left"), col("nr").as("n_right"),
        col("gain"),
        (row_number().over(Window.orderBy(col("gain").desc, col("split_bin"))) === 1)
          .as("is_best"))
      .orderBy("split_bin")
  }

  /** ONE FULL GRADIENT-BOOSTING ROUND — the iteration pattern of
    * histogram-GBDT (XGBoost/LightGBM, public): fit a regression stump,
    * broadcast its leaf model, compute per-row residuals, fit the NEXT
    * stump on the residuals over a second feature. Exactly two corpus
    * passes — one bounded-bin histogram aggregation per boosting round,
    * the canonical distributed-GBDT cost — with all split selection in
    * bounded epilogues:
    *
    *  - round 1: the q_ml_tree_split construction (price bins, integral
    *    target ⇒ exact BIGINT Σy/Σy²; triangle-join prefix stats; gain
    *    argmax tie-broken (gain desc, bin asc)); leaf means μL = Σy_l/n_l,
    *    μR from the SAME exact integers via one IEEE division each, so
    *    both engines hold bit-identical leaf models;
    *  - round 2: residual r = y − μ(leaf) is identical double arithmetic
    *    per row; the residual histogram over discount bins
    *    (floor(d·100) — both engines floor the same IEEE product, so
    *    binning agrees bit-for-bit) accumulates Σr/Σr² through the exact
    *    DECIMAL(38,10) path, converted once post-merge by the dsum
    *    round-scale dance.
    *
    * Output: every round-2 candidate split with its variance-reduction
    * gain on the RESIDUALS + is_best, carrying the round-1 model
    * (split/leaf means, display-rounded) as constant columns. */
  /** Feature schedule of the K-round boosting loop — shared with the
    * oracle generator (Oracle.gbdtConvergedSql unrolls one CTE block per
    * entry) and the R18OpsSpec monotonicity certificate. */
  val gbdtConvRounds: Seq[String] = Seq("bin1", "bin2", "bin1", "bin2")

  /** MULTI-ROUND BOOSTING TO CONVERGENCE (r18 — VERDICT r17 Missing #3:
    * "a round is correct" vs "the ensemble trains"): K = 4 stump rounds
    * alternating the two binned features, each round fitting the current
    * RESIDUALS (learning rate 1, leaf means), with a MONOTONE-DECREASING
    * training-loss certificate — the q_ml_kmeans_converged pattern
    * applied to boosting. loss_0 = SSE around the global mean; each
    * round's best-split gain is an exact SSE reduction, so
    * loss_t = round(loss_{t-1} − gain_t, 4) is non-increasing by
    * construction and the chain is 4-dp-exact in both engines.
    *
    * Scale shape: K corpus passes (one residual histogram groupBy per
    * round — map-side-combined, O(bins) rows shuffled); split selection
    * and the loss chain are driver arithmetic on the collected O(bins)
    * histogram, mirroring the oracle's fin/round dance digit for digit
    * (decimal sums → round-6 → 1e6-long → double; gains rounded 4 dp;
    * argmax tie-broken (gain DESC, split_bin)). Residual frames chain
    * through per-round persists released by the runner. */
  val qMlGbdtConverged: Q = (s, dir) => {
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,10)")
    def fin(bd: java.math.BigDecimal): Double =
      BigDecimal(bd).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .*(BigDecimal(1000000L)).toLongExact / 1e6
    // Scaled-long space (the oracle's gain4/lp6): round then move the
    // point — the loss chain is pure integer subtraction, immune to
    // double rounding boundaries, and the ANCHOR rounds at 6 dp because
    // the parent SSE lands exactly on 4-dp ties (st² divisible by 3 →
    // qt − st²/n on the 5e-5 grid) where the two engines' double
    // rounding disagrees; 6 dp puts those grid points ON the output
    // grid, tie-free.
    def rNl(x: Double, scale: Int): Long =
      java.math.BigDecimal.valueOf(x)
        .setScale(scale, java.math.RoundingMode.HALF_UP)
        .movePointRight(scale).longValueExact
    def r4l(x: Double): Long = rNl(x, 4)
    var resid = graft.operators.ScaleOps.trackedPersist(
      Tables.lineitem(s, dir).select(
        floor(col("l_extendedprice") / 4096.0).cast("long").as("bin1"),
        floor(col("l_discount") * 100.0).cast("long").as("bin2"),
        col("l_quantity").cast("double").as("r")))
    var loss6 = 0L
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Long, Double, Double, Double, Double)]
    for ((f, i) <- gbdtConvRounds.zipWithIndex) {
      val bins = resid.groupBy(col(f).as("b"))
        .agg(count(lit(1)).as("n"), sum(dec(col("r"))).as("sv"),
          sum(dec(col("r") * col("r"))).as("qv"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2), r.getDecimal(3)))
        .sortBy(_._1)
      val nTot = bins.map(_._2).sum
      val sTot = bins.map(_._3).reduce(_ add _)
      val qTot = bins.map(_._4).reduce(_ add _)
      val (stD, qtD) = (fin(sTot), fin(qTot))
      if (i == 0) loss6 = rNl(qtD - stD * stD / nTot.toDouble, 6)
      // Prefix cumulative in ascending bin order (the oracle's triangle
      // join); argmax keeps the FIRST maximum = smallest split_bin.
      var (nl, slDec, qlDec) =
        (0L, java.math.BigDecimal.ZERO, java.math.BigDecimal.ZERO)
      var best: (Long, Long, Double, Double) = null
      for ((b, n, sv, qv) <- bins) {
        nl += n; slDec = slDec.add(sv); qlDec = qlDec.add(qv)
        val nr = nTot - nl
        if (nr > 0) {
          val (slD, srD) = (fin(slDec), fin(sTot.subtract(slDec)))
          val (qlD, qrD) = (fin(qlDec), fin(qTot.subtract(qlDec)))
          val gain4 = r4l((qtD - stD * stD / nTot.toDouble) -
            (qlD - slD * slD / nl.toDouble) -
            (qrD - srD * srD / nr.toDouble))
          if (best == null || gain4 > best._1)
            best = (gain4, b, slD / nl.toDouble, srD / nr.toDouble)
        }
      }
      val (gain4, sb, muL, muR) = best
      loss6 -= 100L * gain4
      out += ((i + 1L, f, sb, muL, muR, gain4 / 10000.0, loss6 / 1000000.0))
      resid = graft.operators.ScaleOps.trackedPersist(
        resid.select(col("bin1"), col("bin2"),
          (col("r") - when(col(f) <= lit(sb), lit(muL)).otherwise(lit(muR)))
            .as("r")))
    }
    out.toSeq
      .toDF("round", "feature", "split_bin", "mu_left", "mu_right", "gain", "loss")
      .select(col("round"), col("feature"), col("split_bin"),
        round(col("mu_left"), 6).as("mu_left"),
        round(col("mu_right"), 6).as("mu_right"), col("gain"), col("loss"))
      .orderBy("round")
  }

  val qMlGbdtRound: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val d = (c: Column) => c.cast("double")
    val rows = Tables.lineitem(s, dir).select(
      floor(col("l_extendedprice") / 4096.0).cast("long").as("bin1"),
      floor(col("l_discount") * 100.0).cast("long").as("bin2"),
      col("l_quantity").as("y"))
    // ---- round 1: the SHARED tree-split machinery (intBins +
    // intSplitCandidates — one definition of the gain/tie-break for both
    // keys), reduced to the argmax row's leaf means.
    val best1 = intSplitCandidates(intBins(rows, col("bin1"), col("y")))
      .withColumn("rn",
        row_number().over(Window.orderBy(col("gain").desc, col("split_bin"))))
      .filter(col("rn") === 1)
      .select(col("split_bin").as("r1_split"),
        (d(col("sl")) / d(col("nl"))).as("mu_l"),
        (d(col("sr")) / d(col("nr"))).as("mu_r"))
    // ---- round 2: residual histogram over the second feature
    val dec = (c: Column) => c.cast("decimal(38,10)")
    val res = rows.crossJoin(broadcast(best1))
      .select(col("bin2"), col("r1_split"), col("mu_l"), col("mu_r"),
        (col("y") - when(col("bin1") <= col("r1_split"), col("mu_l"))
          .otherwise(col("mu_r"))).as("r"))
    val bins2 = graft.operators.ScaleOps.trackedPersist(
      res.groupBy(col("bin2"))
        .agg(count(lit(1)).as("n"), sum(dec(col("r"))).as("sv"),
          sum(dec(col("r") * col("r"))).as("qv"),
          first(col("r1_split")).as("r1_split"),
          first(col("mu_l")).as("mu_l"), first(col("mu_r")).as("mu_r")))
    // Post-merge decimal → deterministic double (the dsum dance, scale 6).
    val fin = (c: Column) =>
      (round(c, 6) * lit(1000000L)).cast("long").cast("double") / lit(1e6)
    val tot2 = bins2.agg(sum(col("n")).as("n_tot"), sum(col("sv")).as("s_tot"),
      sum(col("qv")).as("q_tot"))
    val cum2 = bins2.as("c").join(bins2.as("b"), col("b.bin2") <= col("c.bin2"))
      .groupBy(col("c.bin2").as("split_bin"))
      .agg(sum(col("b.n")).as("nl"), sum(col("b.sv")).as("sl"),
        sum(col("b.qv")).as("ql"),
        first(col("c.r1_split")).as("r1_split"),
        first(col("c.mu_l")).as("mu_l"), first(col("c.mu_r")).as("mu_r"))
    cum2.crossJoin(tot2)
      .withColumn("nr", col("n_tot") - col("nl"))
      .filter(col("nr") > 0)
      .withColumn("sl_d", fin(col("sl")))
      .withColumn("sr_d", fin(col("s_tot") - col("sl")))
      .withColumn("ql_d", fin(col("ql")))
      .withColumn("qr_d", fin(col("q_tot") - col("ql")))
      .withColumn("st_d", fin(col("s_tot")))
      .withColumn("qt_d", fin(col("q_tot")))
      .withColumn("gain", round(
        (col("qt_d") - col("st_d") * col("st_d") / d(col("n_tot"))) -
        (col("ql_d") - col("sl_d") * col("sl_d") / d(col("nl"))) -
        (col("qr_d") - col("sr_d") * col("sr_d") / d(col("nr"))), 4))
      .select(col("split_bin"), col("nl").as("n_left"), col("nr").as("n_right"),
        col("gain"),
        (row_number().over(Window.orderBy(col("gain").desc, col("split_bin"))) === 1)
          .as("is_best"),
        col("r1_split"), round(col("mu_l"), 6).as("r1_mu_left"),
        round(col("mu_r"), 6).as("r1_mu_right"))
      .orderBy("split_bin")
  }

  /** RIDGE REGULARIZATION PATH from ONE sufficient-statistics pass — the
    * regularized variant of qMlLinregNormal (REF-P1's regression family):
    * y = b0 + b1·quantity + b2·discount with an L2 penalty on the slopes
    * (intercept unpenalized, the standard convention — equivalent to ridge
    * on centered variables). The corpus contributes exactly the SAME single
    * scan + single grouped row as the unregularized key; the whole λ path
    * {0, 1, 100, 10⁴, 10⁶} is a 5-row epilogue (cross join + closed-form
    * 2×2 Cramer solve) — 5 models for one pass, the economics that matter
    * at 100 TB. Base sums go through the exact decimal path with the SAME
    * scales as qMlLinregNormal; the centered-moment / Cramer algebra is then
    * identical IEEE double arithmetic (identical association order) in both
    * engines, rounded to 6 dp. λ=0 reproduces OLS (cross-checked against
    * MLlib in MlCrossCheckSpec alongside the λ>0 shrinkage direction). */
  /** ALS RECOMMENDER HALF-STEP (r16) — per-user normal equations with the
    * item factors held fixed, the map-reduce decomposition of one side of
    * an alternating-least-squares round (public: Zhou et al. 2008, the
    * Netflix-prize large-scale ALS paper; weighted-λ regularization
    * λ_u = 0.1·n_u): ratings are (user = o_custkey, item = l_partkey,
    * r = l_quantity) from the fact⋈orders join; the fixed rank-2 item
    * factors are a deterministic integer-mod embedding of the item key
    * (exact 2-decimal values, so every Gram product is exactly
    * representable and the decimal sums are exact — the dsum rule), and
    * each user's 2×2 system solves in closed form FROM THE ROUNDED SUMS,
    * so both engines run the same IEEE dag on identical inputs. λ > 0
    * keeps every determinant strictly positive (Cauchy-Schwarz plus the
    * ridge — no degenerate user).
    *
    * The 100 TB shape is the same one the full ALS loop needs: ONE
    * corpus join + ONE map-side-combined shuffle grouped by user — per-key
    * sufficient statistics, never a per-user iteration; the symmetric
    * per-item pass is this plan with the keys swapped. */
  val qMlAlsStep: Q = (s, dir) => {
    val f1 = ((col("l_partkey") % 101L) - 50L).cast("double") / 100.0
    val f2 = ((col("l_partkey") % 89L) - 44L).cast("double") / 100.0
    val r = col("l_quantity")
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), f1.as("f1"), f2.as("f2"), r.as("r"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("user_id"))
      .agg(
        count(lit(1)).as("n"),
        dsum(col("f1") * col("f1"), 6).as("s11"),
        dsum(col("f1") * col("f2"), 6).as("s12"),
        dsum(col("f2") * col("f2"), 6).as("s22"),
        dsum(col("f1") * col("r"), 4).as("b1"),
        dsum(col("f2") * col("r"), 4).as("b2"))
      .withColumn("lam", lit(0.1) * col("n").cast("double"))
      .withColumn("det", (col("s11") + col("lam")) * (col("s22") + col("lam"))
        - col("s12") * col("s12"))
      .select(col("user_id"), col("n"),
        round(col("s11"), 6).as("s11"), round(col("s12"), 6).as("s12"),
        round(col("s22"), 6).as("s22"),
        round(((col("s22") + col("lam")) * col("b1")
          - col("s12") * col("b2")) / col("det"), 6).as("w1"),
        round(((col("s11") + col("lam")) * col("b2")
          - col("s12") * col("b1")) / col("det"), 6).as("w2"))
      .orderBy("user_id")
  }

  val qMlRidgePath: Q = (s, dir) => {
    import s.implicits._
    val q = col("l_quantity"); val dd = col("l_discount"); val y = col("l_extendedprice")
    val stats = Tables.lineitem(s, dir)
      .agg(
        count(lit(1)).cast("double").as("n"),
        dsum(q).as("s_q"), dsum(dd, 4).as("s_d"),
        dsum(q * q).as("s_qq"), dsum(q * dd, 4).as("s_qd"),
        dsum(dd * dd, 6).as("s_dd"), dsum(y).as("s_y"),
        dsum(q * y).as("s_qy"), dsum(dd * y, 4).as("s_dy"))
    val lambdas = Seq(0.0, 1.0, 100.0, 10000.0, 1000000.0).toDF("lambda")
    stats.crossJoin(lambdas)
      .withColumn("cqq", col("s_qq") - col("s_q") * col("s_q") / col("n"))
      .withColumn("cqd", col("s_qd") - col("s_q") * col("s_d") / col("n"))
      .withColumn("cdd", col("s_dd") - col("s_d") * col("s_d") / col("n"))
      .withColumn("cqy", col("s_qy") - col("s_q") * col("s_y") / col("n"))
      .withColumn("cdy", col("s_dy") - col("s_d") * col("s_y") / col("n"))
      .withColumn("det", (col("cqq") + col("lambda")) * (col("cdd") + col("lambda"))
        - col("cqd") * col("cqd"))
      .withColumn("b1", ((col("cdd") + col("lambda")) * col("cqy")
        - col("cqd") * col("cdy")) / col("det"))
      .withColumn("b2", ((col("cqq") + col("lambda")) * col("cdy")
        - col("cqd") * col("cqy")) / col("det"))
      .withColumn("b0", col("s_y") / col("n") - col("b1") * (col("s_q") / col("n"))
        - col("b2") * (col("s_d") / col("n")))
      .select(col("lambda"), round(col("b0"), 6).as("b0"),
        round(col("b1"), 6).as("b1"), round(col("b2"), 6).as("b2"))
      .orderBy("lambda")
  }

  /** CLASSIFIER EVALUATION — per-class confusion counts + precision /
    * recall / F1, the model-eval stage every training pipeline runs after
    * the P1/P2 trainers. The "model" is deterministic so the key grades the
    * EVAL operator, not a stochastic fit: predicted class = argmax of
    * embedding dims 0–3 (first-max tie-break, spelled as explicit ordered
    * comparisons so both engines agree bit-for-bit), truth = label mod 4.
    * Corpus cost: ONE narrow map + one ≤16-group (truth, pred) aggregate;
    * the per-class tp/fp/fn fold is a 16-row epilogue. Ratios are computed
    * from exact BIGINT counts with identical double arithmetic, rounded to
    * 6 dp; a class never predicted yields NULL precision (guarded
    * identically in both engines). */
  val qMlEvalConfusion: Q = (s, dir) => {
    import s.implicits._
    def e(i: Int) = col("embedding")(i).cast("double")
    val pred = when(e(0) >= e(1) && e(0) >= e(2) && e(0) >= e(3), 0)
      .when(e(1) >= e(2) && e(1) >= e(3), 1)
      .when(e(2) >= e(3), 2).otherwise(3)
    val m = Tables.embeddings(s, dir)
      .select((col("label") % 4).cast("int").as("truth"), pred.as("pred"))
      .groupBy(col("truth"), col("pred")).agg(count(lit(1)).as("n"))
    val cls = Seq(0, 1, 2, 3).toDF("class")
    val d = (c: Column) => c.cast("double")
    m.crossJoin(cls)
      .groupBy(col("class"))
      .agg(
        sum(when(col("truth") === col("class") && col("pred") === col("class"),
          col("n")).otherwise(0L)).as("tp"),
        sum(when(col("truth") =!= col("class") && col("pred") === col("class"),
          col("n")).otherwise(0L)).as("fp"),
        sum(when(col("truth") === col("class") && col("pred") =!= col("class"),
          col("n")).otherwise(0L)).as("fn"))
      .withColumn("support", col("tp") + col("fn"))
      .withColumn("precision",
        when(col("tp") + col("fp") === 0L, lit(null).cast("double"))
          .otherwise(round(d(col("tp")) / d(col("tp") + col("fp")), 6)))
      .withColumn("recall",
        when(col("support") === 0L, lit(null).cast("double"))
          .otherwise(round(d(col("tp")) / d(col("support")), 6)))
      .withColumn("f1",
        when(col("tp") * 2 + col("fp") + col("fn") === 0L, lit(null).cast("double"))
          .otherwise(round(d(col("tp") * 2) / d(col("tp") * 2 + col("fp") + col("fn")), 6)))
      .select(col("class"), col("tp"), col("fp"), col("fn"), col("support"),
        col("precision"), col("recall"), col("f1"))
      .orderBy("class")
  }

  /** Shared AUC epilogue: from the per-distinct-score group table with its
    * inclusive running row count (`run`), fold the Mann-Whitney rank
    * statistic ENTIRELY IN INTEGERS — average ascending tie-rank of a
    * score group = cum_before + (n_g+1)/2, so
    *   2·Σ_pos avgrank = Σ p_g · (2·(run − n_g) + n_g + 1)  (exact),
    *   AUC = (2·Σ_pos avgrank − n⁺(n⁺+1)) / (2·n⁺·n⁻).
    * Everything rides DECIMAL(38,0) (the accumulated term is O(n²), far
    * past Long range at extreme n), INCLUDING the 6-dp rounding: HALF_UP
    * of a non-negative ratio is the integer identity
    *   round(numer·10⁶ / denom) = (2·numer·10⁶ + denom) div (2·denom),
    * so the one float op left is the exact final division auc₆/10⁶ (auc₆
    * ≤ 10⁶, both exactly representable) — bit-identical in any engine at
    * ANY n (r15: this closes the old ≲9e7-row envelope where
    * round-after-double-division left the 2^53 mantissa; the decimal
    * identity is unconditional, and R14OpsSpec pins it equal to the
    * brute-force double-division epilogue at testable scale, both
    * routes). */
  private def aucFromRuns(withRun: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    withRun
      .agg(
        sum(dec(col("p_g")) * dec(lit(2L) * (col("run") - col("n_g"))
          + col("n_g") + lit(1L))).as("numer2"),
        sum(col("p_g")).as("n_pos"), sum(col("n_g") - col("p_g")).as("n_neg"))
      .select(col("numer2"), dec(col("n_pos")).as("np"),
        dec(col("n_neg")).as("nn"), col("n_pos"), col("n_neg"))
      .select(col("n_pos"), col("n_neg"),
        // Degenerate single-class corpus (np or nn = 0): AUC is undefined —
        // NULL on BOTH engines (Spark's DIV would yield null but DuckDB's
        // `//` raises division-by-zero, so the guard is explicit; r15
        // ADVICE).
        (expr("CASE WHEN np = 0 OR nn = 0 THEN CAST(NULL AS BIGINT) " +
          "ELSE CAST((2 * (numer2 - np * (np + 1)) * 1000000 + 2 * np * nn) " +
          "DIV (4 * np * nn) AS BIGINT) END").cast("double") / lit(1e6)).as("auc"))
  }

  private def aucGroups(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select((col("embedding")(0).cast("double") + col("embedding")(1).cast("double"))
        .as("score"),
        when(col("label") % 2 === 1, 1L).otherwise(0L).as("pos"))
      .groupBy(col("score"))
      .agg(count(lit(1)).as("n_g"), sum(col("pos")).as("p_g"))

  private[graft] val aucWindowForm: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    aucFromRuns(aucGroups(s, dir).withColumn("run", sum(col("n_g")).over(w)))
  }

  private[graft] val aucScaleForm: Q = (s, dir) =>
    aucFromRuns(graft.operators.ScaleOps.prefixScan(
      aucGroups(s, dir), Nil, Seq(col("score")), Seq("run" -> col("n_g"))))

  /** RANKING-QUALITY EVALUATION — exact AUC (the Mann-Whitney U statistic
    * with average-rank tie handling) of a deterministic scorer
    * (score = e₀+e₁, positive = odd label). The scalable decomposition:
    * ONE corpus aggregation to per-DISTINCT-SCORE groups (n, n_pos) — the
    * only shuffle that touches rows — then a prefix count over the group
    * table and an all-integer fold ([[aucFromRuns]]): no per-row global
    * rank is ever materialized, and ties cost nothing extra. The prefix is
    * SIZE-ROUTED (the q_agg_median convention): a single-task window below
    * Conf.OneTaskSortMaxBytes, the exact prefix scan
    * `ScaleOps.prefixScan` above it — R14OpsSpec pins both forms
    * bit-equal, so the 100 TB story is self-executing. Crossover
    * ([[graft.operators.ScaleOps.routeBySize]]'s probe, ten runs): the scale
    * form takes 1.14× the window form's time at sf0.01 and 1.16× at sf0.1
    * (1.07–1.34, slower in 9 of 10), so the router stays. */
  val qMlEvalAuc: Q = (s, dir) =>
    graft.operators.ScaleOps.routeBySize(
      Tables.embeddings(s, dir), graft.Conf.OneTaskSortMaxBytes)(
      aucWindowForm(s, dir))(aucScaleForm(s, dir))

  /** RANKED-RETRIEVAL EVALUATION (r19) — recall@10 / MRR@10 / nDCG@10 per
    * query of the deterministic brute-force retrieval run (the
    * q_knn_bruteforce setup widened to 20 queries: Vec.euclid candidates,
    * (d, nn_id) total order), relevance = label agreement. The eval family
    * had AUC/ROC/calibration/confusion — classifier metrics — but nothing
    * that grades a RANKING, which is the eval every retrieval stack in this
    * library (BM25, cosine/IVF ANN, RRF fusion) actually needs; these three
    * are the standard IR triple (recall@k with the true relevant-set
    * denominator, reciprocal rank cut at k, DCG with the 1/log₂(rank+1)
    * gain against the ideal prefix).
    *
    * Scale shape: the 20-query side is broadcast, so scoring is ONE
    * map-only corpus pass; `row_number ≤ k` over the (qid) window becomes a
    * WindowGroupLimit (per-partition top-k BEFORE the qid shuffle — the
    * only corpus-width shuffle carries ≤ queries × k × partitions rows, not
    * the corpus); everything downstream (label counts join, metric folds)
    * is queries×k-sized. Relevant-set sizes come from ONE map-side-combined
    * label count (n_rel = n_label − 1: candidates exclude the query
    * itself). Determinism: ranks are integers under the pinned total order;
    * each 1/log₂(rank+1) gain is rounded to 6 dp (absorbing the log's
    * cross-engine ulp) and summed on the exact decimal path (dsum), and
    * nDCG's ideal prefix uses the SAME rounded-gain table, so dcg/idcg is a
    * ratio of exact 6-dp decimals. MRR@k is 0 when no relevant doc makes
    * the cut (the standard convention). */
  val qMlEvalRanking: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val k = 10
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id").between(0, 19))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("qlabel"))
    val wRank = Window.partitionBy(col("qid")).orderBy(col("d"), col("nn_id"))
    val top = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qlabel"), col("vec_id").as("nn_id"), col("label"),
        graft.functions.Vec.euclid("embedding", "qe").as("d"))
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .filter(col("rn") <= k)
      .withColumn("rel", when(col("label") === col("qlabel"), 1L).otherwise(0L))
    val labelCounts = e.groupBy(col("label")).agg(count(lit(1)).as("n_label"))
    val perQ = top.groupBy(col("qid"), col("qlabel")).agg(
      sum(col("rel")).as("hits"),
      dsum(when(col("rel") === 1L,
        round(lit(1.0) / log2(col("rn") + lit(1.0)), 6)).otherwise(lit(0.0)), 6)
        .as("dcg"),
      min(when(col("rel") === 1L, col("rn"))).as("first_rel"))
    perQ.join(broadcast(labelCounts), col("qlabel") === col("label"))
      .withColumn("n_rel", col("n_label") - 1L)
      .withColumn("idcg", expr(
        s"""cast(round(aggregate(sequence(1L, least(${k}L, n_rel)),
           |cast(0 as decimal(38,10)),
           |(a, i) -> cast(a + cast(round(1.0 / log2(cast(i as double) + 1.0), 6)
           |               as decimal(38,10)) as decimal(38,10))), 6) * 1000000 as bigint)
           |/ 1000000.0""".stripMargin.replace("\n", " ")))
      .select(col("qid"), col("n_rel"), col("hits"),
        round(col("hits").cast("double") / col("n_rel"), 6).as("recall_at_10"),
        coalesce(round(lit(1.0) / col("first_rel"), 6), lit(0.0)).as("mrr_at_10"),
        round(col("dcg") / col("idcg"), 6).as("ndcg_at_10"))
      .orderBy("qid")
  }

  /** END-TO-END `ml.Pipeline`, GRADED (BASELINE.json's north-star approach
    * by name): VectorAssembler → StandardScaler(withMean) →
    * LogisticRegression fit as ONE PipelineModel
    * (ml/Pipelines.fittedLogregPipeline), then the SAME model's transform()
    * replayed over the corpus and summarized as truth×prediction confusion
    * counts — fit AND serve, the full estimator lifecycle in one key.
    * DECLARED NO-ORACLE: MLlib's treeAggregate float-sum order makes the
    * fitted coefficients partitioning-sensitive in the last ulps, so
    * cross-engine hashing is the wrong contract; MlCrossCheckSpec pins the
    * fit against q_ml_logreg_converged's sufficient-statistics weights
    * (raw-space direction cosine; the convex optimum's mean NLL must beat
    * the fixed-step GD loss) and the confusion counts against the model's
    * own prediction replay. Scale posture: each L-BFGS iteration is one
    * aggregation pass over the persisted feature frame (the P2 loop run by
    * the estimator instead of the driver); transform is a narrow map. */
  val qMlPipeline: Q = (s, dir) => {
    val base = Tables.embeddings(s, dir).select(
      (col("label") % 2).cast("double").as("y") +:
      (0 until 4).map(i => col("embedding")(i).cast("double").as(s"x$i")): _*)
    val df = graft.operators.ScaleOps.trackedPersist(base)
    val model = graft.ml.Pipelines.fittedLogregPipeline(
      df, "y", (0 until 4).map(i => s"x$i"))
    model.transform(df)
      .groupBy(col("y").cast("long").as("truth"),
        col("prediction").cast("long").as("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy("truth", "pred")
  }

  /** ISOTONIC CALIBRATION / PAV (r16) — the monotone score→probability
    * recalibration production scorers run after training (Platt's rival;
    * the TRANSFORM counterpart of q_ml_eval_calibration's diagnostic
    * bins): per score-bin positive counts (one map-side-combined
    * aggregate over the same bins the calibration key grades), then
    * pool-adjacent-violators over the BOUNDED bin table on the driver —
    * the BPE-merge-table shape: corpus work is one aggregation pass; the
    * sequential pooling runs over ≤`bins` rows of driver state. Pooling
    * compares rates by INTEGER cross-multiplication (pos_a·n_b >
    * pos_b·n_a), so the fit is exact and engine-independent; the
    * calibrated rate divides exact integers once at emit.
    * MlCrossCheckSpec pins the fit against MLlib's IsotonicRegression on
    * the same weighted bins. */
  val qMlIsotonic: Q = (s, dir) => {
    import s.implicits._
    val bins = Tables.embeddings(s, dir)
      .select((col("embedding")(0).cast("double")
        + col("embedding")(1).cast("double")).as("score"),
        when(col("label") % 2 === 1, 1L).otherwise(0L).as("pos"))
      .groupBy(floor((col("score") + lit(1.0)) * 5.0).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
      .orderBy("bin")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    case class Block(lo: Long, hi: Long, n: Long, pos: Long)
    var stack = List.empty[Block]
    for ((bin, n, pos) <- bins) {
      var b = Block(bin, bin, n, pos)
      // Pool while the previous block's rate strictly violates
      // monotonicity (prev > cur), compared exactly in integers. BigInt,
      // not Long products: per-bin counts are corpus-sized, so past ~3e9
      // rows per block pair a Long cross-product would silently overflow
      // and could flip a pooling decision (ADVICE r16).
      while (stack.nonEmpty &&
             BigInt(stack.head.pos) * BigInt(b.n) >
             BigInt(b.pos) * BigInt(stack.head.n)) {
        val t = stack.head; stack = stack.tail
        b = Block(t.lo, b.hi, t.n + b.n, t.pos + b.pos)
      }
      stack = b :: stack
    }
    val blockOf = stack.reverse.flatMap(b => (b.lo to b.hi).map(_ -> b)).toMap
    val rows = bins.map { case (bin, n, pos) =>
      val b = blockOf(bin)
      (bin, n, pos,
        BigDecimal(b.pos).*(BigDecimal(1000000))./(BigDecimal(b.n))
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong / 1e6)
    }
    s.createDataFrame(rows.toSeq)
      .toDF("bin", "n", "n_pos", "iso_rate")
      .orderBy("bin")
  }

  /** PAIRWISE PEARSON CORRELATION MATRIX of the lineitem numerics
    * (quantity, discount, extendedprice) — the exploratory-stats operator
    * every modeling pass runs first, and a GDA/regression prerequisite.
    * NOT Spark's `corr()`/DuckDB's `corr()` (their streaming float paths
    * differ engine-to-engine): the same decimal-exact sufficient
    * statistics as q_ml_ridge_path (one map-side-combined pass), then the
    * identical IEEE algebra r = (Sxy − SxSy/n) / √((Sxx−Sx²/n)(Syy−Sy²/n))
    * per pair — bit-identical in both engines, rounded to 6 dp. */
  val qAggCorr: Q = (s, dir) => {
    import s.implicits._
    val q = col("l_quantity"); val dd = col("l_discount"); val y = col("l_extendedprice")
    val stats = Tables.lineitem(s, dir)
      .agg(count(lit(1)).cast("double").as("n"),
        dsum(q).as("s_q"), dsum(dd, 4).as("s_d"), dsum(y).as("s_y"),
        dsum(q * q).as("s_qq"), dsum(dd * dd, 6).as("s_dd"),
        dsum(y * y).as("s_yy"),
        dsum(q * dd, 4).as("s_qd"), dsum(q * y).as("s_qy"),
        dsum(dd * y, 4).as("s_dy"))
    // All three r's from the ONE stats row, unpivoted with stack — a
    // per-pair select-and-union would re-run the corpus aggregation once
    // per pair.
    def r(sx: String, sy: String, sxx: String, syy: String, sxy: String) =
      round((col(sxy) - col(sx) * col(sy) / col("n")) /
        sqrt((col(sxx) - col(sx) * col(sx) / col("n"))
          * (col(syy) - col(sy) * col(sy) / col("n"))), 6)
    stats
      .withColumn("rqd", r("s_q", "s_d", "s_qq", "s_dd", "s_qd"))
      .withColumn("rqy", r("s_q", "s_y", "s_qq", "s_yy", "s_qy"))
      .withColumn("rdy", r("s_d", "s_y", "s_dd", "s_yy", "s_dy"))
      .select(expr(
        """stack(3,
             'l_quantity', 'l_discount', rqd,
             'l_quantity', 'l_extendedprice', rqy,
             'l_discount', 'l_extendedprice', rdy) AS (var_x, var_y, r)"""))
      .orderBy("var_x", "var_y")
  }

  /** REGRESSION EVALUATION — MAE / RMSE / R² of a deterministic predictor
    * (ŷ = 1000·quantity for extendedprice), completing the eval family
    * (confusion = classification, AUC = ranking, calibration =
    * probability, this = regression). ONE map-side-combined corpus pass of
    * decimal-exact sufficient statistics (Σ|e|, Σe², Σy, Σy²); the
    * epilogue algebra (mean, √, the R² ratio) is identical IEEE double
    * arithmetic on identical rounded-decimal inputs — IEEE sqrt is
    * correctly rounded, so both engines agree bit-for-bit. */
  val qMlEvalRegression: Q = (s, dir) => {
    val y = col("l_extendedprice")
    val e = y - col("l_quantity") * lit(1000.0)
    Tables.lineitem(s, dir)
      // Quadratic sums at scale 2: their magnitudes (~1e15 at sf0.1) put a
      // 4-dp scaled integer past Long range — 2 dp keeps the dsum dance in
      // range with identical cross-engine casts.
      .agg(count(lit(1)).cast("double").as("n"),
        dsum(abs(e), 4).as("sae"), dsum(e * e).as("sse"),
        dsum(y).as("sy"), dsum(y * y).as("syy"))
      .select(col("n").cast("long").as("n_rows"),
        round(col("sae") / col("n"), 6).as("mae"),
        round(sqrt(col("sse") / col("n")), 6).as("rmse"),
        round(lit(1.0) - col("sse")
          / (col("syy") - col("sy") * col("sy") / col("n")), 6).as("r2"))
  }

  /** CALIBRATION / RELIABILITY BINS — the companion eval surface: the score
    * domain row-locally binned (floor((score+1)·5), both engines floor the
    * same IEEE product), per bin the population, mean score (exact decimal
    * path), and empirical positive rate from exact integers. ONE map-side-
    * combined corpus aggregation at any scale. */
  val qMlEvalCalibration: Q = (s, dir) =>
    Tables.embeddings(s, dir)
      .select((col("embedding")(0).cast("double") + col("embedding")(1).cast("double"))
        .as("score"),
        when(col("label") % 2 === 1, 1L).otherwise(0L).as("pos"))
      .groupBy(floor((col("score") + lit(1.0)) * 5.0).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"), davg(col("score")).as("avg_score"),
        sum(col("pos")).as("n_pos"))
      .withColumn("pos_rate", round(col("n_pos").cast("double") / col("n").cast("double"), 6))
      .orderBy("bin")

  /** K-FOLD CROSS-VALIDATION from sufficient statistics (r16) — the model-
    * selection loop as ONE aggregation identity instead of k re-trainings:
    * folds are deterministic (l_orderkey mod 5), per-fold sums come from a
    * single grouped pass, and each fold's TRAINING statistics are
    * `total − fold` — the leave-one-fold-out algebra (every value is an
    * exact scale-2 decimal riding a double, so the subtraction is exact).
    * Each fold's 1-D OLS (y = a + b·quantity on the other 4 folds) solves
    * in closed form from those differences; a second corpus pass scores
    * every row with ITS OWN fold's (held-out) model and aggregates the
    * per-fold validation MSE. Coefficients are rounded to 6 dp BEFORE
    * scoring so both engines score with identical bits.
    *
    * Scale shape: exactly TWO corpus passes at any size — one 5-group
    * sufficient-stats aggregate, one broadcast-join scoring pass — versus
    * the naive k re-trainings' k corpus scans. The REF-P1 pattern extended
    * to model selection. */
  val qMlKfold: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir).select(
      (col("l_orderkey") % 5L).as("fold"),
      col("l_quantity").as("x"), col("l_extendedprice").as("y"))
    val folds = li.groupBy(col("fold")).agg(
      count(lit(1)).as("n_f"),
      dsum(col("x")).as("sx_f"), dsum(col("y")).as("sy_f"),
      dsum(col("x") * col("x")).as("sxx_f"),
      dsum(col("x") * col("y")).as("sxy_f"))
    val tot = folds.agg(sum(col("n_f")).as("n_all"),
      dsum(col("sx_f")).as("sx"), dsum(col("sy_f")).as("sy"),
      dsum(col("sxx_f")).as("sxx"), dsum(col("sxy_f")).as("sxy"))
    val nT = (col("n_all") - col("n_f")).cast("double")
    val sxT = col("sx") - col("sx_f"); val syT = col("sy") - col("sy_f")
    val sxxT = col("sxx") - col("sxx_f"); val sxyT = col("sxy") - col("sxy_f")
    val slope = (nT * sxyT - sxT * syT) / (nT * sxxT - sxT * sxT)
    val coefs = folds.crossJoin(broadcast(tot)).select(col("fold"),
      (col("n_all") - col("n_f")).as("n_train"), col("n_f").as("n_val"),
      round(slope, 6).as("slope"),
      round((syT - slope * sxT) / nT, 6).as("intercept"))
    li.join(broadcast(coefs), "fold")
      .select(col("fold"), col("n_train"), col("n_val"),
        col("slope"), col("intercept"),
        (col("y") - (col("intercept") + col("slope") * col("x"))).as("r"))
      .groupBy(col("fold"), col("n_train"), col("n_val"),
        col("slope"), col("intercept"))
      .agg(round(dsum(col("r") * col("r")) / col("n_val").cast("double"), 4)
        .as("val_mse"))
      .orderBy("fold")
  }

  /** ROC CURVE TABLE (r16) — the threshold sweep completing the eval
    * family (confusion = one operating point, AUC = the whole ranking,
    * calibration = probability quality; this: the TPR/FPR trade-off at
    * every candidate threshold): scores binned row-locally (the
    * calibration binning), thresholds swept from the highest bin down,
    * cumulative TP/FP from exact integer window sums over the ≤10-row bin
    * table, TPR/FPR as rounded ratios of exact integers (never an
    * engine-internal float accumulation).
    *
    * Scale shape: ONE map-side-combined corpus aggregate to ≤10 bin rows;
    * the descending cumulative window runs single-task over those bins —
    * the bounded post-agg window of q_ml_tree_split, not a corpus sort. */
  val qMlEvalRoc: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val bins = Tables.embeddings(s, dir)
      .select((col("embedding")(0).cast("double") + col("embedding")(1).cast("double"))
        .as("score"),
        when(col("label") % 2 === 1, 1L).otherwise(0L).as("pos"))
      .groupBy(floor((col("score") + lit(1.0)) * 5.0).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
    val w = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = bins.agg(sum(col("n")).as("n_all"), sum(col("n_pos")).as("p_all"))
    bins
      .withColumn("cum_tp", sum(col("n_pos")).over(w))
      .withColumn("cum_n", sum(col("n")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("n_pos"),
        col("cum_tp"), (col("cum_n") - col("cum_tp")).as("cum_fp"),
        round(col("cum_tp").cast("double") / col("p_all").cast("double"), 6).as("tpr"),
        round((col("cum_n") - col("cum_tp")).cast("double")
          / (col("n_all") - col("p_all")).cast("double"), 6).as("fpr"))
      .orderBy(col("bin").desc)
  }

  val queries: Map[String, Q] = Map(
    "q_ml_linreg_normal" -> qMlLinregNormal,
    "q_ml_wls" -> qMlWls,
    "q_ml_nb_train" -> qMlNbTrain,
    "q_ml_kmeans_step" -> qMlKmeansStep,
    "q_ml_gda_stats" -> qMlGdaStats,
    "q_ml_logreg_step" -> qMlLogregStep,
    "q_ml_svm_step" -> qMlSvmStep,
    "q_ml_adaboost_round" -> qMlAdaboostRound,
    "q_ml_logreg_converged" -> qMlLogregConverged,
    "q_ml_gmm_converged" -> qMlGmmConverged,
    "q_ml_kmeans_converged" -> qMlKmeansConverged,
    "q_ml_pca_power" -> qMlPcaPower,
    "q_ml_tree_split" -> qMlTreeSplit,
    "q_ml_gbdt_round" -> qMlGbdtRound,
    "q_ml_gbdt_converged" -> qMlGbdtConverged,
    "q_ml_ridge_path" -> qMlRidgePath,
    "q_ml_als_step" -> qMlAlsStep,
    "q_ml_eval_confusion" -> qMlEvalConfusion,
    "q_ml_eval_auc" -> qMlEvalAuc,
    "q_ml_eval_ranking" -> qMlEvalRanking,
    "q_ml_eval_calibration" -> qMlEvalCalibration,
    "q_ml_eval_roc" -> qMlEvalRoc,
    "q_ml_kfold" -> qMlKfold,
    "q_ml_target_encode" -> qMlTargetEncode,
    "q_ml_kmeanspp" -> qMlKmeansPP,
    "q_ml_woe_iv" -> qMlWoeIv,
    "q_ml_chi2_select" -> qMlChi2Select,
    "q_ml_eval_regression" -> qMlEvalRegression,
    "q_ml_pipeline" -> qMlPipeline,
    "q_ml_isotonic" -> qMlIsotonic,
    "q_agg_corr" -> qAggCorr)
}
