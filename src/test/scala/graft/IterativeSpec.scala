package graft

import graft.ml.{Iterative, Pipelines}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** P2 iterative algorithms: logistic gradient loop decreases NLL and lands
  * near MLlib's optimum; GMM EM steps never decrease the log-likelihood. */
class IterativeSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkFixture._

  /** Binary task derived from embeddings: y = (label >= 5), x = dims 0–1. */
  private lazy val binDf = Tables.embeddings(spark, Sf0001)
    .select(
      (col("label") >= 5).cast("int").as("y"),
      col("embedding")(0).cast("double").as("x0"),
      col("embedding")(1).cast("double").as("x1"))
    .cache()

  // The fixture SparkSession is shared across suites — drop our caches so
  // later suites (e.g. the ScaleOps persist-drain test) see a clean slate.
  override def afterAll(): Unit = {
    binDf.unpersist()
    super.afterAll()
  }

  test("logistic driver loop: NLL strictly decreases and tracks MLlib") {
    val (w, losses) = Iterative.logisticTrain(binDf, "y", Seq("x0", "x1"),
      iters = 30, lr = 0.01)
    assert(losses.size == 30)
    losses.sliding(2).foreach { case Seq(a, b) => assert(b <= a + 1e-9, s"NLL rose: $a -> $b") }
    val m = Pipelines.logistic(binDf, "y", Seq("x0", "x1"))
    // Same objective: our final NLL within 2% of MLlib's optimum NLL.
    val mllibW = Array(m.interceptVector(0), m.coefficientMatrix(0, 0), m.coefficientMatrix(0, 1))
    val (_, nllAtMllib) = Iterative.logisticGradientStep(binDf, "y", Seq("x0", "x1"), mllibW)
    val (_, nllOurs) = Iterative.logisticGradientStep(binDf, "y", Seq("x0", "x1"), w)
    assert(nllOurs <= nllAtMllib * 1.02,
      s"our NLL $nllOurs far from MLlib optimum $nllAtMllib")
  }

  test("graded multi-iteration logreg key: final loss improves on the fixed-weight step loss") {
    // q_ml_logreg_converged starts from q_ml_logreg_step's exact weights
    // (MlSuffStats.logregW0), so its final-iterate loss must be strictly
    // lower — the convergence witness for the graded loop.
    val step = SparkEntry.queries("q_ml_logreg_step")(spark, Sf0001).collect()(0)
    val conv = SparkEntry.queries("q_ml_logreg_converged")(spark, Sf0001).collect()(0)
    val lossStep = step.getDouble(step.fieldIndex("loss"))
    val lossConv = conv.getDouble(conv.fieldIndex("loss"))
    assert(lossConv < lossStep, s"descent did not improve: $lossConv >= $lossStep")
  }

  test("graded multi-iteration GMM key: final loglik improves on the initial params") {
    // EM never decreases the observed-data log-likelihood; the graded key's
    // 3-step final loglik must beat the gmmInit starting point.
    import graft.queries.MlSuffStats.gmmInit
    val df = Tables.embeddings(spark, Sf0001)
      .select(col("embedding")(0).cast("double").as("x"))
    val ll0 = Iterative.gmmLogLik(df, "x",
      gmmInit._1, gmmInit._2, gmmInit._3, gmmInit._4, gmmInit._5)
    val r = SparkEntry.queries("q_ml_gmm_converged")(spark, Sf0001).collect()(0)
    val llN = r.getDouble(r.fieldIndex("loglik"))
    assert(llN >= ll0 - 1e-6, s"EM loop decreased loglik: $ll0 -> $llN")
  }

  test("graded multi-iteration k-means key: WSSQ is non-increasing in Lloyd iterations") {
    import graft.queries.MlSuffStats
    // Lloyd's algorithm monotonically decreases the within-cluster sum of
    // squares; the graded key's objective at 1, 2, 3 iterations must be a
    // non-increasing sequence (and the first step a strict improvement on
    // the fixed starting centroids).
    def totalWssq(iters: Int): Double = {
      val v = MlSuffStats.kmeansConvergedQ(iters)(spark, Sf0001)
        .agg(sum(col("wssq"))).collect()(0).getDouble(0)
      graft.operators.ScaleOps.releaseTracked()
      v
    }
    val w = (0 to MlSuffStats.kmeansConvIters).map(totalWssq)
    w.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-6, s"Lloyd step increased WSSQ: $a -> $b")
    }
    assert(w(1) < w(0), s"first Lloyd step did not improve WSSQ: ${w(0)} -> ${w(1)}")
  }

  test("GMM EM steps are monotone in observed log-likelihood") {
    val df = Tables.embeddings(spark, Sf0001)
      .select(col("embedding")(0).cast("double").as("x")).cache()
    var params = (0.5, -0.05, 0.05, 0.01, 0.01)
    var ll = Iterative.gmmLogLik(df, "x", params._1, params._2, params._3, params._4, params._5)
    for (_ <- 1 to 5) {
      params = Iterative.gmmEmStep(df, "x", params._1, params._2, params._3, params._4, params._5)
      val next = Iterative.gmmLogLik(df, "x", params._1, params._2, params._3, params._4, params._5)
      assert(next >= ll - 1e-7, s"EM decreased loglik: $ll -> $next")
      ll = next
    }
    // MLlib's full GMM on the same column: valid mixture out.
    val g = Pipelines.gmm(
      Tables.embeddings(spark, Sf0001).select(array(col("embedding")(0)).as("x1")), "x1", 2)
    assert(math.abs(g.weights.sum - 1.0) < 1e-9)
    df.unpersist()
  }

  test("unigram trainer: one SQL execution per EM round plus the seed pass; caches only the word table") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.ListenerBusDrain
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val sc = spark.sparkContext
    val words = Tables.documents(spark, Sf0001)
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val execs = new AtomicInteger(0)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        execs.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        execs.incrementAndGet()
    }
    val prunes = Seq(200, 120)
    val finalRounds = 2
    ListenerBusDrain(sc)
    val rdds0 = sc.getPersistentRDDs.size
    spark.listenerManager.register(listener)
    try {
      val (pieces, losses) = graft.text.Unigram.train(words,
        prunes = prunes, finalRounds = finalRounds)
      ListenerBusDrain(sc)
      val rounds = prunes.size + finalRounds
      assert(pieces.nonEmpty && losses.length == rounds)
      assert(execs.get() == 1 + rounds,
        s"${execs.get()} SQL executions; expected the seed pass + one per round")
      assert(sc.getPersistentRDDs.size - rdds0 <= 1,
        "the trainer may cache only its word table")
    } finally {
      spark.listenerManager.unregister(listener)
      graft.operators.ScaleOps.releaseTracked()
    }
  }
}
