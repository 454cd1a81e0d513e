package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The router probe: for each routed key, the time of its scale form over
  * its window form, both forced through the router in one JVM. Each form
  * runs once to warm up, then three times in turn with the other, forced by
  * a noop-source write; the medians of the three give the ratio. Prints one
  * JSON line per key. One run is one JVM; the probe's rule reads the median
  * ratio over ten runs.
  *
  * {{{
  * java -cp <Test/fullClasspath> graft.RouterProbe <data dir>/sf0.01 [key ...]
  * }}}
  */
object RouterProbe {
  type Q = (SparkSession, String) => DataFrame

  /** Key -> (scale form, window form); a one-form key is paired with its
    * window form in ScaleOpsSpec. */
  val forms: Seq[(String, (Q, Q))] = {
    import graft.queries.{LlmOps, MlSuffStats, Relational, Windows}
    Seq(
      "q_window_ntile" -> (Windows.ntileRouted(0L), Windows.ntileRouted(Long.MaxValue)),
      "q_agg_median" -> (Relational.medianRouted(0L), Relational.medianRouted(Long.MaxValue)),
      "q_agg_weighted_median" ->
        (Relational.wmedianRouted(0L), Relational.wmedianRouted(Long.MaxValue)),
      "q_stats_winsorize" -> (Relational.winsorRouted(0L), Relational.winsorRouted(Long.MaxValue)),
      "q_events_rfm" -> (Relational.rfmRouted(0L), Relational.rfmRouted(Long.MaxValue)),
      "q_ml_eval_auc" -> (MlSuffStats.qMlEvalAuc, ScaleOpsSpec.aucWindowForm),
      "q_text_tfidf" -> (LlmOps.tfidfRouted(0L), LlmOps.tfidfRouted(Long.MaxValue)),
      "q_text_boilerplate" ->
        (LlmOps.boilerplateRouted(0L), LlmOps.boilerplateRouted(Long.MaxValue)))
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val keys = if (args.length > 1) args.drop(1).toSeq else forms.map(_._1)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.prep(spark)
    def time(q: Q): Double = {
      val t0 = System.nanoTime()
      q(spark, dir).write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e6
      graft.operators.ScaleOps.releaseTracked()
      t
    }
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    for (key <- keys) {
      val (scale, window) = forms.toMap.apply(key)
      time(scale); time(window)
      val runs = (1 to 3).map(_ => (time(scale), time(window)))
      val (s, w) = (median(runs.map(_._1)), median(runs.map(_._2)))
      println(f"""{"key": "$key", "scale_ms": $s%.1f, "window_ms": $w%.1f, "ratio": ${s / w}%.4f}""")
    }
    spark.stop()
  }
}
