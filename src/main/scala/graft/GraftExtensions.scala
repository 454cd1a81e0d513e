package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Public-API injection point for the engine's custom Catalyst surface
  * (SURVEY §4): enable with
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `SparkSession.builder().withExtensions(new GraftExtensions)`), which
  * at session build time injects the optimizer rules
  *  - `plans.RollupRewriteRule` (materialized-rollup rewrite),
  *  - `plans.FooterAggregate` (ungrouped MIN/MAX/COUNT from parquet
  *    footers) and
  *  - `plans.LocalSort` (a sort of local rows, done on the driver),
  * and registers `vec_dot`, `minhash_sig`, `bigram_hashes`, `sig_matches`
  * and `hilbert_idx` — the deployment-grade alternative to the runtime
  * registration in Tables.prep (kept for the driver-owned sessions whose
  * builders this library does not control).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // Transparent materialized-rollup rewrite (plans/RollupRewrite): a
    // no-op until a rollup is registered, so injection is always safe.
    ext.injectOptimizerRule(sp => new graft.plans.RollupRewriteRule(sp))
    // Zero-job answers for what the driver already holds (plans/DriverAnswers).
    graft.plans.DriverAnswers.rules.foreach(r => ext.injectOptimizerRule(_ => r))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      graft.functions.VecDot.info,
      graft.functions.VecDot.builder))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      graft.functions.MinHashSig.info,
      graft.functions.MinHashSig.builder))
    ext.injectFunction((
      new FunctionIdentifier("bigram_hashes"),
      graft.functions.MinHashSig.bigramInfo,
      graft.functions.MinHashSig.bigramBuilder))
    ext.injectFunction((
      new FunctionIdentifier("sig_matches"),
      graft.functions.MinHashSig.matchesInfo,
      graft.functions.MinHashSig.matchesBuilder))
    ext.injectFunction((
      new FunctionIdentifier("hilbert_idx"),
      graft.functions.HilbertIndex.info,
      graft.functions.HilbertIndex.builder))
  }
}
