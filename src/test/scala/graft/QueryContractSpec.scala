package graft

import org.apache.spark.sql.types.{ArrayType, MapType}
import org.scalatest.funsuite.AnyFunSuite

/** Contract-shape tests over every declared query at sf0.001 (SURVEY §5.2
  * unit layer): runs, returns rows, and has a driver-hashable schema. */
class QueryContractSpec extends AnyFunSuite {
  import SparkFixture._

  test("oracleSql keys are a subset of queries keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracle entries without a query: $extra")
  }

  test("declared contract covers all 257 SURVEY §2 keys") {
    assert(SparkEntry.queries.size == 257)
    // All keys are oracle-checked except the declared non-oracle set below
    // (count pinned by the set literal itself — a stale prose count here
    // was ADVICE r14's first finding, so no number is repeated).
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle == Set("q_agg_approx_distinct", "q_agg_sketch_merge",
      "q_agg_quantile_sketch",
      "q_sim_lsh_ann", "q_dedup_simhash", "q_sim_ivf_ann", "q_sim_ivf_append",
      "q_sim_ivf_delete", "q_sim_ivf_rebuild",
      "q_sim_ivf_pq", "q_dedup_semantic", "q_sim_rerank_mmr", "q_dedup_media",
      "q_text_fingerprint", "q_media_features", "q_media_resize",
      "q_ml_pca_power", "q_text_bpe_train", "q_text_bpe_encode",
      "q_text_bpe_bytes",
      "q_text_unigram_train", "q_text_unigram_encode",
      "q_text_wordpiece_train", "q_text_wordpiece_encode",
      "q_ml_pipeline", "q_ml_isotonic", "q_graph_kcore",
      "q_graph_label_prop", "q_sim_sq8"))
  }

  test("entry flagship returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q_agg_incremental stays well-defined on an EMPTY events source") {
    // max(day) is NULL on an empty table; the refresh must yield an empty
    // aggregate, not NPE on the cutover fetch (ADVICE r10).
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-sf")
    try {
      Tables.prep(spark) // nanos-ts decode flag for the raw read below
      spark.read.parquet(s"$Sf0001/events.parquet").limit(0)
        .write.parquet(dir.resolve("events.parquet").toString)
      val out = SparkEntry.queries("q_agg_incremental")(spark, dir.toString)
      assert(out.count() == 0)
    } finally Tables.deleteRecursively(dir.toString)
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs, returns rows, and has a hashable schema (sf0.001)") {
      // Drop the key's tracked persists (a trainer's word table, ...) so
      // they do not outlive its test.
      try {
        val df = fn(spark, Sf0001)
        // The driver's canonicalizer (pandas sort_values) cannot hash
        // top-level array columns; only non-oracle keys may carry maps.
        val complex = df.schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] => f.name
          case f if f.dataType.isInstanceOf[MapType] => f.name
        }
        if (SparkEntry.oracleSql.contains(name))
          assert(complex.isEmpty, s"oracle query $name has complex columns: ${complex.mkString(",")}")
        assert(df.columns.nonEmpty)
        assert(df.count() > 0, s"$name returned zero rows at sf0.001")
      } finally graft.operators.ScaleOps.releaseTracked()
    }
  }
}
