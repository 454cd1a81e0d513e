package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r18 batch operator cross-checks. */
class R18OpsSpec extends AnyFunSuite {
  import SparkFixture._

  test("bloomCandidateFiles degrades to a full read on a missing or empty sidecar") {
    // ADVICE r17: 'staleness degrades pruning, never correctness' — an
    // unindexed or freshly-truncated layout must read unconditionally,
    // not throw AnalysisException / NoSuchElementException.
    val dir = java.nio.file.Files.createTempDirectory("graft-bloomless").toString
    try {
      sources.Layout.writeManifested(
        Tables.lineitem(spark, Sf0001), dir, "l_shipdate", numFiles = 4)
      val total = Tables.lineitem(spark, Sf0001).count()
      // Case 1: no bloomidx dir at all.
      val (kept1, skip1) =
        sources.Layout.bloomCandidateFiles(spark, dir, Seq(1L, 2L))
      assert(skip1.isEmpty && kept1.size == 4,
        s"missing sidecar must keep all live files: kept=${kept1.size} skipped=${skip1.size}")
      assert(sources.Layout.bloomPrunedRead(spark, dir, Seq(1L)).count() == total)
      // Case 2: a sidecar with zero rows (no marker rows → nothing covered).
      val staged = queries.Relational.stagedBloomLayout(spark, Sf0001)
      spark.read.parquet(s"$staged/bloomidx").limit(0)
        .write.parquet(s"$dir/bloomidx")
      val (kept2, skip2) =
        sources.Layout.bloomCandidateFiles(spark, dir, Seq(1L, 2L))
      assert(skip2.isEmpty && kept2.size == 4,
        s"empty sidecar must keep all live files: kept=${kept2.size} skipped=${skip2.size}")
    } finally Tables.deleteRecursively(dir)
  }

  test("q_text_bpe_bytes: unk-free encode of the quarantine corpus; merges match a driver byte-BPE") {
    val got = SparkEntry.queries("q_text_bpe_bytes")(spark, Sf0001).collect()
    assert(got.map(_.getString(0)).toSet == Set("clean", "_quarantine"))
    for (r <- got) {
      // THE byte-level property: zero out-of-vocabulary symbols on
      // arbitrary input — including the truncated-JSON quarantine bucket
      // whose {, ", digits the clean-word corpus never trains on.
      assert(r.getLong(4) == 0, s"${r.getString(0)}: ${r.getLong(4)} unk symbols")
      // Tokens never exceed bytes+words (each word adds one terminator)
      // and merging only ever shrinks.
      assert(r.getLong(3) <= r.getLong(2) + r.getLong(1),
        s"${r.getString(0)}: token count exceeds the unmerged ceiling")
      assert(r.getLong(1) > 0 && r.getLong(2) > 0)
    }
    // Independent driver-side byte BPE over the same clean-word corpus:
    // hex-pair alphabet + '</w>', leftmost-first merges, (count desc,
    // left, right) ties — must equal the distributed trainer's rules.
    val gotRules = queries.LlmOps.trainBpeMerges(
      queries.LlmOps.corpusWordFreqs(spark, Sf0001),
      symize = queries.LlmOps.byteSyms)
    def hexSyms(w: String): Vector[String] =
      w.getBytes("UTF-8").toVector.map(b => f"${b & 0xff}%02x") :+ "</w>"
    val expected = RefTokenizers.bpe(Tables.documents(spark, Sf0001)
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .collect().map(r => (hexSyms(r.getString(0)), r.getLong(1))).toSeq)
    assert(gotRules == expected,
      s"byte-BPE rules diverge:\n$gotRules\nvs\n$expected")
    // Hex round-trip on multi-byte adversarial words: folding the learned
    // merges and re-joining the symbols reproduces the exact UTF-8 bytes.
    for (w <- Seq("héllo", "日本語", "a{\"x\":1", "é€😀")) {
      val syms = RefTokenizers.mergeAll(hexSyms(w),
        gotRules.map { case (_, a, b, m, _) => (a, b, m) })
      assert(syms.filterNot(_ == "</w>").mkString ==
        w.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").mkString,
        s"round-trip broke for '$w'")
    }
  }

  test("q_ml_gbdt_converged: monotone-decreasing loss, exact gain chain, argmax splits") {
    val got = SparkEntry.queries("q_ml_gbdt_converged")(spark, Sf0001).collect()
    assert(got.length == queries.MlSuffStats.gbdtConvRounds.length)
    assert(got.map(_.getString(1)).toSeq == queries.MlSuffStats.gbdtConvRounds,
      "feature schedule drift")
    // The ensemble trains: every round's gain is non-negative (a best
    // split never increases SSE) and the loss chain is EXACTLY
    // loss_{t-1} - gain_t in the scaled-long space both engines use —
    // monotone non-increasing follows.
    def s4(x: Double): Long = math.round(x * 10000.0)
    def s6(x: Double): Long = math.round(x * 1000000.0)
    val losses = got.map(_.getDouble(6))
    val gains = got.map(_.getDouble(5))
    assert(gains.forall(_ >= 0.0), s"negative gain: ${gains.mkString(",")}")
    assert(losses.zip(losses.tail).forall { case (a, b) => b <= a },
      s"loss not monotone: ${losses.mkString(",")}")
    for (t <- 1 until losses.length)
      assert(s6(losses(t)) == s6(losses(t - 1)) - 100L * s4(gains(t)),
        s"round ${t + 1}: loss chain broke")
    // First round must strictly improve on the global-mean baseline
    // (the corpus is not constant), so the certificate is not vacuous.
    assert(gains.head > 0.0)
  }

  test("q_sim_ivf_delete: no deleted id surfaces; recall vs survivor brute force; compaction-invariant") {
    import SparkFixture.spark.implicits._
    val e = Tables.embeddings(spark, Sf0001)
    val deleted = e.filter(col("vec_id") % 10 === 3)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val got = SparkEntry.queries("q_sim_ivf_delete")(spark, Sf0001).collect()
    assert(got.length == 10)
    // Certificate: no tombstoned vec_id ever surfaces.
    assert(got.forall(r => !deleted(r.getLong(0))),
      s"deleted id in results: ${got.map(_.getLong(0)).filter(deleted).mkString(",")}")
    // Recall vs EXACT top-10 over the SURVIVING corpus.
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    val truth = e.filter(col("vec_id") =!= 0 && col("vec_id") % 10 =!= 3)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map { r =>
        val v = r.getSeq[Double](1).toArray
        (r.getLong(0), math.sqrt(v.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum))
      }
      .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
    val recall = got.map(_.getLong(0)).count(truth) / 10.0
    assert(recall >= 0.7, s"recall $recall vs survivor brute force")
    // Compaction folds the tombstones in: the physical files lose every
    // deleted id, the sidecar is gone, and the search answer is identical.
    val path = Tables.stagedFixture(spark, Sf0001, "ivf-delete")(
      _ => fail("fixture must already be staged"))
    val index = ml.Ivf.DiskIndex(path,
      org.apache.spark.ml.clustering.KMeansModel.load(s"$path/_quantizer"),
      "embedding", "vec_id", ml.Ivf.storedNProbe(path))
    val before = ml.Ivf.searchPartitioned(spark, index, q, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    try {
      ml.Ivf.compactPartitioned(spark, index)
      // r19: compaction publishes a NEW generation via the atomic _gen
      // pointer swap; the physical files live under the resolved root.
      val root = ml.Ivf.dataRoot(path)
      assert(root != path, "compaction did not publish a generation pointer")
      val remaining = spark.read.parquet(root)
        .filter(col("vec_id").isin(deleted.toSeq.map(java.lang.Long.valueOf): _*))
        .count()
      assert(remaining == 0, s"$remaining tombstoned row(s) survived compaction")
      // The folded sidecar parts are gone (the dir may keep writer
      // markers; only parquet parts carry tombstones).
      val tsDir = java.nio.file.Paths.get(path, "_tombstones")
      if (java.nio.file.Files.exists(tsDir)) {
        import scala.jdk.CollectionConverters._
        val l = java.nio.file.Files.list(tsDir)
        try assert(!l.iterator().asScala.exists(_.toString.endsWith(".parquet")),
          "folded tombstone parts not dropped")
        finally l.close()
      }
      val after = ml.Ivf.searchPartitioned(spark, index, q, k = 10)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(after == before, s"compaction changed the answer: $after vs $before")
    } finally {
      // The fixture is now tombstone-free; invalidate it so later runs
      // (and the graded query) restage the delete state from scratch.
      Tables.deleteRecursively(path)
    }
  }
}
