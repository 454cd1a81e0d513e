package graft.ml

import graft.functions.Vec
import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ — the COMPRESSION tier of the ANN family (re-derived from the
  * public method of Jégou, Douze & Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011): beside each coarse IVF cell, the
  * vectors' RESIDUALS (x − cell centroid) are product-quantized into m
  * one-byte codes — the residual is split into m subspaces of dsub dims,
  * each subspace gets its own 256-centroid k-means codebook, and a vector's
  * code is its per-subspace nearest-centroid ids packed into an m-byte
  * BINARY. The 64-dim float corpus (256 B/vector) stores as 8 B/vector —
  * 32× — and at 100 TB that is the difference between an index that fits
  * in cluster memory and one that doesn't.
  *
  * Search = the paper's ADC (asymmetric distance computation): probe the
  * nProbe nearest cells exactly as IVF does (partition pruning on the
  * cell-partitioned code layout), build a per-probed-cell lookup table of
  * ||query-residual subvector − codebook centroid||² (nProbe × m × 256
  * doubles — driver-side parameters, like the centroids themselves), scan
  * ONLY the probed cells' codes summing m table lookups per row (all
  * codegen'd built-ins: hex-decode + aggregate over a broadcast LUT join —
  * no UDF in the scan), take a shortlist of the best ADC candidates, then
  * exact-re-rank the shortlist from the FULL vectors. Only the shortlist
  * (O(k) rows) ever touches a full vector at query time; the corpus-sized
  * scan reads m bytes per row.
  */
object Pq {

  /** [m][256][dsub] codebooks + the coarse quantizer; `codes` is the
    * cell-partitioned (vec_id, label, code BINARY) layout frame, `vectors`
    * the full-precision assigned frame used only for shortlist re-rank. */
  case class PqIndex(coarse: KMeansModel, books: Array[Array[Array[Double]]],
                     m: Int, dsub: Int, codes: DataFrame, vectors: DataFrame,
                     idCol: String, tunedNProbe: Int)

  private def subCol(residual: String, s: Int, dsub: Int) =
    expr(s"slice($residual, ${s * dsub + 1}, $dsub)")

  /** Train the m codebooks and encode the corpus. `ksub` = 256 (the
    * paper's one-byte setting) — `random` init keeps 8 × k=256 fits cheap;
    * codebook quality only shifts which candidates make the shortlist, the
    * exact re-rank decides the final ranking. */
  def build(embeddings: DataFrame, arrayCol: String, nCells: Int,
            m: Int = 8, seed: Long = 42L, idCol: String = "vec_id",
            targetRecall: Double = 0.9, tuneForK: Int = 10): PqIndex = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val idx0 = Ivf.build(embeddings, arrayCol, nCells, seed, idCol, maxIter = 4)
    val assigned = graft.operators.ScaleOps.trackedPersist(idx0.assigned)
    val nProbe = Ivf.tuneNProbe(idx0.copy(assigned = assigned),
      tuneForK, targetRecall)
    val dim = assigned.select(size(col(arrayCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val centersDf = broadcast(idx0.model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.toSeq) }.toSeq.toDF("cell", "__ctr"))
    val withRes = assigned.join(centersDf, "cell")
      .withColumn("__res", expr(
        s"zip_with(CAST($arrayCol AS ARRAY<DOUBLE>), __ctr, (a, b) -> a - b)"))
    // One k-means codebook per subspace over the residual subvectors. Every
    // fit reads the PERSISTED residual frame directly (fitting off the
    // growing transform chain would recompute all earlier subspaces'
    // assignments per fit), with 2 Lloyd iterations — codebook quality only
    // shifts which candidates make the shortlist, never the final ranking,
    // so the build buys routing, not polish. The corpus is then encoded by
    // m chained pointwise transforms evaluated in one pass (each O(rows ×
    // 256 × dsub) — the same cost shape as the coarse assignment).
    val resP = graft.operators.ScaleOps.trackedPersist(withRes)
    // Materialize the shared residual cache ONCE, then fit the m codebooks
    // CONCURRENTLY (guide §2.6 — the fits are independent actions: each has
    // its own seed, reads only the persisted frame, and a fit's result
    // depends on nothing another fit does, so the models are bit-identical
    // to the sequential loop; only the wall-clock changes — measured 8.6 s
    // of serial fits at sf0.1 collapse to the slowest single fit).
    resP.count()
    val models = graft.operators.ScaleOps.inParallel((0 until m).map { s =>
      () => new KMeans().setK(256).setSeed(seed + s)
        .setInitMode("random").setMaxIter(2).setFeaturesCol("features")
        .fit(Pipelines.withFeatures(
          resP.withColumn("__sub", subCol("__res", s, dsub)), "__sub")
          .select("features"))
    })
    var cur: DataFrame = resP
    models.zipWithIndex.foreach { case (model, s) =>
      cur = model.transform(Pipelines.withFeatures(
        cur.withColumn("__sub", subCol("__res", s, dsub)), "__sub"))
        .withColumnRenamed("prediction", s"__c$s")
        .drop("features", "__sub")
    }
    val books = models.map(_.clusterCenters.map(_.toArray)).toArray
    val codeArr = array((0 until m).map(s => col(s"__c$s")): _*)
    val codes = cur
      .withColumn("code", unhex(concat_ws("",
        transform(codeArr, c => lpad(hex(c), 2, "0")))))
      .select(col(idCol), col("label"), col("cell"), col("code"))
    PqIndex(idx0.model, books, m, dsub, codes,
      assigned.select(col(idCol), col("cell"),
        col(arrayCol).cast("array<double>").as("__vec")),
      idCol, nProbe)
  }

  /** Persist the code table as a `cell=`-partitioned layout (the same
    * pruning story as Ivf.buildPartitioned — a probe reads only its cells'
    * directories, and each row there is m bytes, not 4·dim). */
  def writeCodes(index: PqIndex, path: String): PqIndex = {
    graft.sources.Layout.writePartitioned(index.codes, path, "cell")
    index.copy(codes =
      graft.sources.Layout.readPartitioned(index.codes.sparkSession, path))
  }

  /** ADC search: probe → LUT scan of the probed cells' codes → shortlist →
    * exact re-rank from full vectors. `shortlist` defaults to 4k — the
    * paper's re-rank regime where ADC ordering errors inside the shortlist
    * cannot reach the final top-k. */
  def search(index: PqIndex, query: Array[Double], k: Int,
             nProbe: Int = -1, shortlist: Int = -1): DataFrame = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    val width = if (nProbe > 0) nProbe else index.tunedNProbe
    val short = if (shortlist > 0) shortlist else 4 * k
    val probes = Ivf.nearestCells(index.coarse, query, width)
    // Per-probed-cell ADC tables: ||(q − ctr)_sub − book[s][j]||² for every
    // subspace s and code j — nProbe × m × 256 doubles of driver-side
    // parameters, broadcast like the centroids.
    val luts: Seq[(Int, Seq[Seq[Double]])] = probes.map { c =>
      val ctr = index.coarse.clusterCenters(c).toArray
      val qr = query.indices.map(i => query(i) - ctr(i))
      c -> (0 until index.m).map { s =>
        val qs = qr.slice(s * index.dsub, (s + 1) * index.dsub)
        index.books(s).map(b =>
          b.indices.map(i => { val d = qs(i) - b(i); d * d }).sum).toSeq
      }
    }
    val lutDf = broadcast(luts.toDF("cell", "__lut"))
    val m = index.m
    val adc = index.codes
      .filter(col("cell").isin(probes.map(Integer.valueOf): _*))
      .join(lutDf, "cell")
      .withColumn("__codes", expr(
        s"transform(sequence(1, $m), i -> CAST(conv(substring(hex(code), 2*i-1, 2), 16, 10) AS INT))"))
      .withColumn("adist", expr(
        s"""aggregate(sequence(1, $m), CAST(0 AS DOUBLE),
            (acc, i) -> acc + element_at(element_at(__lut, i),
                                         element_at(__codes, i) + 1))"""))
      .select(col(index.idCol), col("label"), col("adist"))
      .orderBy(col("adist"), col(index.idCol))
      .limit(short)
    // Exact re-rank: only the shortlist's O(k) rows read a full vector.
    val q = Seq(Tuple1(query)).toDF("__qe")
    index.vectors
      .filter(col("cell").isin(probes.map(Integer.valueOf): _*))
      .join(broadcast(adc), index.idCol)
      .crossJoin(broadcast(q))
      .withColumn("dist", Vec.euclid("__vec", "__qe"))
      .select(col(index.idCol), col("label"), col("adist"), col("dist"))
      .orderBy(col("dist"), col(index.idCol))
      .limit(k)
  }
}
