package graft.ml

import graft.functions.Vec
import org.apache.spark.ml.clustering.KMeansModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbour — the second scale
  * path for similarity search beside LSH (north-star: "an IVF or
  * LSH-bucketed variant as the scale path"):
  *
  *  - build: a seeded k-means coarse quantizer assigns every vector to one
  *    of `nCells` cells — at 100 TB the vector table is WRITTEN partitioned
  *    by this cell id, so a probe becomes partition pruning at the scan;
  *  - search: pick the `nProbe` cells whose centroids are nearest the query
  *    (centroids are model parameters — a tiny driver-side array, not a
  *    data collect), scan only those cells, exact re-rank with the native
  *    vec_dot distance.
  *
  * Fraction of data touched ≈ nProbe/nCells; recall vs brute force is
  * asserted in IvfSpec.
  */
object Ivf {

  case class Index(assigned: DataFrame, model: KMeansModel,
                   arrayCol: String, idCol: String)

  /** Assign each vector to its quantizer cell — the shared pointwise step
    * of [[build]], [[append]] and [[appendPartitioned]]. */
  private def assign(model: KMeansModel, df: DataFrame, arrayCol: String): DataFrame =
    model.transform(Pipelines.withFeatures(df, arrayCol))
      .withColumnRenamed("prediction", "cell")
      .drop("features")

  /** Assign every embedding to its quantizer cell. `maxIter` trades
    * quantizer quality for build time — cell balance, not correctness:
    * search recall comes from probing nProbe cells + exact re-rank, so a
    * coarser quantizer only shifts which cells hold the neighbours. */
  def build(embeddings: DataFrame, arrayCol: String, nCells: Int,
            seed: Long = 42L, idCol: String = "vec_id",
            trainSample: Double = 1.0, maxIter: Int = 10): Index = {
    val model = Pipelines.kmeansQuantizer(embeddings, arrayCol, nCells, seed,
      maxIter = maxIter, trainSample = trainSample)
    Index(assign(model, embeddings, arrayCol), model, arrayCol, idCol)
  }

  /** On-disk index: the assigned table persisted as a `cell=`-partitioned
    * parquet layout (sources/Layout), so probing becomes directory-level
    * partition pruning — the read itself skips ≈ 1 − nProbe/nCells of the
    * bytes before any IO, which is where the IVF win actually lives at
    * 100 TB (an in-memory `filter` still scans everything).
    * `tunedNProbe` is the build-time measured setting ([[tuneNProbe]]),
    * stored beside the layout as `_ivf_nprobe` and used when a search
    * passes no explicit width. */
  case class DiskIndex(path: String, model: KMeansModel,
                       arrayCol: String, idCol: String,
                       tunedNProbe: Option[Int] = None)

  /** Read back a layout's stored tuned probe width (the `_ivf_nprobe`
    * sidecar [[buildPartitioned]] writes). */
  def storedNProbe(path: String): Option[Int] = {
    val f = java.nio.file.Paths.get(path, "_ivf_nprobe")
    if (java.nio.file.Files.exists(f))
      Some(java.nio.file.Files.readString(f).trim.toInt)
    else None
  }

  /** The nProbe cells whose centroids are nearest the query. Centroids are
    * model parameters — a tiny driver-side array, not a data collect.
    * (Shared with the PQ tier — Pq probes the same coarse quantizer.) */
  private[ml] def nearestCells(model: KMeansModel, query: Array[Double],
                               nProbe: Int): Seq[Int] =
    model.clusterCenters.zipWithIndex
      .map { case (c, i) =>
        val d = c.toArray.zip(query).map { case (a, b) => (a - b) * (a - b) }.sum
        (i, d)
      }
      .sortBy { case (i, d) => (d, i) }.take(nProbe).map(_._1).toSeq

  /** Exact re-rank of a candidate frame: broadcast the single query vector,
    * native vec_dot distance, top-k. */
  private def rerank(candidates: DataFrame, arrayCol: String, idCol: String,
                     query: Array[Double], k: Int): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val q = Seq(Tuple1(query)).toDF("__ivf_qe")
    candidates
      .crossJoin(broadcast(q))
      .withColumn("dist", Vec.euclid(arrayCol, "__ivf_qe"))
      .drop("__ivf_qe")
      .orderBy(col("dist"), col(idCol))
      .limit(k)
  }

  /** Top-k by Euclidean distance among the nProbe nearest cells (in-memory
    * assigned frame — the small/interactive path). */
  def search(index: Index, query: Array[Double], k: Int, nProbe: Int): DataFrame = {
    val probes = nearestCells(index.model, query, nProbe)
    rerank(
      index.assigned.filter(col("cell").isin(probes.map(Integer.valueOf): _*)),
      index.arrayCol, index.idCol, query, k)
  }

  /** BUILD-TIME nProbe AUTO-TUNING from a MEASURED recall curve (r15 — a
    * fixed probe width either over-reads easy corpora or under-recalls
    * hard ones): take the `nSamples` smallest-id vectors as held sample
    * queries, compute their EXACT top-k in ONE corpus pass (all samples
    * ride a single broadcast cross join — not a pass per query), keep each
    * true neighbour's assigned cell, and rank that cell in the SAME
    * centroid-distance order [[nearestCells]] probes. Recall at probe
    * width p is then just `fraction of true-neighbour cells ranking < p` —
    * the whole curve falls out of one pass plus driver arithmetic on
    * S·k integers. Returns the smallest p whose measured recall ≥
    * `targetRecall` (p = nCells always reaches 1.0). At 100 TB the one
    * exact pass is a build-time cost on the order of the quantizer's own
    * assignment pass; the curve is stored beside the centroids
    * ([[buildPartitioned]]) so every search inherits the tuned setting. */
  def tuneNProbe(index: Index, k: Int, targetRecall: Double,
                 nSamples: Int = 8): Int = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val idC = col(index.idCol)
    val samples = index.assigned
      .select(idC.cast("long"), col(index.arrayCol).cast("array<double>"))
      .orderBy(idC).limit(nSamples)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(samples.nonEmpty, "tuneNProbe: empty index")
    val qdf = samples.toSeq.toDF("__qid", "__qe")
    val topk = index.assigned
      .crossJoin(broadcast(qdf))
      .withColumn("__d", Vec.euclid(index.arrayCol, "__qe"))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("__qid")).orderBy(col("__d"), idC)))
      .filter(col("__r") <= k)
      .select(col("__qid"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))) // S·k rows — parameters
    val centroids = index.model.clusterCenters.map(_.toArray)
    val rankByQid: Map[Long, Array[Int]] = samples.map { case (qid, q) =>
      val order = centroids.zipWithIndex.map { case (c, i) =>
        (i, c.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum)
      }.sortBy { case (i, d) => (d, i) }.map(_._1)
      val rank = new Array[Int](centroids.length)
      for ((cell, pos) <- order.zipWithIndex) rank(cell) = pos
      qid -> rank
    }.toMap
    val ranks = topk.map { case (qid, cell) => rankByQid(qid)(cell) }
    val total = ranks.length.toDouble
    (1 to centroids.length).find(p => ranks.count(_ < p) / total >= targetRecall)
      .getOrElse(centroids.length)
  }

  /** APPEND a new vector batch to an existing index WITHOUT retraining the
    * quantizer — the per-ingest maintenance op of the ANN family (the
    * incremental argument of q_agg_incremental / q_dedup_incremental,
    * applied to similarity search): quantizer TRAINING is a per-corpus-
    * epoch job; ingest pays only O(batch) centroid assignments against the
    * FROZEN centroids. Assignment is pointwise, so the appended index is
    * row-identical to assigning corpus ∪ batch with the same model
    * (IvfSpec pins this), and searches see the new vectors immediately.
    * Re-training only ever improves cell BALANCE, not answer quality —
    * recall comes from the nProbe probe + exact re-rank — so the frozen
    * quantizer stays valid until drift makes cells lopsided (an offline
    * rebuild, like Layout.compact for files). */
  def append(index: Index, batch: DataFrame): Index =
    index.copy(assigned = index.assigned.unionByName(
      assign(index.model, batch, index.arrayCol)))

  /** [[append]] for the on-disk layout: the batch's assignments land as
    * APPENDED files inside the existing `cell=` partition directories
    * (SaveMode.Append through the same bounded-file-count writer) — the
    * index layout ingests like any partitioned table; no existing file is
    * rewritten. Small appended files accrete per ingest; Layout.compact is
    * the standing maintenance answer. */
  def appendPartitioned(index: DiskIndex, batch: DataFrame): Unit =
    graft.sources.Layout.writePartitioned(
      assign(index.model, batch, index.arrayCol), dataRoot(index.path), "cell",
      mode = org.apache.spark.sql.SaveMode.Append)

  /** Build and PERSIST: quantize, TUNE the probe width on a held sample
    * ([[tuneNProbe]] — the assigned frame is persisted across the tune +
    * write passes), then write the assigned table partitioned by cell
    * (bounded file counts via Layout's hash-bucket redistribution) with
    * the tuned width stored beside it. This is the 100 TB build path —
    * the index layout IS the table layout, and its recall setting ships
    * with it. */
  def buildPartitioned(embeddings: DataFrame, arrayCol: String, nCells: Int,
                       path: String, seed: Long = 42L,
                       idCol: String = "vec_id",
                       tuneForK: Int = 10,
                       targetRecall: Double = 0.9): DiskIndex = {
    val idx0 = build(embeddings, arrayCol, nCells, seed, idCol)
    val idx = idx0.copy(assigned =
      graft.operators.ScaleOps.trackedPersist(idx0.assigned))
    // Materialize the assigned cache once, then OVERLAP the probe-width
    // tune and the layout write (guide §2.6): both only READ the persisted
    // frame, neither depends on the other, and the tuned width is written
    // to its sidecar after both finish — identical artifacts, less wall.
    idx.assigned.count()
    val (nProbe, _) = graft.operators.ScaleOps.inParallel2(
      () => tuneNProbe(idx, tuneForK, targetRecall),
      () => graft.sources.Layout.writePartitioned(idx.assigned, path, "cell"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_ivf_nprobe"), nProbe.toString)
    DiskIndex(path, idx.model, arrayCol, idCol, Some(nProbe))
  }

  /** Search the on-disk layout: the probe filter lands on the partition
    * column, so the scan prunes non-probed cell directories before reading
    * a byte (PartitionFilters in the scan node — asserted in IvfSpec).
    * Results are identical to the in-memory `search` over the same index.
    * `nProbe` ≤ 0 uses the index's build-time tuned width (in-memory field
    * or the `_ivf_nprobe` sidecar). Tombstoned ids ([[deletePartitioned]])
    * never surface: probed candidates anti-join the sidecar before the
    * re-rank. */
  def searchPartitioned(spark: SparkSession, index: DiskIndex,
                        query: Array[Double], k: Int, nProbe: Int = -1): DataFrame = {
    val width =
      if (nProbe > 0) nProbe
      else index.tunedNProbe.orElse(storedNProbe(index.path)).getOrElse(
        sys.error(s"no tuned nProbe stored at ${index.path}; pass one explicitly"))
    val probes = nearestCells(index.model, query, width)
    val assigned = graft.sources.Layout.readPartitioned(spark, dataRoot(index.path))
    val live = antiTombstones(spark, index,
      assigned.filter(col("cell").isin(probes.map(Integer.valueOf): _*)))
    rerank(live, index.arrayCol, index.idCol, query, k)
  }

  // -------------------------------------------- GENERATION POINTER (r19)
  // Compaction commits by an ATOMIC POINTER SWAP (the Layout OCC rename
  // pattern applied to the index): each compaction writes a fresh
  // `gen-<k>/` data root and publishes it by atomically replacing the
  // `_gen` pointer file. Readers resolve the pointer per read, so a crash
  // anywhere before the swap leaves the old generation fully live (the
  // half-written gen dir is an invisible orphan), and a crash after the
  // swap loses nothing (cleanup below is idempotent). A legacy layout
  // with no pointer reads its cells from the index root directly.

  private def genPointer(path: String) = java.nio.file.Paths.get(path, "_gen")

  /** The CURRENT data root holding the `cell=` partition dirs: the
    * generation the `_gen` pointer names, or the index root for a layout
    * that has never been compacted. */
  def dataRoot(path: String): String = {
    val ptr = genPointer(path)
    if (java.nio.file.Files.exists(ptr))
      s"$path/${java.nio.file.Files.readString(ptr).trim}"
    else path
  }

  private def nextGen(path: String): Int = {
    import java.nio.file.{Files, Paths}
    val dir = Paths.get(path)
    val listing = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      val gens = listing.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case n if n.startsWith("gen-") => n.stripPrefix("gen-").toInt }
        .toSeq
      if (gens.isEmpty) 1 else gens.max + 1
    } finally listing.close()
  }

  // ------------------------------------------------- DELETION (r18)
  // The deletion-vector pattern applied to the ANN index (VERDICT r17
  // Missing #1 — the takedown / right-to-be-forgotten path): deletes land
  // as an O(deleted) tombstone SIDECAR beside the cell partitions, probes
  // anti-join it, and compaction folds it into the layout. No data file is
  // rewritten on the delete itself.

  private def tombstonePath(path: String) = s"$path/_tombstones"

  /** Tombstone a set of vector ids: append one parquet part of (idCol)
    * longs to the sidecar. O(batch) — the cell partitions are untouched,
    * exactly like Layout's deletion vectors leave data files in place.
    * Idempotent: re-deleting an id adds a duplicate tombstone row, which
    * the anti-join and compaction both tolerate. */
  def deletePartitioned(index: DiskIndex, ids: DataFrame): Unit =
    ids.select(col(index.idCol)).distinct()
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(tombstonePath(index.path))

  /** The sidecar as a frame — empty (not an error) when no delete has
    * ever landed OR when compaction folded every part (the dir then holds
    * no parquet, only writer markers), so the index searches unchanged. */
  def tombstones(spark: SparkSession, index: DiskIndex): DataFrame = {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Paths.get(tombstonePath(index.path))
    val parts =
      if (java.nio.file.Files.exists(dir)) {
        val l = java.nio.file.Files.list(dir)
        try l.iterator().asScala.map(_.toString)
          .filter(_.endsWith(".parquet")).toSeq
        finally l.close()
      } else Seq.empty
    if (parts.nonEmpty) spark.read.parquet(parts: _*)
    else {
      import spark.implicits._
      Seq.empty[Long].toDF(index.idCol)
    }
  }

  /** Drop tombstoned rows from a candidate frame: a LEFT ANTI join against
    * the O(deleted)-sized sidecar, broadcast under the standard size gate
    * — at probe time this touches only the probed cells' candidates. */
  private def antiTombstones(spark: SparkSession, index: DiskIndex,
                             candidates: DataFrame): DataFrame =
    candidates.join(
      graft.operators.ScaleOps.maybeBroadcast(tombstones(spark, index)),
      Seq(index.idCol), "left_anti")

  // ------------------------------------------- STALENESS / REBUILD (r19)
  // VERDICT r18 Missing #1: Ivf.append routes new vectors to FROZEN
  // centroids by design — correct (recall comes from the probe + exact
  // re-rank) but degradable: skewed appended mass piles into few cells,
  // so one hot cell becomes one hot probe task and the probed fraction of
  // the index drifts far above nProbe/nCells. This is the CBO-ANALYZE
  // pattern applied to the index: MEASURE the drift (cell imbalance, the
  // probed-row fraction at the stored width, and sample recall at that
  // width), TRIGGER a graded rebuild when it crosses the line, and the
  // rebuild retrains the coarse quantizer over the SURVIVORS (folding
  // tombstones in the same pass) and re-tunes the probe width —
  // publishing through the same atomic generation-pointer swap as
  // [[compactPartitioned]].

  /** Measured health of a disk index:
    *  - `imbalance`: hottest live cell over the all-cells mean (1.0 =
    *    perfectly balanced; the hot-probe-task factor at scale);
    *  - `scanFrac`: mean fraction of LIVE rows a stored-width probe
    *    actually reads over the sample queries (ideal ≈ nProbe/nCells);
    *  - `sampleRecall`: measured recall@k of the stored width on the
    *    sample queries vs their exact top-k over the live rows. */
  case class Staleness(nCells: Int, liveRows: Long, imbalance: Double,
                       scanFrac: Double, sampleRecall: Double)

  /** One maintenance-pass measurement: a per-cell count aggregate
    * (≤ nCells driver rows) plus ONE exact-top-k pass for the sample
    * queries (the [[tuneNProbe]] machinery pointed at the live layout) —
    * O(index) work on the same order as a compaction's read, amortized
    * across every ingest the trigger then vets. */
  def staleness(spark: SparkSession, index: DiskIndex, k: Int = 10,
                nSamples: Int = 4): Staleness = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val live = graft.operators.ScaleOps.trackedPersist(
      antiTombstones(spark, index,
        graft.sources.Layout.readPartitioned(spark, dataRoot(index.path))))
    val nCells = index.model.clusterCenters.length
    live.count() // materialize the cache once for the overlapped reads below
    val idC = col(index.idCol)
    // The per-cell histogram and the sample-query exact-top-k pass are
    // independent reads of the materialized cache — overlap them
    // (guide §2.6); the computed statistics are unchanged.
    val (perCell, (samples, topk)) = graft.operators.ScaleOps.inParallel2(
      () => live.groupBy(col("cell"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap,
      () => {
        val samples = live
          .select(idC.cast("long"), col(index.arrayCol).cast("array<double>"))
          .orderBy(idC).limit(nSamples)
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        require(samples.nonEmpty, "staleness: empty index")
        // Exact top-k of all samples in ONE pass; a neighbour is recalled
        // iff its assigned cell ranks inside the stored width.
        val qdf = samples.toSeq.toDF("__qid", "__qe")
        val topk = live
          .crossJoin(broadcast(qdf))
          .filter(idC =!= col("__qid"))
          .withColumn("__d", graft.functions.Vec.euclid(index.arrayCol, "__qe"))
          .withColumn("__r", row_number().over(
            Window.partitionBy(col("__qid")).orderBy(col("__d"), idC)))
          .filter(col("__r") <= k)
          .select(col("__qid"), col("cell"))
          .collect().map(r => (r.getLong(0), r.getInt(1)))
        (samples, topk)
      })
    val total = perCell.values.sum
    val imbalance =
      if (total == 0) 0.0
      else perCell.values.max.toDouble / (total.toDouble / nCells)
    val width = index.tunedNProbe.orElse(storedNProbe(index.path))
      .getOrElse(nCells)
    // Probed-row fraction at the stored width, per sample query.
    val scanFrac = samples.map { case (_, q) =>
      nearestCells(index.model, q, width)
        .map(c => perCell.getOrElse(c, 0L)).sum.toDouble / math.max(1L, total)
    }.sum / samples.length
    val probedByQid = samples.map { case (qid, q) =>
      qid -> nearestCells(index.model, q, width).toSet
    }.toMap
    val recall =
      if (topk.isEmpty) 1.0
      else topk.count { case (qid, cell) => probedByQid(qid)(cell) }
        .toDouble / topk.length
    Staleness(nCells, total, imbalance, scanFrac, recall)
  }

  /** The graded rebuild trigger: fire when the hottest cell passes
    * `maxImbalance` (the hot-probe-task line), when the stored width
    * reads more than `maxScanFrac` of the live index (the IO win is
    * gone), or when measured sample recall drops under `minRecall`. A
    * freshly built-and-tuned index fires none of these (the no-flap
    * certificate in R19OpsSpec). */
  def shouldRebuild(st: Staleness, maxImbalance: Double = 4.0,
                    maxScanFrac: Double = 0.75,
                    minRecall: Double = 0.7): Boolean =
    st.imbalance > maxImbalance || st.scanFrac > maxScanFrac ||
      st.sampleRecall < minRecall

  /** REBUILD: retrain the coarse quantizer over the SURVIVORS (tombstones
    * fold in the same pass — only the snapshotted sidecar parts, exactly
    * like [[compactPartitioned]]), re-assign, re-TUNE the probe width on
    * the new quantizer, and publish the new generation with the atomic
    * `_gen` pointer swap. Returns the fresh DiskIndex (new model + tuned
    * width). Crash posture identical to compaction: the pointer swap is
    * the commit point; concurrent deletes are never discarded. */
  def rebuildPartitioned(spark: SparkSession, index: DiskIndex, nCells: Int,
                         seed: Long = 42L, tuneForK: Int = 10,
                         targetRecall: Double = 0.9): DiskIndex = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val tsDir = Paths.get(tombstonePath(index.path))
    val snapParts: Seq[java.nio.file.Path] =
      if (Files.exists(tsDir)) {
        val l = Files.list(tsDir)
        try l.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
        finally l.close()
      } else Seq.empty
    val oldRoot = dataRoot(index.path)
    val snapIds =
      if (snapParts.isEmpty) {
        import spark.implicits._
        Seq.empty[Long].toDF(index.idCol)
      } else spark.read.parquet(snapParts.map(_.toString): _*)
    val survivors = graft.sources.Layout.readPartitioned(spark, oldRoot)
      .drop("cell")
      .join(graft.operators.ScaleOps.maybeBroadcast(snapIds),
        Seq(index.idCol), "left_anti")
    val idx0 = build(survivors, index.arrayCol, nCells, seed, index.idCol)
    val idx = idx0.copy(assigned =
      graft.operators.ScaleOps.trackedPersist(idx0.assigned))
    // Same overlap as buildPartitioned: tune + new-generation write are
    // independent reads of the materialized cache (guide §2.6).
    idx.assigned.count()
    val gen = s"gen-${nextGen(index.path)}"
    val (nProbe, _) = graft.operators.ScaleOps.inParallel2(
      () => tuneNProbe(idx, tuneForK, targetRecall),
      () => graft.sources.Layout.writePartitioned(idx.assigned, s"${index.path}/$gen", "cell"))
    val tmpNp = Paths.get(index.path,
      s"_ivf_nprobe.tmp-${java.util.UUID.randomUUID()}")
    Files.writeString(tmpNp, nProbe.toString)
    Files.move(tmpNp, Paths.get(index.path, "_ivf_nprobe"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    val tmpPtr = Paths.get(index.path, s"_gen.tmp-${java.util.UUID.randomUUID()}")
    Files.writeString(tmpPtr, gen)
    Files.move(tmpPtr, genPointer(index.path),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    if (oldRoot == index.path) {
      val dir = Paths.get(index.path)
      val l = Files.list(dir)
      try l.iterator().asScala.foreach { p =>
        val n = p.getFileName.toString.stripPrefix(".").stripSuffix(".crc")
        if (n.startsWith("cell=") || n == "_SUCCESS")
          graft.Tables.deleteRecursively(p.toString)
      } finally l.close()
    } else graft.Tables.deleteRecursively(oldRoot)
    for (p <- snapParts) {
      Files.deleteIfExists(p)
      Files.deleteIfExists(p.resolveSibling("." + p.getFileName.toString + ".crc"))
    }
    DiskIndex(index.path, idx.model, index.arrayCol, index.idCol, Some(nProbe))
  }

  /** Fold tombstones into the layout (the rebuild/maintenance pass —
    * Layout.compact's DV-aware shape applied to the index): rewrite the
    * cell partitions WITHOUT the tombstoned rows into a NEW generation
    * dir, publish it with one atomic `_gen` pointer swap, then clean up.
    * Search results are identical before and after (R18OpsSpec's
    * q_sim_ivf_delete test pins this); only the physical files change.
    *
    * Concurrency + crash posture (ADVICE r18): the fold SNAPSHOTS the
    * sidecar's part files first and deletes EXACTLY those parts after the
    * swap — a tombstone appended mid-compaction stays in the sidecar and
    * keeps applying at probe time, never silently discarded. The pointer
    * swap is the single commit point: a crash before it leaves the old
    * generation fully live (orphan gen dir only); a crash after it leaves
    * already-folded tombstone parts behind, whose re-application is a
    * no-op anti-join (the ids are gone from the data). Racing a
    * concurrent APPEND remains a single-maintainer responsibility, as
    * with Layout.compact. */
  def compactPartitioned(spark: SparkSession, index: DiskIndex): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    // 1. Snapshot the tombstone sidecar's PART FILES; only these fold.
    val tsDir = Paths.get(tombstonePath(index.path))
    val snapParts: Seq[java.nio.file.Path] =
      if (Files.exists(tsDir)) {
        val l = Files.list(tsDir)
        try l.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
        finally l.close()
      } else Seq.empty
    val oldRoot = dataRoot(index.path)
    val snapIds =
      if (snapParts.isEmpty) {
        import spark.implicits._
        Seq.empty[Long].toDF(index.idCol)
      } else spark.read.parquet(snapParts.map(_.toString): _*)
    val survivors = graft.sources.Layout.readPartitioned(spark, oldRoot)
      .join(graft.operators.ScaleOps.maybeBroadcast(snapIds),
        Seq(index.idCol), "left_anti")
    // 2. Materialize the new generation INVISIBLY, then publish it with
    //    one atomic pointer replace (ATOMIC_MOVE on the same filesystem).
    val gen = s"gen-${nextGen(index.path)}"
    graft.sources.Layout.writePartitioned(survivors, s"${index.path}/$gen", "cell")
    val tmpPtr = Paths.get(index.path, s"_gen.tmp-${java.util.UUID.randomUUID()}")
    Files.writeString(tmpPtr, gen)
    Files.move(tmpPtr, genPointer(index.path),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    // 3. Idempotent cleanup: the superseded data root and exactly the
    //    folded sidecar parts (+ local-FS .crc twins).
    if (oldRoot == index.path) {
      val dir = Paths.get(index.path)
      val l = Files.list(dir)
      try l.iterator().asScala.foreach { p =>
        val n = p.getFileName.toString.stripPrefix(".").stripSuffix(".crc")
        if (n.startsWith("cell=") || n == "_SUCCESS")
          graft.Tables.deleteRecursively(p.toString)
      } finally l.close()
    } else graft.Tables.deleteRecursively(oldRoot)
    for (p <- snapParts) {
      Files.deleteIfExists(p)
      Files.deleteIfExists(p.resolveSibling("." + p.getFileName.toString + ".crc"))
    }
  }
}
