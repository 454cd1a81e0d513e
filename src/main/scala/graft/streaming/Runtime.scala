package graft.streaming

import graft.Tables
import graft.functions.Det.dsum
import graft.sources.Layout
import org.apache.spark.sql.{DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{Decimal, DecimalType, LongType, StructField, StructType}

/** Structured Streaming runtime — SURVEY.md §2.10's runtime half.
  *
  * The batch forms in queries/StreamingQs.scala define the semantics; this
  * module runs the same event-time aggregations as REAL incremental streams
  * (file source replaying the events parquet, watermark, memory sink) so
  * tests can assert stream == batch. At cluster scale the same code points
  * `readStream` at an arriving-file directory (or Kafka) and the sink at
  * partitioned parquet via `foreachBatch` — only source/sink options change.
  */
object Runtime {

  /** The events table as a file-source stream (one file → one micro-batch;
    * `maxFilesPerTrigger=1` keeps replay deterministic). Schema comes from a
    * batch peek — required by file streaming sources. `ts` is normalized
    * exactly like the batch path (Tables.decodeEventTs — raw-nanos long and
    * native-timestamp testdata generations both work).
    *
    * File streaming sources watch a DIRECTORY for arriving files; the
    * testdata table is a single parquet file, so it is staged (once) into a
    * temp "arrivals" directory — exactly how files would land in production.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    Tables.prep(spark)
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    // Content-keyed shared staging (Tables.stagedFixture): the signature
    // marker guards against a stale copy silently diverging from the batch
    // side if the testdata were regenerated.
    val streamDir = stageReplay(spark, dir, "stream", Seq("events.parquet")) { d =>
      java.nio.file.Files.copy(src, d.resolve("events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val schema = Tables.table(spark, dir, "events").schema
    Tables.decodeEventTs(spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString))
  }

  /** 1-hour tumbling count+sum with a 1-hour watermark (late rows beyond
    * the watermark are dropped in append mode; the equivalence test replays
    * in order, so batch == stream). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))

  /** Hourly MOMENT PARTIALS (r16) — the streaming half of q_stream_anomaly:
    * per (hour window, type), count + Σcents + Σcents² as exact integers
    * (values are money-shaped; the DECIMAL(18,2) cast is the engine-portable
    * exact 2-dp extraction, ×100 → integer cents). Watermarked append —
    * each hour's sufficient statistics finalize exactly once, and because
    * (n, s1, s2) are MERGEABLE the detector downstream never needs raw
    * events: this is the sketch-table shape every monitoring stack
    * materializes (the moments twin of the quantile/HLL/frequent-items
    * sketch keys). */
  def hourlyMoments(events: DataFrame): DataFrame = {
    val cents = (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
      * 100).cast("long")
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents).as("s1"), sum(cents * cents).as("s2"))
      .select(col("w.start").as("w_start"), col("event_type"),
        col("n"), col("s1"), col("s2"))
  }

  /** STREAM-STATIC JOIN enrichment (r16) — the third join mode Structured
    * Streaming supports (stream-stream interval joins are the
    * clickPurchase* family; this is the dimension-enrichment shape every
    * production ingest runs): the event stream LEFT-joins a bounded batch
    * dimension (customer segment, deliberately FILTERED so part of the
    * key domain is unmatched and the UNKNOWN bucket is exercised), then
    * aggregates per (hour window, segment). Spark re-plans the static
    * side per micro-batch — a broadcast of the dim, no stream state for
    * the join itself; only the downstream windowed aggregate holds state.
    * The flush sentinel (user_id −1, unmatched by construction) is mapped
    * to its own segment and filtered AFTER the aggregate, the
    * qStreamTumbling convention. */
  def staticEnrichedCounts(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .join(broadcast(dim), Seq("user_id"), "left")
      .groupBy(window(col("ts"), "1 hour").as("w"),
        when(col("event_type") === "flush", lit("flush"))
          .otherwise(coalesce(col("c_mktsegment"), lit("UNKNOWN"))).as("segment"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
      .select(col("w.start").as("w_start"), col("segment"),
        col("n"), col("sum_value"))

  /** 1-hour windows sliding every 30 minutes as a stream. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
      .select(col("w.start").as("w_start"), col("n"), col("sum_value"))

  /** Per-user 30-minute-gap sessions with watermark — streaming
    * session_window requires one. Same output columns as the batch form
    * (StreamingQs.sessionBatchForm) so the q_stream_session gate run and
    * the equivalence tests compare full rows. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value"), 6).as("sum_value"))
      .select(col("user_id"), col("sw.start").as("s_start"),
        col("sw.end").as("s_end"), col("n_events"), col("sum_value"))

  /** The events stream with every file staged TWICE (two arrival files →
    * two micro-batches under maxFilesPerTrigger=1) — the at-least-once
    * redelivery shape every streaming ingest must survive. Fixture for
    * [[dedupedEvents]]. */
  def eventsStreamWithRedelivery(spark: SparkSession, dir: String): DataFrame = {
    Tables.prep(spark)
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    val streamDir = stageReplay(spark, dir, "stream-redeliver",
      Seq("events_a.parquet", "events_b.parquet")) { d =>
      for (name <- Seq("events_a.parquet", "events_b.parquet"))
        java.nio.file.Files.copy(src, d.resolve(name),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val schema = Tables.table(spark, dir, "events").schema
    Tables.decodeEventTs(spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString))
  }

  /** Write `df` as a single parquet file at streamDir/name (coalesce into
    * a temp dir, copy the one part file out) — the replay-fixture writer
    * shared by the flush and time-split stagings. */
  private def stageOne(df: DataFrame, streamDir: java.nio.file.Path,
                       name: String): Unit = {
    val tmp = streamDir.resolve(name + ".dir")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val listing = java.nio.file.Files.list(tmp)
    val part =
      try listing.filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      finally listing.close()
    java.nio.file.Files.copy(part, streamDir.resolve(name),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // The staging root is shared across runs now — drop the write's scratch
    // dir instead of letting it accrete beside the fixture files.
    Tables.deleteRecursively(tmp.toString)
  }

  /** One far-future sentinel row (user_id = −1, event_type "flush") that
    * advances the event-time watermark past every real session/window.
    * `flushUs` is epoch-micros; the frame matches the DECODED events schema
    * (ts already a TimestampType), which is what the flush/split fixtures
    * stage. */
  private def flushFrame(batch: DataFrame, flushUs: Long): DataFrame =
    batch.limit(1)
      .select(lit(-1L).as("event_id"), timestamp_micros(lit(flushUs)).as("ts"),
        lit(-1L).as("user_id"), lit("flush").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))

  /** Replay-fixture staging: Tables.stagedFixture (content-keyed marker
    * under the SHARED replay root, so a fresh JVM skips the staging jobs —
    * the fixtures are pure functions of the data directory and the build)
    * plus the replay-specific twist: after `write`, strictly increasing
    * mtimes are stamped in `names` order — the file source replays
    * oldest-mtime first, so flush batches always FOLLOW the data batches
    * regardless of copy timing. `kind` must be one of [[ReplayKinds]].
    * Returns the staged directory. */
  private def stageReplay(spark: SparkSession, dir: String, kind: String,
                          names: Seq[String])
                         (write: java.nio.file.Path => Unit): java.nio.file.Path = {
    require(ReplayKinds.contains(kind), s"replay kind $kind is missing from ReplayKinds")
    val staged = Tables.stagedFixture(spark, dir, kind) { d =>
      val p = java.nio.file.Paths.get(d)
      write(p)
      for ((name, i) <- names.zipWithIndex)
        java.nio.file.Files.setLastModifiedTime(p.resolve(name),
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    java.nio.file.Paths.get(staged)
  }

  /** The events stream staged with a trailing FLUSH row (one far-future
    * row for a sentinel user, max ts + 4 h) appended to the events file —
    * ONE data micro-batch. The flush row advances the event-time watermark
    * past every real window's end and every session's timeout once the
    * batch completes, so the engine's final no-data micro-batch emits all
    * remaining append-mode windows and fires every EventTimeTimeout
    * ([[statefulSessions]]) before the bounded replay ends — the
    * replay-side stand-in for a production stream's continuously advancing
    * watermark. (Watermark filtering of a batch's rows uses the PREVIOUS
    * batch's watermark, so data sharing the batch with the sentinel is
    * never dropped as late.) Sentinel rows carry user_id = -1 /
    * event_type "flush" and are excluded by the operators themselves.
    * Cross-batch incremental state is graded by the time-split fixture
    * ([[eventsStreamSplitByTime]]); this one grades watermark-driven
    * emission at minimal replay cost. */
  def eventsStreamWithFlush(spark: SparkSession, dir: String): DataFrame = {
    Tables.prep(spark)
    val names = Seq("events_0_flush.parquet")
    // The fixture stages the DECODED frame (ts normalized to TimestampType
    // micros) so the sentinel arithmetic below is representation-agnostic.
    val streamDir = stageReplay(spark, dir, "stream-flush", names) { d =>
      val batch = Tables.events(spark, dir)
      val maxTsUs = batch.agg(max(unix_micros(col("ts")))).head().getLong(0)
      stageOne(batch.unionByName(
          flushFrame(batch, maxTsUs + 4L * 3600L * 1000000L)),
        d, "events_0_flush.parquet")
    }
    val schema = Tables.events(spark, dir).schema
    Tables.decodeEventTs(spark.readStream
      .schema(schema)
      .parquet(streamDir.toString + "/events_*.parquet"))
  }

  /** Stage (once, content-keyed) the TWO time-split replay files — early
    * half / late half by the median timestamp — and return the fixture
    * directory. Shared by [[eventsStreamSplitByTime]] (which watches the
    * whole directory) and [[runTumblingWithRestart]] (which copies the
    * files into a run-scoped arrivals directory one at a time).
    *
    * The flush sentinel sits at max + 4h, not max + 2h. The outer
    * stream-stream join emits a left row's null proof only when the final
    * watermark (sentinel − 1h delay) STRICTLY passes c_ts + 60min window;
    * a 2h margin gave exactly zero headroom, so an unmatched click AT the
    * global max event timestamp would have been stranded in state (data-
    * dependent: it only needs the corpus's last event to be a click).
    * Margin > delay + window makes the proof unconditional. */
  private[graft] def stagedSplitDir(spark: SparkSession,
                                    dir: String): java.nio.file.Path = {
    val names = Seq("events_0_early.parquet", "events_1_late.parquet")
    // Decoded-layout fixture (see eventsStreamWithFlush); the median split
    // runs over epoch-micros of the normalized ts.
    stageReplay(spark, dir, "stream-split", names) { d =>
      val batch = Tables.events(spark, dir)
      val bounds = batch.select(
        expr("approx_percentile(unix_micros(ts), 0.5)").as("mid"),
        max(unix_micros(col("ts"))).as("mx")).head()
      val (midUs, maxTsUs) = (bounds.getLong(0), bounds.getLong(1))
      stageOne(batch.filter(unix_micros(col("ts")) <= midUs),
        d, "events_0_early.parquet")
      stageOne(batch.filter(unix_micros(col("ts")) > midUs)
        .unionByName(flushFrame(batch, maxTsUs + 4L * 3600L * 1000000L)),
        d, "events_1_late.parquet")
    }
  }

  /** The events stream staged as TWO time-split files (early half / late
    * half by the median timestamp) — two micro-batches. Exercises the
    * CROSS-BATCH paths of stateful operators: open sessions (or buffered
    * join rows) from batch 1 must be extended / matched by batch 2 instead
    * of everything arriving in one call. Cross-batch coverage needs two
    * DATA batches; it does not need dedicated flush BATCHES — the flush
    * sentinel rides INSIDE the late file (watermarks advance from a
    * batch's own max event time once the batch completes), and the
    * engine's final no-data micro-batch then fires any remaining
    * event-time timeouts (asserted by StreamingEquivSpec's split-replay
    * stateful case). One batch fewer per run than a separate flush file,
    * identical semantics. */
  def eventsStreamSplitByTime(spark: SparkSession, dir: String): DataFrame = {
    Tables.prep(spark)
    val streamDir = stagedSplitDir(spark, dir)
    Tables.decodeEventTs(spark.readStream
      .schema(Tables.events(spark, dir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString + "/events_*.parquet"))
  }

  /** The events stream staged as a LATE-ARRIVAL schedule: most of the
    * stream (event_id % 5 != 2 — spanning the full time range, so the
    * watermark advances to near the global max) arrives as batch one; the
    * held-back slice (% 5 == 2, also spanning the full range) arrives as
    * batch two, AFTER the watermark has moved — so its old rows are
    * genuinely late (dropped by the watermark) while its recent rows land
    * in still-open windows and are accepted. Deterministic by
    * construction: the id split and batch boundary fix exactly which rows
    * the watermark classifies late, so a SQL oracle can re-derive the
    * classification. Fixture for [[StreamingQs.qStreamLate]]'s
    * late-data-accounting contract. */
  def eventsStreamLateArrivals(spark: SparkSession, dir: String): DataFrame = {
    Tables.prep(spark)
    val names = Seq("events_0_ontime.parquet", "events_1_tick.parquet",
      "events_2_late.parquet")
    // THREE batches, not two: Spark filters a batch's late rows against
    // the PREVIOUS batch's watermark (eventTimeWatermarkForLateEvents;
    // eviction uses the current one), so a late file arriving in batch one
    // meets watermark 0 and nothing is ever classified late. The middle
    // "tick" file (one sentinel row at the on-time max, advancing nothing)
    // commits the on-time watermark, so the late file's batch is filtered
    // against max(on-time ts) − 1 h — the production shape, where the
    // stream has been running long before a straggler arrives.
    val streamDir = stageReplay(spark, dir, "stream-late", names) { d =>
      val batch = Tables.events(spark, dir)
      val onTime = batch.filter(col("event_id") % 5 =!= 2)
      val maxOnTimeUs = onTime.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val maxTsUs = batch.agg(max(unix_micros(col("ts")))).head().getLong(0)
      stageOne(onTime, d, "events_0_ontime.parquet")
      stageOne(flushFrame(batch, maxOnTimeUs), d, "events_1_tick.parquet")
      stageOne(batch.filter(col("event_id") % 5 === 2)
          .unionByName(flushFrame(batch, maxTsUs + 2L * 3600L * 1000000L)),
        d, "events_2_late.parquet")
    }
    Tables.decodeEventTs(spark.readStream
      .schema(Tables.events(spark, dir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString + "/events_*.parquet"))
  }

  /** Streaming ingest DEDUPLICATION — the stream-side member of the dedup
    * family (the batch members live in queries/LlmOps): exactly-once
    * semantics on top of an at-least-once source via
    * `dropDuplicatesWithinWatermark` on the record key.
    *
    * Scale posture: state is hash-partitioned by key across the cluster
    * (same shuffle shape as a streaming aggregation) and — unlike a plain
    * `dropDuplicates`, whose state grows forever — every key is EVICTED
    * once the watermark passes its event time, so state is bounded by the
    * redelivery horizon, not the stream's lifetime. For content dedup of a
    * document stream, the key becomes md5(text) — same state machine. */
  def dedupedEvents(events: DataFrame, horizon: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("event_id")

  /** Keyed dedup with the EVENT TIME in the key — the variant whose
    * watermark doesn't just bound state but CLASSIFIES late input: rows
    * older than the previous batch's watermark are dropped and counted in
    * numRowsDroppedByWatermark. (`dropDuplicatesWithinWatermark` and the
    * windowed aggregations deliberately do NOT late-filter input — the
    * one merges stragglers into still-open state, the other makes no
    * late-data guarantee at all — so this is the operator that carries
    * the late-accounting contract, [[StreamingQs.qStreamLate]].) */
  def dedupedEventsWithEventTime(events: DataFrame,
                                 horizon: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", horizon)
      .dropDuplicates("event_id", "ts")

  /** A DOCUMENTS-table stream with every file staged TWICE (two arrival
    * files → two micro-batches) — the at-least-once redelivery shape for
    * CONTENT ingest, fixture for [[dedupedDocuments]]. Arrival time is
    * synthesized deterministically from doc_id (the replay needs an
    * event-time column for the dedup watermark; in production the ingest
    * source supplies it — a Kafka timestamp or an object-store mtime). */
  def documentsStreamWithRedelivery(spark: SparkSession, dir: String): DataFrame = {
    Tables.prep(spark)
    val src = java.nio.file.Paths.get(s"$dir/documents.parquet")
    val names = Seq("documents_a.parquet", "documents_b.parquet")
    val streamDir = stageReplay(spark, dir, "docs-redeliver", names) { d =>
      for (name <- names)
        java.nio.file.Files.copy(src, d.resolve(name),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    spark.readStream
      .schema(Tables.documents(spark, dir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
      .withColumn("ts", timestamp_micros(lit(983750400000000L) + col("doc_id")))
  }

  /** CONTENT deduplication of a document stream — [[dedupedEvents]]'s
    * state machine with the key switched to (source, md5(text)), grading
    * the docstring's claim directly: exactly-once CONTENT semantics over
    * an at-least-once source, state hash-partitioned by content key and
    * EVICTED once the watermark passes the redelivery horizon. Keying by
    * (source, content) rather than content alone keeps one copy per
    * source — the per-corpus bookkeeping a multi-source training pipeline
    * wants — and makes the result independent of inter-source arrival
    * races (a same-text doc in two sources survives in both). */
  def dedupedDocuments(docs: DataFrame, horizon: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_hash", md5(col("text")))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("source", "text_hash")

  /** STREAM-STREAM interval join (the two-stream member of the join family;
    * batch twin: StreamingQs.qStreamJoin): every click attributed to each
    * same-user purchase that follows it within `windowMinutes`. Both sides
    * carry a watermark and the join condition bounds event-time distance,
    * so each side's buffered state is EVICTED once the other side's
    * watermark passes the reachable range — state is bounded by the
    * attribution window, not the stream's lifetime. Inner joins emit as
    * soon as both rows arrive (no watermark wait), so a bounded replay
    * emits every pair. At scale both sides hash-partition on user_id —
    * one co-located shuffle each, same shape as a batch sort-merge join. */
  def clickPurchaseJoin(events: DataFrame, windowMinutes: Int = 60): DataFrame = {
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        col("c_ts"), col("p_ts"))
  }

  /** The click side, the purchase side and the interval condition the
    * outer stream joins share. The watermark is applied at the SOURCE: the
    * per-side type filters are pushed BELOW the EventTimeWatermark node by
    * the optimizer, so a side that filters the flush sentinel out would
    * compute its watermark from its own rows only (observed: the
    * clicks-side watermark stalled at max-click-ts − delay and the last
    * unmatched clicks never got their null proof). Both sides therefore
    * KEEP the sentinel through the watermark collector, and it never
    * matches: the purchase-side sentinel is remapped to user −2 (the
    * click-side one stays −1, so sentinel never matches sentinel or any
    * real row). Whether a sentinel can emit ALONE depends on the join
    * type; each caller says why it cannot. */
  private def outerJoinSides(events: DataFrame, windowMinutes: Int)
      : (DataFrame, DataFrame, org.apache.spark.sql.Column) = {
    val wm = events.withWatermark("ts", "1 hour")
    val clicks = wm.filter(col("event_type").isin("click", "flush"))
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("c_ts"))
    val purchases = wm.filter(col("event_type").isin("purchase", "flush"))
      .select(when(col("event_type") === "flush", lit(-2L))
          .otherwise(col("user_id")).as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("p_ts"))
    (clicks, purchases,
      col("user_id") === col("p_user_id") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowMinutes MINUTES"))
  }

  /** LEFT-OUTER stream-stream join — every click, with the purchase it
    * preceded within the window or NULL if none ever arrives. Unlike the
    * inner form ([[clickPurchaseJoin]]), the null results can only emit
    * once the WATERMARK proves no matching purchase can still arrive — so
    * the watermark is applied at the SOURCE, before the per-side filters:
    * the flush sentinel (event_type 'flush', filtered out of both sides)
    * still advances it past every click's match window, and the engine's
    * final no-data micro-batch flushes the unmatched-click state. Buffered
    * state on both sides is watermark-bounded exactly as in the inner
    * join. */
  def clickPurchaseJoinOuter(events: DataFrame, windowMinutes: Int = 60): DataFrame = {
    // Right-side rows don't emit alone under left-outer, and the left
    // sentinel's own eviction threshold (sentinel_ts + window) sits ABOVE
    // the maximum reachable watermark (sentinel_ts − delay) by
    // construction, so it dies in state when the query ends.
    val (clicks, purchases, on) = outerJoinSides(events, windowMinutes)
    clicks.join(purchases, on, "left_outer")
      // p_ts stays internal: a nullable TIMESTAMP output column would hash
      // as NaT — the one null representation the oracle-compare layers
      // don't guarantee equal — while the nullable BIGINT purchase_id
      // identifies the match just as well (both sides surface its null as
      // NaN, which compares equal).
      .select(col("user_id"), col("click_id"), col("purchase_id"), col("c_ts"))
  }

  /** FULL-OUTER stream-stream join — the reconciliation shape streaming
    * CDC consumers run: every click↔purchase attribution pair, PLUS every
    * click that never found a purchase (null purchase side) AND every
    * purchase no click preceded (null click side). Both directions of null
    * proof are watermark-finalized: a click's null emits once the watermark
    * passes c_ts + window (no matching purchase can still arrive), a
    * purchase's once it passes p_ts (no matching click can). Sentinel
    * discipline is [[outerJoinSides]]' — watermark applied at the
    * SOURCE so the optimizer's filter pushdown can't starve either side's
    * watermark collector, purchase-side sentinel remapped to user −2 so
    * sentinel never matches anything — with one full-outer-specific twist:
    * under full outer a right row CAN emit alone, so the sentinels
    * themselves would surface as unmatched rows if their own eviction
    * thresholds were reachable. They are not, by the replay's margin
    * construction (sentinel at max_ts + 4 h, delay 1 h: the maximum
    * reachable watermark is sentinel_ts − delay, strictly below both the
    * click sentinel's c_ts + window and the purchase sentinel's p_ts), so
    * both die in state when the bounded query ends; the gate query filters
    * event_id −1 defensively anyway.
    *
    * Output carries no timestamp column: under full outer BOTH c_ts and
    * p_ts are nullable, and a nullable TIMESTAMP output hashes as NaT —
    * the one null representation the oracle-compare layers don't guarantee
    * equal (nullable BIGINTs surface as NaN, which does). user_id =
    * coalesce(click side, purchase side) is never null. */
  def clickPurchaseJoinFull(events: DataFrame, windowMinutes: Int = 60): DataFrame = {
    val (clicks, purchases, on) = outerJoinSides(events, windowMinutes)
    clicks.join(purchases, on, "full_outer")
      .select(coalesce(col("user_id"), col("p_user_id")).as("user_id"),
        col("click_id"), col("purchase_id"))
  }

  /** RIGHT-OUTER stream-stream join — the mirror of
    * [[clickPurchaseJoinOuter]]: every attribution pair PLUS every purchase
    * no click preceded within the window (null click side, emitted once
    * the watermark passes p_ts — no matching click can still arrive).
    * Sentinel discipline as in [[clickPurchaseJoinFull]]: under right
    * outer the RIGHT side's sentinel is the one that could emit alone, and
    * the replay margin keeps its eviction threshold above the maximum
    * reachable watermark; the click-side sentinel cannot emit alone by the
    * join shape. Output mirrors the left-outer key's: no timestamp
    * column (p_ts would be fine non-null, but c_ts is null on unmatched
    * rows — keep the NaT trap out entirely), user_id = coalesce of
    * whichever side is present. */
  def clickPurchaseJoinRight(events: DataFrame, windowMinutes: Int = 60): DataFrame = {
    val (clicks, purchases, on) = outerJoinSides(events, windowMinutes)
    clicks.join(purchases, on, "right_outer")
      .select(coalesce(col("user_id"), col("p_user_id")).as("user_id"),
        col("click_id"), col("purchase_id"))
  }

  /** Typed input rows of [[statefulSessions]]. `ts` stays a Timestamp —
    * the event-time-timeout analysis requires the WATERMARKED column to
    * survive into the stateful operator's child plan, so it cannot be
    * projected away into a long before grouping. State/output use micros. */
  case class SessEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start_us: Long, last_us: Long, n: Long, sum: java.math.BigDecimal)
  case class SessionOut(user_id: Long, s_start_us: Long, s_end_us: Long,
                        n_events: Long, sum_value: Double)

  /** Per-user 30-minute-gap sessionization as an ARBITRARY-STATE operator —
    * `flatMapGroupsWithState` with event-time timeout (SURVEY §2.10's
    * custom-state surface; same answer as session_window/the gaps-and-
    * islands oracle, proven by the q_stream_stateful CORRECTNESS row):
    *
    *  - state per user: the OPEN session (start, last, count, decimal sum);
    *  - a batch's events are sorted and folded in; any within-batch gap
    *    ≥ the session gap closes and EMITS the session immediately;
    *  - the open tail session registers an event-time timeout at
    *    last + gap: when the WATERMARK passes it (no later event arrived in
    *    time to extend), the session is final — emitted and state removed.
    *    State is therefore bounded by one open session per active user.
    *
    * The decimal accumulator mirrors Det.dsum bit-for-bit (cast each value
    * to DECIMAL(38,10), exact sum, round(6) at emit), so the output hashes
    * identically to the oracle's decimal pipeline. Sentinel rows
    * (user_id < 0, the flush batches) are filtered before grouping. */
  def statefulSessions(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    def mkOut(u: Long, st: SessionState): SessionOut = {
      // Det.dsum parity: round(sum, 6) * 1e6 -> long -> double / 1e6.
      val rounded = st.sum.setScale(6, java.math.RoundingMode.HALF_UP)
      val v = rounded.movePointRight(6).longValueExact() / 1e6
      SessionOut(u, st.start_us, st.last_us + gapUs, st.n, v)
    }

    def fold(user: Long, rows: Iterator[SessEvent],
             state: GroupState[SessionState]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        val out = mkOut(user, state.get)
        state.remove()
        return Iterator(out)
      }
      // Sentinel (flush) rows exist solely to advance the watermark — no
      // session is built for them. They must be dropped HERE, not with a
      // Dataset.filter before the watermark: the optimizer pushes such a
      // filter below the EventTimeWatermark node, which would stop the
      // flush rows from ever advancing the watermark (observed: the last
      // ~hour of sessions never timed out).
      if (user < 0) return Iterator.empty
      def micros(t: java.sql.Timestamp): Long =
        math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
      val sorted = rows.map(e => (micros(e.ts), e.value)).toArray.sortBy(_._1)
      if (sorted.isEmpty) return Iterator.empty
      val closed = Seq.newBuilder[SessionOut]
      var cur = state.getOption.orNull
      for ((tsUs, value) <- sorted) {
        // Spark's cast(double as decimal(38,10)) = canonical string repr,
        // HALF_UP to 10 places — mirrored exactly.
        val dv = java.math.BigDecimal.valueOf(value)
          .setScale(10, java.math.RoundingMode.HALF_UP)
        if (cur == null) cur = SessionState(tsUs, tsUs, 1L, dv)
        else if (tsUs - cur.last_us >= gapUs) {
          closed += mkOut(user, cur)
          cur = SessionState(tsUs, tsUs, 1L, dv)
        } else cur = cur.copy(last_us = tsUs, n = cur.n + 1, sum = cur.sum.add(dv))
      }
      state.update(cur)
      // The open tail session becomes final once the watermark passes
      // last + gap — register the event-time timeout that emits it.
      state.setTimeoutTimestamp((cur.last_us + gapUs) / 1000L)
      closed.result().iterator
    }

    events
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"), col("value"))
      .as[SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fold)
      .select(col("user_id"), timestamp_micros(col("s_start_us")).as("s_start"),
        timestamp_micros(col("s_end_us")).as("s_end"),
        col("n_events"), col("sum_value"))
  }

  /** [[statefulSessions]] re-expressed on Spark 4's ARBITRARY-STATE v2 API
    * (`transformWithState` / `StatefulProcessor`) — the successor surface
    * the platform is consolidating on (r17): named state variables instead
    * of one opaque blob (the open session in a ValueState, the registered
    * timer in a second ValueState), explicit timer registration/deletion
    * instead of the single implicit timeout slot, and TTL/state-schema
    * evolution support. Semantics are pinned identical to the v1 fold —
    * q_stream_stateful_v2 grades against the SAME gaps-and-islands oracle,
    * and StreamingEquivSpec asserts v1 ≡ v2 row-for-row. Requires the
    * RocksDB state store provider (the session's declared posture; the
    * v2 operator does not run on the heap provider at all). */
  class SessionizeProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, SessEvent, SessionOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimerValues,
      TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders, streaming => ss}
    @transient private var session: ValueState[SessionState] = _
    @transient private var timerMs: ValueState[Long] = _

    override def init(outputMode: ss.OutputMode, timeMode: ss.TimeMode): Unit = {
      session = getHandle.getValueState("session",
        Encoders.product[SessionState], TTLConfig.NONE)
      timerMs = getHandle.getValueState("timerMs",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    private def mkOut(u: Long, st: SessionState): SessionOut = {
      // Det.dsum parity, bit-for-bit with the v1 fold: round(sum, 6).
      val rounded = st.sum.setScale(6, java.math.RoundingMode.HALF_UP)
      val v = rounded.movePointRight(6).longValueExact() / 1e6
      SessionOut(u, st.start_us, st.last_us + gapUs, st.n, v)
    }

    override def handleInputRows(user: Long, rows: Iterator[SessEvent],
                                 timers: TimerValues): Iterator[SessionOut] = {
      // Sentinel (flush) rows only advance the watermark — no state, no
      // timer (same placement rationale as the v1 fold: a pre-watermark
      // filter would be pushed below the EventTimeWatermark node).
      if (user < 0) return Iterator.empty
      def micros(t: java.sql.Timestamp): Long =
        math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
      val sorted = rows.map(e => (micros(e.ts), e.value)).toArray.sortBy(_._1)
      if (sorted.isEmpty) return Iterator.empty
      val closed = Seq.newBuilder[SessionOut]
      var cur = if (session.exists()) session.get() else null
      for ((tsUs, value) <- sorted) {
        val dv = java.math.BigDecimal.valueOf(value)
          .setScale(10, java.math.RoundingMode.HALF_UP)
        if (cur == null) cur = SessionState(tsUs, tsUs, 1L, dv)
        else if (tsUs - cur.last_us >= gapUs) {
          closed += mkOut(user, cur)
          cur = SessionState(tsUs, tsUs, 1L, dv)
        } else cur = cur.copy(last_us = tsUs, n = cur.n + 1, sum = cur.sum.add(dv))
      }
      session.update(cur)
      // v2 timers ACCUMULATE (no implicit replace like v1's
      // setTimeoutTimestamp) — delete the superseded registration, or a
      // stale timer would fire mid-session and emit the open tail early.
      val t = (cur.last_us + gapUs) / 1000L
      if (timerMs.exists() && timerMs.get() != t)
        getHandle.deleteTimer(timerMs.get())
      getHandle.registerTimer(t)
      timerMs.update(t)
      closed.result().iterator
    }

    override def handleExpiredTimer(user: Long, timers: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[SessionOut] = {
      // Belt-and-braces staleness guard: only the CURRENT registration may
      // finalize the open session (deleteTimer above makes stale firings
      // unreachable, but the guard keeps the law local and obvious).
      if (!session.exists() ||
          (timerMs.exists() && timerMs.get() != expired.getExpiryTimeInMs))
        return Iterator.empty
      val out = mkOut(user, session.get())
      session.clear(); timerMs.clear()
      Iterator(out)
    }
  }

  /** The q_stream_stateful_v2 pipeline: identical input shaping and output
    * projection to [[statefulSessions]], with the fold swapped onto the
    * transformWithState processor above. */
  def statefulSessionsV2(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"), col("value"))
      .as[SessEvent]
      .groupByKey(_.user_id)
      .transformWithState(new SessionizeProcessor(gapUs),
        TimeMode.EventTime(), OutputMode.Append())
      .select(col("user_id"), timestamp_micros(col("s_start_us")).as("s_start"),
        timestamp_micros(col("s_end_us")).as("s_end"),
        col("n_events"), col("sum_value"))
  }

  /** The state-partition count of every stream the runners start, in
    * place of the session's batch width ([[withStreamSettings]] item 1
    * says why 8). */
  private val StatePartitions = 8

  /** The FOUR SESSION SETTINGS every stream runner fixes for the length of
    * its bounded run, each restored afterwards to exactly what it was
    * before the call (set to its old value, or unset again). Gate/bench
    * streams run serially, so the temporary override leaks nowhere;
    * StreamTickSpec pins the values inside every runner and the restore.
    *
    * 1. State-partition count (`spark.sql.shuffle.partitions`). A stateful
    *    streaming query fixes it at first start (recorded in the
    *    checkpoint; AQE is disabled for streaming, so nothing re-sizes it
    *    later) — it must be sized to the stream's STATE volume, not
    *    inherited from the batch session's shuffle width. The replay
    *    fixtures carry KB–MB of state: at the session default of 32, every
    *    micro-batch commits 32 partitions × up-to-4 state stores of
    *    near-empty deltas, and those ~128 concurrent tiny fsyncs dominate
    *    the whole run (measured 44 s cumulative commit time vs 2 s at 8
    *    partitions, same results), so it is fixed at [[StatePartitions]].
    * 2. RocksDB state store, the declared 100 TB posture (r17): the default
    *    HDFS-backed provider keeps ALL state on the executor heap, so
    *    stream-stream join and dedup state outgrows memory long before the
    *    data does; RocksDB spills to local disk and bounds the heap at the
    *    block-cache size. Results must be backend-invisible: every
    *    q_stream_* oracle hash and the q_stream_restart checkpoint-recovery
    *    law are re-graded under this provider. The r18 A/B over the
    *    streaming keys settled the backend (SCALE.md).
    * 3. Changelog checkpointing: RocksDB uploads per-batch deltas instead
    *    of full snapshots — the commit cost stays O(batch), not O(state).
    * 4. The FileSystem checkpoint file manager, for the offset WAL, the
    *    commit log, the file-source log and the RocksDB changelog uploads.
    *    Spark's default for `file:` paths is the FileContext manager; the
    *    FileSystem one writes a temp file and renames it into place, which
    *    is correct wherever `FileSystem.rename` is atomic — local FS and
    *    HDFS. It cuts each checkpoint-log write from ~30 ms to ~8 ms (local
    *    FS, 4 CPUs), most of a replay micro-batch's fixed cost. */
  private def withStreamSettings[T](spark: SparkSession)(body: => T): T = {
    val fixed = Seq(
      "spark.sql.shuffle.partitions" -> StatePartitions.toString,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
    val set = spark.conf.getAll // explicitly set entries only, no defaults
    val prev = fixed.map { case (k, _) => k -> set.get(k) }
    fixed.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** Start `writer` as an AvailableNow query and wait for it to drain what
    * has arrived. A query still running after 120 s is stopped and
    * reported, since what it wrote would be partial. Returns the finished
    * query for its progress reports. */
  private def runAvailableNow(writer: DataStreamWriter[Row], what: String): StreamingQuery = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    if (!q.awaitTermination(120000L)) {
      q.stop()
      throw new IllegalStateException(
        s"$what did not finish within 120s — its output would be partial")
    }
    q
  }

  /** The memory sink `name`'s rows as a `LocalRelation`: rows the driver
    * already holds, so a collect of them runs no job and a sort of them is
    * answered on the driver (`graft.plans.LocalSort`). A read of the sink
    * table is a `MemoryPlan`, which that rule does not see. */
  private def sinkRows(spark: SparkSession, name: String): DataFrame = {
    val qe = spark.table(name).queryExecution
    org.apache.spark.sql.graft.ColumnBridge.frame(spark,
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        qe.analyzed.output.map(_.newInstance()), qe.executedPlan.executeCollect().toSeq))
  }

  /** Run an APPEND-mode stream (stateless transforms, watermark dedup) to
    * completion against the replayed file source — append twin of
    * [[runToCompletion]] (dedup/stateless plans reject complete mode). */
  def runToCompletionAppend(spark: SparkSession, df: DataFrame, name: String): DataFrame =
    withStreamSettings(spark) {
    runAvailableNow(df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append"),
      s"stream $name")
    sinkRows(spark, name)
  }

  /** [[runToCompletionAppend]] plus LATE-DATA ACCOUNTING: also returns the
    * total input rows the watermark dropped, summed from the engine's own
    * per-batch state-operator metrics (StreamingQueryProgress
    * .stateOperators.numRowsDroppedByWatermark) — the streaming twin of
    * q_source_malformed's quarantine contract. Production ingest needs
    * this number observable: silent watermark drops are data loss with no
    * ledger entry. Reading the engine metric (not re-deriving the count
    * from the input) means the figure is what the operator ACTUALLY
    * dropped — the graded oracle then independently re-derives it from
    * the replay schedule, closing the loop. */
  def runToCompletionAppendWithDrops(spark: SparkSession, df: DataFrame,
                                     name: String): (DataFrame, Long) =
    withStreamSettings(spark) {
    val q = runAvailableNow(df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append"),
      s"stream $name")
    val dropped = q.recentProgress.iterator
      .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    (sinkRows(spark, name), dropped)
  }

  /** CHECKPOINT RESTART / RECOVERY — the exactly-once-across-restart proof
    * (SURVEY §2.10): run the 1-hour tumbling aggregation over the EARLY
    * half of the time-split replay to completion, let the query STOP, then
    * start a NEW query from the SAME checkpointLocation after the late
    * half arrives. The checkpoint's source log carries the processed-file
    * offsets and its commit log the event-time watermark, so the restarted
    * query RESUMES instead of reprocessing: it reads ONLY the newly
    * arrived file, restores the watermark, and appends only the
    * not-yet-emitted windows to the parquet FILE SINK, whose
    * `_spark_metadata` commit log is what makes the directory exactly-once
    * across restarts (batch readers list committed files from the log, so
    * an uncommitted partial write is invisible). A reprocessed first file
    * would double-emit the early windows into the append sink — visible as
    * duplicate (w_start, event_type) rows, which the batch oracle's
    * hash-match rules out; a lost watermark would re-emit or drop windows
    * the same way.
    *
    * Returns (committed sink rows, per-run source input-row counts, the
    * late file's row count). `interrupted = false` runs the SAME pipeline
    * uninterrupted (both files present from the start, one query) — the
    * equivalence twin StreamingEquivSpec compares against.
    *
    * At 100 TB this is THE streaming durability story: a 1000-executor
    * ingest job is guaranteed to be preempted mid-stream; recovery must be
    * invisible in the results, and the only state that crosses the failure
    * is the O(open windows) store plus the O(files) source log — never
    * reprocessed data. */
  def runTumblingWithRestart(spark: SparkSession, dir: String,
                             interrupted: Boolean = true)
      : (DataFrame, Seq[Long], Long) =
    withStreamSettings(spark) {
    Tables.prep(spark)
    val fixture = stagedSplitDir(spark, dir)
    val names = Seq("events_0_early.parquet", "events_1_late.parquet")
    val tag = if (interrupted) "restart" else "restart-uninterrupted"
    val arrivals = java.nio.file.Paths.get(
      Tables.stageDir(spark, s"stream-$tag-arrivals", dir))
    val sinkPath = Tables.stageDir(spark, s"stream-$tag-sink", dir)
    val ckpt = Tables.stageDir(spark, s"stream-$tag-ckpt", dir)
    Seq(arrivals.toString, sinkPath, ckpt).foreach(Tables.deleteRecursively)
    java.nio.file.Files.createDirectories(arrivals)
    def arrive(name: String): Unit =
      java.nio.file.Files.copy(fixture.resolve(name), arrivals.resolve(name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    val schema = Tables.events(spark, dir).schema
    // One run = one StreamingQuery instance over whatever has arrived;
    // AvailableNow drains the unprocessed files and stops cleanly (the
    // controlled stand-in for a crash AFTER the last batch commit).
    def runOnce(): Long = {
      val q = runAvailableNow(tumblingCounts(Tables.decodeEventTs(spark.readStream
          .schema(schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(arrivals.toString + "/events_*.parquet")))
        .writeStream
        .format("parquet")
        .option("path", sinkPath)
        .option("checkpointLocation", ckpt)
        .outputMode("append"),
        s"restart-recovery stream into $sinkPath")
      q.recentProgress.iterator.map(_.numInputRows).sum
    }
    val runs =
      if (interrupted) {
        arrive(names(0))
        val r1 = runOnce() // early half only, clean stop
        arrive(names(1))
        val r2 = runOnce() // RESTART from the same checkpoint
        Seq(r1, r2)
      } else {
        names.foreach(arrive)
        Seq(runOnce())
      }
    val lateRows =
      spark.read.parquet(fixture.resolve(names(1)).toString).count()
    (spark.read.parquet(sinkPath), runs, lateRows)
  }

  /** The PRODUCTION sink (SURVEY §2.10's "foreachBatch parquet sink"): run
    * a stream through `foreachBatch` into a hive-style partitioned parquet
    * layout via Layout.writePartitioned — the same pruning-friendly on-disk
    * posture batch jobs write, fed incrementally.
    *
    * Two supported mode pairings, both exactly-once at the directory level:
    *  - stateless/append rows + SaveMode.Append — each micro-batch's rows
    *    land once; the table is the union of batches (classic streaming
    *    ETL ingest);
    *  - stateful aggregation in "complete" mode + SaveMode.Overwrite — each
    *    micro-batch rewrites the full aggregate, so the directory always
    *    holds the latest complete result (compact dashboards/rollups).
    * The checkpoint carries source offsets, so a restart resumes instead of
    * replaying from scratch. Shuffle shape inside each batch is
    * Layout.writePartitioned's: redistribute by (partitionCol, row-hash
    * bucket) — full cluster parallelism, bounded files per partition dir. */
  def runToPartitionedParquet(agg: DataFrame, path: String, checkpoint: String,
                              partitionCol: String, outputMode: String,
                              saveMode: SaveMode,
                              filesPerPartition: Int = 1): Unit =
    withStreamSettings(agg.sparkSession) {
    runAvailableNow(agg.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Layout.writePartitioned(batch, path, partitionCol, filesPerPartition, saveMode)
      },
      s"stream into $path")
  }

  /** Streaming INCREMENTAL VIEW MAINTENANCE sink — the q_agg_view_maintain
    * fold driven by a stream, run as a MapReduce mapper with a combiner:
    * every micro-batch is ONE map-side Spark job whose tasks each fold
    * their rows into key → (count, exact decimal partial sum) and append
    * those partials straight to the stored rollup-delta table — no
    * exchange, no coalesce ([[rollupPartials]]). The serving read is the
    * reducer: it merges the partials with Det.dsumMerge and NEVER re-reads
    * the event corpus. Decimal addition is exact, so the merged rollup is
    * bit-identical to a from-scratch aggregate over everything the stream
    * delivered, whatever the partial boundaries (tasks, ticks).
    *
    * A tick appends O(tasks × keys) rows instead of O(keys): the rollup is
    * keyed by `event_type`, so this stays tiny, and the table compacts
    * like any other layout. This is the kappa-architecture serving-table
    * story: at 100 TB of accumulated events the rollup holds O(ticks ×
    * tasks × keys) tiny rows; recomputing the view per tick is the
    * full-scan this sink exists to delete. Returns the schema of the
    * rollup rows, so the serving read opens the table without inferring
    * it. */
  def runRollupMaintain(rows: DataFrame, rollupPath: String,
                        checkpoint: String, keyCol: String,
                        valCol: String): StructType =
    withStreamSettings(rows.sparkSession) {
    runAvailableNow(rows.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, tick: Long) =>
        rollupPartials(batch, keyCol, valCol, tick)
          .write.mode(SaveMode.Append).parquet(rollupPath)
        ()
      },
      s"rollup stream into $rollupPath")
    rollupSchema(rows.schema(keyCol))
  }

  /** The rollup row: key, count, exact partial sum, tick — the schema of
    * `groupBy(key).agg(count(lit(1)) as n, Det.dsumPartial(v) as s)` plus
    * the tick. */
  private def rollupSchema(key: StructField): StructType = StructType(Seq(key,
    StructField("n", LongType, nullable = false),
    StructField("s", RollupDec, nullable = true),
    StructField("tick", LongType, nullable = false)))

  private val RollupDec = DecimalType(38, 10)

  /** One tick's rollup partials without a shuffle: each task folds its rows
    * into key → (count, exact sum) — the same rows
    * `groupBy(keyCol).agg(count(lit(1)), Det.dsumPartial(valCol))` gives
    * for that task's slice, so merging any task split gives the grouped
    * aggregate. The cast to DECIMAL(38,10) stays a SQL column (Spark does
    * the rounding); the fold adds Spark Decimals with Det.addExact, which
    * checks precision 38 after every row as the SQL sum's buffer does.
    * Null keys form a group; a group with only null values sums to null
    * and still counts its rows. */
  private[graft] def rollupPartials(batch: DataFrame, keyCol: String,
                                    valCol: String, tick: Long): DataFrame =
    batch.select(col(keyCol), col(valCol).cast(RollupDec)).mapPartitions { rows =>
      final class Partial { var n = 0L; var s: Decimal = null }
      val acc = scala.collection.mutable.LinkedHashMap.empty[Any, Partial]
      rows.foreach { r =>
        val p = acc.getOrElseUpdate(r.get(0), new Partial)
        p.n += 1
        if (!r.isNullAt(1))
          p.s = graft.functions.Det.addExact(p.s, Decimal(r.getDecimal(1)), RollupDec)
      }
      acc.iterator.map { case (k, p) =>
        Row(k, p.n, if (p.s == null) null else p.s.toJavaBigDecimal, tick)
      }
    }(Encoders.row(rollupSchema(batch.schema(keyCol))))

  /** UPDATE-MODE streaming → a latest-wins SERVING TABLE: each micro-batch
    * of an update-mode aggregation carries the NEW full aggregate for every
    * key whose state changed this tick (append mode would emit nothing
    * until a watermark finalized the key — a running serving table has no
    * finalization); foreachBatch folds it into the stored table as a
    * latest-wins MERGE (q_merge_upsert's algebra with the changeset = the
    * tick's updated keys: survivors anti-join, updates/inserts union) and
    * commits the result as a NEW VERSION directory, `v<tick>` — the
    * snapshot-versioned commit every serving layer uses so readers never
    * see a half-written table and a mid-stream snapshot stays inspectable
    * (the q_layout_timetravel posture, one version per tick). Per-tick cost
    * is O(serving keys + tick's updates), never the event corpus; at scale
    * the serving table is key-partitioned and the anti-join co-locates on
    * the key — the corpus was already reduced by the streaming aggregation's
    * own state. Readers take [[latestServingVersion]]. */
  def runUpdateServing(agg: DataFrame, servingRoot: String, checkpoint: String,
                       keyCols: Seq[String]): Unit =
    withStreamSettings(agg.sparkSession) {
    runAvailableNow(agg.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, tick: Long) =>
        val spark = batch.sparkSession
        val merged = latestServingVersion(servingRoot) match {
          case None => batch
          case Some(prev) =>
            val cur = spark.read.parquet(s"$servingRoot/$prev")
            cur.join(batch.select(keyCols.map(col): _*), keyCols, "left_anti")
              .unionByName(batch)
        }
        merged.coalesce(1).write
          .mode(SaveMode.Overwrite).parquet(f"$servingRoot/v$tick%05d")
        ()
      },
      s"serving stream into $servingRoot")
  }

  /** STREAMING CDC APPLY (r16) — the consuming half of the change-data
    * story (q_merge_cdf EMITS the feed; this APPLIES one, micro-batch by
    * micro-batch): each tick of a replayed changeset stream folds into the
    * serving snapshot as one latest-wins MERGE (operators/Merge.applyCdc —
    * the same algebra the batch q_merge_upsert grades) and commits as a
    * NEW VERSION directory under [[latestServingVersion]]'s contract.
    * Ticks must arrive in per-key seq order (a CDC log's delivery
    * guarantee); within a tick applyCdc's latest-per-key reduction handles
    * any interleaving. Per-tick cost is O(serving keys + tick's changes),
    * never a corpus; at scale the serving table is key-partitioned and
    * the fold co-locates on the key. */
  def runCdcServing(changes: DataFrame, base: DataFrame, servingRoot: String,
                    checkpoint: String, key: String): Unit =
    withStreamSettings(changes.sparkSession) {
    runAvailableNow(changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, tick: Long) =>
        val spark = batch.sparkSession
        val prev = latestServingVersion(servingRoot) match {
          case None => base
          case Some(v) => spark.read.parquet(s"$servingRoot/$v")
        }
        graft.operators.Merge.applyCdc(prev, batch, key, "seq", "op")
          .coalesce(1).write
          .mode(SaveMode.Overwrite).parquet(f"$servingRoot/v$tick%05d")
        ()
      },
      s"CDC serving stream into $servingRoot")
  }

  /** The deterministic merge changeset staged as a two-tick seq-ordered
    * replay (seq 1 then seq 2 — the per-key delivery order a CDC log
    * guarantees) for [[runCdcServing]]. `changes` must derive from `dir`'s
    * tables alone: the fixture is keyed on that directory. */
  def stageCdcReplay(spark: SparkSession, dir: String,
                     changes: DataFrame): java.nio.file.Path =
    stageReplay(spark, dir, "cdc-replay",
      Seq("changes_0.parquet", "changes_1.parquet")) { d =>
      stageOne(changes.filter(col("seq") === 1), d, "changes_0.parquet")
      stageOne(changes.filter(col("seq") === 2), d, "changes_1.parquet")
    }

  /** Highest committed `v<tick>` directory under a [[runUpdateServing]]
    * root, or None before the first tick. "Committed" = carries the
    * `_SUCCESS` marker the parquet committer writes last — a foreachBatch
    * retry that died mid-write leaves a partial directory WITHOUT the
    * marker, and selecting that as `prev` would propagate the corruption
    * into every later version (r15 ADVICE). Names are zero-padded to a
    * MINIMUM of five digits (`f"v$tick%05d"`), so ordering is numeric,
    * not lexical: tick ≥ 100000 writes six digits. */
  def latestServingVersion(servingRoot: String): Option[String] = {
    val root = java.nio.file.Paths.get(servingRoot)
    if (!java.nio.file.Files.isDirectory(root)) return None
    val listing = java.nio.file.Files.list(root)
    try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.matches("v\\d{5,}") &&
          java.nio.file.Files.exists(root.resolve(n).resolve("_SUCCESS")))
        .maxByOption(_.drop(1).toLong)
    } finally listing.close()
  }


  // ------------------------------------------ CORPUS-DEDUP INGEST (r19)
  // VERDICT r18 Missing #2: the crawl-pipeline shape — micro-batch
  // arrivals probed against the PERSISTED banded-LSH index, with the
  // index itself maintained exactly-once through the OCC manifest. The
  // per-tick index append spans TWO layouts (per-doc meta records +
  // band-bucket postings), so each tick commits through the r19
  // cross-layout transaction (Layout.txnAppendManifested + one atomic
  // marker publish): a foreachBatch retry that finds the tick's marker
  // already published short-circuits — the exactly-once contract under
  // at-least-once batch delivery, certified inside the graded key by a
  // deliberate duplicate replay of tick 0.

  /** The arrivals fixture dir: the batch slice (doc_id % 10 == 3) staged
    * as three files of ascending doc_id ranges — three micro-batches
    * arriving in doc_id order (the same deterministic split the batch
    * q_dedup_incremental key and the DuckDB oracle rebuild). */
  private def corpusArrivalsDir(spark: SparkSession,
                                dir: String): java.nio.file.Path = {
    val names = (0 until 3).map(i => s"arrivals_$i.parquet")
    stageReplay(spark, dir, "docs-corpus-dedup", names) { d =>
      val batch = Tables.documents(spark, dir)
        .filter(col("doc_id") % 10 === 3)
        .select(col("doc_id"), col("text"), col("source"))
      val ids = batch.select(col("doc_id")).orderBy("doc_id")
        .collect().map(_.getLong(0))
      val (cut1, cut2) = (ids(ids.length / 3), ids(2 * ids.length / 3))
      stageOne(batch.filter(col("doc_id") < cut1), d, names(0))
      stageOne(batch.filter(col("doc_id") >= cut1 && col("doc_id") < cut2),
        d, names(1))
      stageOne(batch.filter(col("doc_id") >= cut2), d, names(2))
    }
  }

  /** One ingest tick, committed EXACTLY ONCE: skip if the tick's marker is
    * already published (retry after a crash-past-publish); otherwise probe
    * the CURRENT index snapshot, write this tick's survivors (overwrite —
    * idempotent under retry), and append the batch's meta + bucket rows to
    * both index layouts under one cross-layout transaction whose marker IS
    * the tick's exactly-once token. A crash before the publish leaves both
    * layouts reading the old snapshot (the staged rows are invisible), so
    * the retry recomputes an identical tick. */
  private def corpusDedupTickCommit(spark: SparkSession, batch: DataFrame,
                                    batchId: Long, metaPath: String,
                                    bktPath: String, outPath: String,
                                    txnRoot: String): Unit = {
    val marker = s"$txnRoot/tick-$batchId.commit"
    if (Layout.txnCommitted(spark, Layout.Txn(marker))) return
    val all = lit(Long.MinValue)
    val hiAll = lit(Long.MaxValue)
    val idxMeta = Layout.manifestPrunedRead(spark, metaPath, all, hiAll)
    val idxBuckets = Layout.manifestPrunedRead(spark, bktPath, all, hiAll)
    val (bMeta, bBuckets, dropped) =
      graft.queries.LlmOps.corpusDedupTick(idxMeta, idxBuckets, batch)
    // bMeta is the shared upstream of all three actions below — materialize
    // its cache once, then OVERLAP the survivors write and the two layouts'
    // staged appends (guide §2.6): they touch disjoint paths, the appends
    // stay invisible until the single txnPublish after all three land, and
    // every committed byte is identical to the sequential order.
    bMeta.count()
    val txn = Layout.txnBegin(spark, marker)
    graft.operators.ScaleOps.inParallel3(
      () => batch.select(col("doc_id"), col("source"))
        .join(dropped, Seq("doc_id"), "left_anti")
        .coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$outPath/tick-$batchId"),
      () => Layout.txnAppendManifested(bMeta, metaPath, "doc_id", 1, txn),
      () => Layout.txnAppendManifested(bBuckets, bktPath, "doc_id", 1, txn))
    Layout.txnPublish(spark, txn)
  }

  /** Run the corpus-dedup ingest end to end and return the final
    * SURVIVING-ARRIVAL set (doc_id, source): each micro-batch dedups
    * against everything seen before it — the standing corpus via the
    * persisted index, earlier ticks via the index appends, earlier
    * same-tick arrivals via the within-batch pairs — and every arrival
    * then enters the index (seen-set semantics, so duplicates of dropped
    * docs also drop). The index BOOTSTRAP rewrites the staged corpus
    * index frames (the same artifacts q_dedup_incremental probes) as
    * manifested layouts; per-tick cost is O(batch + hits) signature and
    * probe work plus an O(batch) two-layout commit. 100 TB posture: the
    * graded machinery here is the exactly-once OCC maintenance; the
    * bucketed-layout probe locality is q_dedup_incremental's separately
    * graded contract (at scale the manifested index layouts would also be
    * bucket-laid-out; the two compose — bucketing is a property of the
    * data files, manifests of the commit protocol).
    *
    * Certificates (sys.error — the q_stream_restart pattern): exactly one
    * published marker and one index commit per micro-batch, and a
    * deliberate DUPLICATE replay of tick 0 through the same commit path
    * must short-circuit on its marker without moving the index version. */
  def runCorpusDedup(spark: SparkSession, dir: String): DataFrame =
    withStreamSettings(spark) {
    Tables.prep(spark)
    val root = Tables.stageDir(spark, "corpus-dedup", dir)
    Tables.deleteRecursively(root)
    val (metaPath, bktPath) = (s"$root/meta", s"$root/buckets")
    val (outPath, ckpt, txnRoot) = (s"$root/out", s"$root/ckpt", s"$root/txn")
    val (baseMeta, baseBuckets) = graft.queries.LlmOps.stagedCorpusIndex(spark, dir)
    // The two bootstrap layouts are independent writes — overlap them
    // (guide §2.6; same files, same manifests, less wall-clock).
    graft.operators.ScaleOps.inParallel2(
      () => Layout.writeManifested(baseMeta, metaPath, "doc_id", 4),
      () => Layout.writeManifested(baseBuckets, bktPath, "doc_id", 4))
    val arrivalsDir = corpusArrivalsDir(spark, dir)
    val schema = spark.read
      .parquet(s"$arrivalsDir/arrivals_0.parquet").schema
    val arrivals = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$arrivalsDir/arrivals_*.parquet")
    runAvailableNow(arrivals.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        corpusDedupTickCommit(spark, b, id, metaPath, bktPath, outPath, txnRoot)
      },
      s"corpus-dedup stream into $outPath")
    // Certificate 1: one published tick marker and one index commit per
    // micro-batch (v0 build + 3 tick appends = version 3 on both layouts).
    val markers = {
      import scala.jdk.CollectionConverters._
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(txnRoot))
      try l.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".commit")).toSeq.sorted
      finally l.close()
    }
    if (markers != Seq("tick-0.commit", "tick-1.commit", "tick-2.commit"))
      sys.error(s"corpus-dedup certificate failed: published markers $markers, " +
        "expected exactly ticks 0-2 — the exactly-once commit path did not run per batch")
    for (p <- Seq(metaPath, bktPath))
      if (Layout.manifestVersion(spark, p) != 3L)
        sys.error(s"corpus-dedup certificate failed: $p at version " +
          s"${Layout.manifestVersion(spark, p)}, expected 3 (base + one commit per tick)")
    // Certificate 2: duplicate delivery of tick 0 must short-circuit on
    // its published marker — no new survivors write, no index movement.
    corpusDedupTickCommit(spark,
      spark.read.parquet(s"$arrivalsDir/arrivals_0.parquet"),
      0L, metaPath, bktPath, outPath, txnRoot)
    if (Layout.manifestVersion(spark, metaPath) != 3L)
      sys.error("corpus-dedup certificate failed: a duplicate tick delivery " +
        "moved the index — the marker did not short-circuit the retry")
    spark.read.parquet((0 until 3).map(i => s"$outPath/tick-$i"): _*)
  }

  /** Streaming sink into a MANIFESTED layout — the per-tick composition of
    * the q_stream_sink ingest path with Layout.appendManifested: every
    * micro-batch commits its range-clustered files plus ONE new manifest
    * part; nothing already on disk is re-read or rewritten, so manifest
    * maintenance cost stays O(tick) at any table size. This is the claim
    * a Delta/Iceberg streaming writer makes (each commit appends a
    * snapshot's manifest), composed from the same primitives batch
    * maintenance uses — downstream readers plan file-skipping scans from
    * the manifest while the stream keeps appending. */
  def runToManifestedParquet(rows: DataFrame, path: String, checkpoint: String,
                             statsCol: String, numFilesPerTick: Int): Unit =
    withStreamSettings(rows.sparkSession) {
    runAvailableNow(rows.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Layout.appendManifested(batch, path, statsCol, numFilesPerTick)
        ()
      },
      s"stream into $path")
  }

  /** Run a streaming aggregation to completion against the replayed file
    * source and return the final result as a DataFrame (memory sink,
    * complete mode). Driver for the stream==batch equivalence tests. */
  def runToCompletion(spark: SparkSession, agg: DataFrame, name: String): DataFrame =
    withStreamSettings(spark) {
    runAvailableNow(agg.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete"),
      s"stream $name")
    sinkRows(spark, name)
  }

  /** COMPLETE-MODE SERVING SNAPSHOT — the third member of the output-mode
    * family (append = exactly-once emission of finalized rows, update =
    * changed-rows serving merge, COMPLETE = the sink holds the FULL
    * recomputed aggregate after every micro-batch — the dashboard-snapshot
    * mode, only sane when the aggregate is O(groups)-small, exactly the
    * per-type shape here; complete mode re-emits all STATE per batch,
    * never the corpus). ONE query instance spans a two-arrival schedule:
    * the early half of the time-split replay arrives, processAllAvailable
    * drains it, and the memory sink's snapshot is captured MID-STREAM;
    * then the late half arrives and the SAME query drains it — complete
    * mode truncates and rewrites the sink, so the final table replaces the
    * mid snapshot. Returns (final table, mid-stream snapshot rows): the
    * caller certifies the mode was actually exercised across ≥2
    * micro-batches (mid ≠ final — a one-batch run would make complete mode
    * indistinguishable from a batch query) and grades the final snapshot
    * against the from-scratch batch aggregate. */
  def runCompleteWithSnapshot(spark: SparkSession, dir: String,
                              agg: DataFrame => DataFrame, name: String)
      : (DataFrame, Seq[org.apache.spark.sql.Row]) =
    withStreamSettings(spark) {
    Tables.prep(spark)
    val fixture = stagedSplitDir(spark, dir)
    val names = Seq("events_0_early.parquet", "events_1_late.parquet")
    val arrivals = java.nio.file.Paths.get(
      Tables.stageDir(spark, "stream-complete-arrivals", dir))
    Tables.deleteRecursively(arrivals.toString)
    java.nio.file.Files.createDirectories(arrivals)
    def arrive(n: String): Unit =
      java.nio.file.Files.copy(fixture.resolve(n), arrivals.resolve(n),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    val schema = Tables.events(spark, dir).schema
    arrive(names(0))
    val src = Tables.decodeEventTs(spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(arrivals.toString + "/events_*.parquet"))
    val q = agg(src).writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
      val mid = spark.table(name).collect().toSeq
      arrive(names(1))
      q.processAllAvailable()
      (sinkRows(spark, name), mid)
    } finally q.stop()
  }

  /** Every replay fixture kind [[stageReplay]] stages; [[stageAllReplays]]
    * builds each one. */
  private[graft] val ReplayKinds = Seq("stream", "stream-redeliver", "stream-flush",
    "stream-split", "stream-late", "docs-redeliver", "cdc-replay", "docs-corpus-dedup")

  /** Pre-build every content-keyed replay fixture for `dir` — the bench
    * warmup calls this so arrival-dir staging (a build-once artifact, not
    * stream work) is never billed to whichever timed streaming key runs
    * first. Constructing the source DataFrames runs stageReplay eagerly;
    * no stream is started. The CDC replay stages the changeset
    * `q_stream_cdc_apply` derives from `dir`'s customer table. */
  def stageAllReplays(spark: SparkSession, dir: String): Unit = {
    eventsStream(spark, dir)
    eventsStreamWithRedelivery(spark, dir)
    eventsStreamWithFlush(spark, dir)
    eventsStreamSplitByTime(spark, dir)
    eventsStreamLateArrivals(spark, dir)
    documentsStreamWithRedelivery(spark, dir)
    stageCdcReplay(spark, dir,
      graft.queries.Relational.mergeChangeset(Tables.customer(spark, dir)))
    corpusArrivalsDir(spark, dir)
    ()
  }
}
