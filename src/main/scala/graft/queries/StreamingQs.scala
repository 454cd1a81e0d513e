package graft.queries

import graft.Tables
import graft.functions.Det.dsum
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Event-time queries — SURVEY.md §2.10.
  *
  * ALL SIX keys run REAL incremental streams inside the correctness gate
  * itself — replayed file source, watermark, append mode — so the hash
  * check proves the incremental emission path (and, for the join, the
  * cross-batch state buffering), not just batch-mode event-time logic.
  * The batch forms stay as the semantic definitions and equivalence-test
  * twins (StreamingEquivSpec).
  *
  * Scale posture: tumbling/sliding windows group by (window, type) — pure
  * hash-partitioned aggregation with map-side partials; session windows
  * shuffle by user_id and sort-merge sessions per user — at 100 TB the
  * per-user partitions are small and uniformly distributed.
  */
object StreamingQs {

  type Q = (SparkSession, String) => DataFrame

  /** 1-hour tumbling counts+sum, batch form — the semantic definition and
    * the equivalence tests' comparison target (StreamingEquivSpec). */
  private[graft] val tumblingBatchForm: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))
      .orderBy("w_start", "event_type")

  /** 1-hour tumbling windows run as a REAL incremental stream inside the
    * correctness gate (the q_stream_session pattern): replayed file source,
    * 1-hour watermark, APPEND mode — each (window, type) row is emitted
    * exactly once when the watermark passes the window's end. The trailing
    * flush sentinel advances the watermark past every real window; its
    * rows group under event_type "flush" and are dropped after the sink
    * (filtering before the watermark would be pushed below it and stop the
    * flush rows from advancing anything — see Runtime.statefulSessions). */
  val qStreamTumbling: Q = (s, dir) => {
    import graft.streaming.{Runtime => SR}
    SR.runToCompletionAppend(s,
        SR.tumblingCounts(SR.eventsStreamWithFlush(s, dir)),
        s"graft_tumbling_${Integer.toHexString(dir.hashCode)}")
      .filter(col("event_type") =!= "flush")
      .orderBy("w_start", "event_type")
  }

  /** STREAM-STATIC JOIN (r16) — the third Structured Streaming join mode,
    * completing the join-mode axis (stream-stream interval joins: the
    * q_stream_join* family; this: dimension enrichment): the replayed
    * event stream LEFT-joins the bounded customer-segment dimension
    * (FILTERED to c_custkey < 10, so the user-domain tail is genuinely unmatched
    * and lands in the UNKNOWN bucket), then a watermarked per-(hour,
    * segment) aggregate. The static side is re-planned per micro-batch as
    * a broadcast — the join itself holds NO stream state; only the
    * windowed aggregate does. At 100 TB this is the canonical ingest
    * enrichment: dim changes are picked up at micro-batch granularity
    * without restarting the stream, and the stream side never shuffles
    * for the join. Oracle = the batch join+aggregate (the replay is
    * exactly-once, so stream ≡ batch). */
  val qStreamJoinStatic: Q = (s, dir) => {
    import graft.streaming.{Runtime => SR}
    val dim = Tables.customer(s, dir)
      .filter(col("c_custkey") < 10L)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    SR.runToCompletionAppend(s,
        SR.staticEnrichedCounts(SR.eventsStreamWithFlush(s, dir), dim),
        s"graft_sjstatic_${Integer.toHexString(dir.hashCode)}")
      .filter(col("segment") =!= "flush")
      .orderBy("w_start", "segment")
  }

  /** CHECKPOINT RESTART / RECOVERY run as part of the correctness gate
    * (SURVEY §2.10): the tumbling aggregation processes the early half of
    * the time-split replay, STOPS, and a new query resumes from the SAME
    * checkpoint once the late half arrives
    * (Runtime.runTumblingWithRestart). Recovery must be INVISIBLE in the
    * results — the graded sink is the parquet file sink's committed
    * contents, hash-matched against the from-scratch batch aggregate — and
    * the runner's recovery certificate additionally requires the restarted
    * run to have read EXACTLY the late file's rows from the source: a
    * checkpoint that failed to carry the source offsets would reprocess
    * the early file (double-emitting its windows into the append sink, a
    * hash break) and fail the certificate even where re-emission happened
    * to dedup. StreamingEquivSpec pins resumed ≡ uninterrupted and
    * no-duplicate-epochs explicitly. */
  val qStreamRestart: Q = (s, dir) => {
    import graft.streaming.{Runtime => SR}
    val (sink, runs, lateRows) = SR.runTumblingWithRestart(s, dir)
    if (runs.length != 2 || runs(1) != lateRows)
      sys.error(s"restart recovery failed: restarted run read " +
        s"${runs.lift(1).getOrElse(-1L)} source rows, expected exactly the " +
        s"late file's $lateRows — the checkpoint did not resume")
    sink.filter(col("event_type") =!= "flush")
      .orderBy("w_start", "event_type")
  }

  /** STREAMING CDC APPLY (r16) — the consuming half of the change-data
    * story, completing the CDC axis (q_merge_cdf emits the feed; the batch
    * q_merge_upsert folds it one-shot; this folds it INCREMENTALLY): the
    * deterministic merge changeset replays as a two-tick seq-ordered
    * stream, each micro-batch latest-wins-MERGEs into the versioned
    * serving snapshot (Runtime.runCdcServing — applyCdc per tick, one
    * committed version directory each). The runtime certificate requires
    * exactly two committed versions AND a tick-1 snapshot that differs
    * from the final (the incremental path actually ran twice — a one-shot
    * fold fails loudly). Graded result = the final snapshot; the oracle
    * rebuilds the whole merge relationally (the q_merge_upsert rebuild),
    * so the hash match proves tick-by-tick folding ≡ one-shot semantics. */
  val qStreamCdcApply: Q = (s, dir) => {
    import graft.streaming.{Runtime => SR}
    val cust = Tables.customer(s, dir)
    val changes = graft.queries.Relational.mergeChangeset(cust)
    val streamDir = SR.stageCdcReplay(s, dir, changes)
    val serving = Tables.stageDir(s, "cdc-serving", dir)
    val ckpt = Tables.stageDir(s, "cdc-serving-ckpt", dir)
    Tables.deleteRecursively(serving)
    Tables.deleteRecursively(ckpt)
    val stream = s.readStream.schema(changes.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString + "/changes_*.parquet")
    SR.runCdcServing(stream, cust, serving, ckpt, "c_custkey")
    val vers = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(serving)
      val l = java.nio.file.Files.list(root)
      // COMMITTED versions only (_SUCCESS marker) — a foreachBatch retry's
      // partial directory must neither count toward the certificate nor be
      // read as a snapshot (the latestServingVersion rule, ADVICE r15).
      try l.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.matches("v\\d{5,}") &&
          java.nio.file.Files.exists(root.resolve(n).resolve("_SUCCESS")))
        .toSeq.sorted
      finally l.close()
    }
    if (vers.size != 2)
      sys.error(s"CDC apply certificate failed: ${vers.size} committed " +
        s"versions ($vers), expected one per tick — the incremental fold " +
        "did not run per micro-batch")
    val mid = s.read.parquet(s"$serving/${vers.head}")
    val fin = s.read.parquet(s"$serving/${vers.last}")
    if (mid.exceptAll(fin).isEmpty && fin.exceptAll(mid).isEmpty)
      sys.error("CDC apply certificate failed: tick-1 snapshot equals the " +
        "final — the second tick applied nothing")
    fin.orderBy("c_custkey")
  }

  /** 1-hour/30-minute sliding windows, batch form — each event lands in
    * exactly two windows (epoch-aligned starts, same grid as the oracle's
    * time_bucket arithmetic). Equivalence tests' comparison target. */
  private[graft] val slidingBatchForm: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
      .select(col("w.start").as("w_start"), col("n"), col("sum_value"))
      .orderBy("w_start")

  /** Sliding windows as a REAL incremental stream in the gate. The sliding
    * output has no event_type column to mark the flush sentinels, but every
    * window they land in starts strictly AFTER the last real event (flush ts
    * = max + 4h, window length 1h), so the real/sentinel boundary is the
    * source's max timestamp — one scalar fetched from the batch table (a
    * parameter, like the ANN query vector) and applied after the sink. */
  val qStreamSliding: Q = (s, dir) => {
    import graft.streaming.{Runtime => SR}
    val maxTs = Tables.events(s, dir).agg(max(col("ts"))).head().getTimestamp(0)
    SR.runToCompletionAppend(s,
        SR.slidingCounts(SR.eventsStreamWithFlush(s, dir)),
        s"graft_sliding_${Integer.toHexString(dir.hashCode)}")
      .filter(col("w_start") <= maxTs)
      .orderBy("w_start")
  }

  /** Per-user sessions with a 30-minute inactivity gap — batch form of the
    * streaming primitive, kept as the runtime twin's comparison target in
    * StreamingEquivSpec. Spark's session_window end = last event + gap, and
    * a gap of EXACTLY the duration starts a new session (merge requires
    * strict overlap) — the gaps-and-islands oracle mirrors both conventions
    * (`>=` on the gap, `max(ts) + 30 min` as the end). */
  private[graft] val sessionBatchForm: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value"), 6).as("sum_value"))
      .select(col("user_id"), col("sw.start").as("s_start"), col("sw.end").as("s_end"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "s_start")

  /** The SAME session_window aggregation run as a REAL incremental stream
    * inside the correctness gate (the q_stream_stateful pattern): replayed
    * file source, 1-hour watermark, APPEND mode — each session row is
    * emitted exactly once, when the watermark passes its end. The trailing
    * flush sentinel advances the watermark past every real session's end
    * (the replay-side stand-in for a production stream's continuously
    * advancing watermark); the sentinel user's own sessions are dropped
    * after the sink. Hash-matching the gaps-and-islands oracle proves the
    * incremental emission path reproduces the relational answer — not just
    * the batch-mode twin. */
  val qStreamSession: Q = (s, dir) => {
    import graft.streaming.{Runtime => SR}
    SR.runToCompletionAppend(s,
        SR.sessionCounts(SR.eventsStreamWithFlush(s, dir)),
        s"graft_session_${Integer.toHexString(dir.hashCode)}")
      .filter(col("user_id") >= 0)
      .orderBy("user_id", "s_start")
  }

  /** Stream-stream interval join, batch form — the semantic definition and
    * equivalence-test twin: every click attributed to each same-user
    * purchase within the following hour. An equi-join on user_id with the
    * time band as a residual predicate — one hash shuffle per side at any
    * scale. */
  private[graft] val joinBatchForm: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 60 MINUTES"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        col("c_ts"), col("p_ts"))
      .orderBy("purchase_id", "click_id")
  }

  /** The interval join run as a REAL incremental stream in the gate, over
    * the TIME-SPLIT replay (early half / late half by median timestamp) so the
    * hash check exercises cross-batch join-state buffering: a batch-1 click
    * must still be in state to meet its batch-2 purchase, and state behind
    * the watermark's reachable range is evicted without losing a pair
    * (inner interval joins emit as soon as both rows arrive, so completeness
    * never waits on the watermark). Flush sentinels are neither clicks nor
    * purchases and drop out in the source filters. */
  val qStreamJoin: Q = (s, dir) => {
    import graft.streaming.{Runtime => SR}
    SR.runToCompletionAppend(s,
        SR.clickPurchaseJoin(SR.eventsStreamSplitByTime(s, dir)),
        s"graft_ssjoin_${Integer.toHexString(dir.hashCode)}")
      .orderBy("purchase_id", "click_id")
  }

  /** LEFT-OUTER stream-stream join run as a REAL incremental stream
    * (Runtime.clickPurchaseJoinOuter): every click with its within-window
    * purchase or NULL — the outer semantics only a watermark can finalize
    * (a null result is a PROOF no match can still arrive). The time-split
    * replay makes some matches cross batches; the flush sentinel advances
    * the watermark past every open window so the unmatched-click state
    * drains. Oracle: the same LEFT JOIN over the source table — a leaked
    * phantom null row (emitted despite a match) or a lost unmatched click
    * breaks the hash. */
  val qStreamJoinOuter: Q = (s, dir) => {
    import graft.streaming.{Runtime => SR}
    SR.runToCompletionAppend(s,
        SR.clickPurchaseJoinOuter(SR.eventsStreamSplitByTime(s, dir)),
        s"graft_ssjoinouter_${Integer.toHexString(dir.hashCode)}")
      .orderBy(col("click_id"), col("purchase_id").asc_nulls_first)
  }

  /** FULL-OUTER stream-stream join run as a REAL incremental stream
    * (Runtime.clickPurchaseJoinFull) — the one join shape where BOTH sides
    * need watermark-finalized null proofs: unmatched clicks AND unmatched
    * purchases each emit exactly once, only after the watermark proves no
    * partner can still arrive. The time-split replay makes some matches
    * cross batches; the flush sentinel advances the watermark past every
    * open range so both sides' unmatched state drains. Oracle: the same
    * FULL JOIN over the source table — a leaked phantom null row on either
    * side, a lost unmatched click/purchase, or a duplicate emission breaks
    * the hash. Sentinel rows (event_id −1) die in state by the replay's
    * margin construction; the filter here is defense in depth. */
  val qStreamJoinFull: Q = (s, dir) => {
    import graft.streaming.{Runtime => SR}
    SR.runToCompletionAppend(s,
        SR.clickPurchaseJoinFull(SR.eventsStreamSplitByTime(s, dir)),
        s"graft_ssjoinfull_${Integer.toHexString(dir.hashCode)}")
      .filter(coalesce(col("click_id"), lit(0L)) >= 0 &&
        coalesce(col("purchase_id"), lit(0L)) >= 0)
      .orderBy(col("user_id"), col("click_id").asc_nulls_first,
        col("purchase_id").asc_nulls_first)
  }

  /** RIGHT-OUTER stream-stream join run as a REAL incremental stream
    * (Runtime.clickPurchaseJoinRight) — completes the streaming join
    * family (inner / left / right / full): every attribution pair plus
    * every unmatched purchase, its null click a watermark-finalized
    * no-click proof. Oracle: the same RIGHT JOIN over the source; sentinel
    * rows filtered defensively as in q_stream_join_full. */
  val qStreamJoinRight: Q = (s, dir) => {
    import graft.streaming.{Runtime => SR}
    SR.runToCompletionAppend(s,
        SR.clickPurchaseJoinRight(SR.eventsStreamSplitByTime(s, dir)),
        s"graft_ssjoinright_${Integer.toHexString(dir.hashCode)}")
      .filter(coalesce(col("click_id"), lit(0L)) >= 0 &&
        coalesce(col("purchase_id"), lit(0L)) >= 0)
      .orderBy(col("user_id"), col("purchase_id"),
        col("click_id").asc_nulls_first)
  }

  /** ARBITRARY STATEFUL sessionization, run as a REAL incremental stream:
    * flatMapGroupsWithState with event-time timeout over the replayed
    * events source (plus the watermark-advancing flush sentinel), memory
    * sink.
    * Unlike the other q_stream_* keys (batch forms of streaming
    * primitives), this key exercises the streaming RUNTIME inside the
    * correctness gate: its oracle is the same gaps-and-islands SQL shape
    * as q_stream_session, so the hash check proves the custom state
    * machine (including the timeout-emission path) reproduces the
    * relational answer end-to-end. */
  val qStreamStateful: Q = (s, dir) => {
    import graft.streaming.{Runtime => SR}
    SR.runToCompletionAppend(s,
        SR.statefulSessions(SR.eventsStreamWithFlush(s, dir)),
        s"graft_stateful_${Integer.toHexString(dir.hashCode)}")
      .orderBy("user_id", "s_start")
  }

  /** ARBITRARY STATEFUL sessionization on the v2 API (r17) —
    * `transformWithState`/`StatefulProcessor` with named state variables
    * (open session + registered timer) and explicit event-time timers,
    * run as a real incremental stream over the same replayed source as
    * q_stream_stateful and graded against the SAME gaps-and-islands
    * oracle: one hash match proves the v2 state machine (including the
    * timer-expiry emission path and the timer-supersession delete)
    * reproduces the relational answer end-to-end. Runs on the RocksDB
    * state store (the v2 operator requires it; it is also the session's
    * declared 100 TB posture). StreamingEquivSpec additionally pins
    * v1 ≡ v2 row equality. */
  val qStreamStatefulV2: Q = (s, dir) => {
    import graft.streaming.{Runtime => SR}
    SR.runToCompletionAppend(s,
        SR.statefulSessionsV2(SR.eventsStreamWithFlush(s, dir)),
        s"graft_stateful_v2_${Integer.toHexString(dir.hashCode)}")
      .orderBy("user_id", "s_start")
  }

  /** STREAMING ANOMALY MONITOR (r16) — the production alerting shape: the
    * stream maintains per-(hour, type) MOMENT partials (count, Σcents,
    * Σcents² — exact integers, finalized once by the watermark:
    * Runtime.hourlyMoments), and each finalized hour is z-tested against
    * the cumulative statistics of all PRIOR hours of its type. The test
    * ((mean_h − μ_prior)² > 9·σ²_prior/n_h, i.e. |z| > 3 on the standard
    * error, armed once n_prior ≥ 500) is CROSS-MULTIPLIED into pure
    * integer arithmetic — (s1·np − s1p·n)² > 9·n·(np·s2p − s1p²) — in
    * DECIMAL(38,0) (DuckDB: HUGEINT), so engine float variance cannot
    * flip a flag. The prefix window runs over the BOUNDED (type × hours)
    * moment table, never the corpus; at 100 TB the raw stream only ever
    * feeds the map-side-combined hourly aggregate. */
  val qStreamAnomaly: Q = (s, dir) => {
    import graft.streaming.{Runtime => SR}
    import org.apache.spark.sql.expressions.Window
    val sink = SR.runToCompletionAppend(s,
        SR.hourlyMoments(SR.eventsStreamWithFlush(s, dir)),
        s"graft_anomaly_${Integer.toHexString(dir.hashCode)}")
      .filter(col("event_type") =!= "flush")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val wPrev = Window.partitionBy(col("event_type")).orderBy(col("w_start"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val np = sum(col("n")).over(wPrev).cast(dec)
    val s1p = sum(col("s1")).over(wPrev).cast(dec)
    val s2p = sum(col("s2")).over(wPrev).cast(dec)
    val nh = col("n").cast(dec)
    val s1h = col("s1").cast(dec)
    val lhsRoot = s1h * np - s1p * nh
    val flag = when(np.isNull || np < 500, lit(0L))
      .otherwise(when(lhsRoot * lhsRoot >
        lit(9) * nh * (np * s2p - s1p * s1p), lit(1L)).otherwise(lit(0L)))
    sink
      .withColumn("is_anomaly", flag)
      .select(col("event_type"), col("w_start"), col("n"),
        col("s1").as("s1_cents"), col("is_anomaly"))
      .orderBy("event_type", "w_start")
  }

  /** EXACTLY-ONCE streaming ingest over an at-least-once source, run as a
    * REAL stream inside the correctness gate: the events file is replayed
    * TWICE (two micro-batches, Runtime.eventsStreamWithRedelivery); the
    * watermark dedup (dropDuplicatesWithinWatermark on event_id) must emit
    * each event exactly once — redelivered rows are dropped as duplicates
    * (state alive) or as late data (behind the watermark). The emitted rows
    * are aggregated per type, and the oracle is the plain per-type
    * aggregate over the SOURCE table — any leaked duplicate or lost row
    * breaks the hash. State is evicted as the watermark passes each key, so
    * it is bounded by the redelivery horizon, not stream lifetime. */
  val qStreamDedup: Q = (s, dir) => {
    import graft.streaming.{Runtime => SR}
    SR.runToCompletionAppend(s,
        SR.dedupedEvents(SR.eventsStreamWithRedelivery(s, dir)),
        s"graft_dedup_${Integer.toHexString(dir.hashCode)}")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
      .orderBy("event_type")
  }

  /** STREAMING CONTENT DEDUP — the stream-side member of the dedup family
    * for DOCUMENTS (Runtime.dedupedDocuments, grading the content-key
    * claim in dedupedEvents' docs): the documents table replayed with
    * at-least-once redelivery (every file arrives twice), deduplicated
    * exactly-once on (source, md5(text)) within the watermark horizon,
    * then summarized per source. The dedup state machine collapses BOTH
    * the redelivered copies and any in-corpus same-(source, text)
    * duplicates to one row each, so the oracle is the batch DISTINCT
    * (source, content-hash) aggregate over the source table — a leaked
    * duplicate or dropped doc from either micro-batch breaks the hash.
    * Identical texts share n_chars, so the surviving-copy choice cannot
    * affect the sum. */
  val qStreamDedupContent: Q = (s, dir) => {
    import graft.streaming.{Runtime => SR}
    SR.runToCompletionAppend(s,
        SR.dedupedDocuments(SR.documentsStreamWithRedelivery(s, dir)),
        s"graft_cdedup_${Integer.toHexString(dir.hashCode)}")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_unique"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("source")
  }

  /** STREAMING → PARTITIONED PARQUET SINK, graded end-to-end: the
    * time-split replay (two data micro-batches) runs through the
    * PRODUCTION sink path — `foreachBatch` → Layout.writePartitioned,
    * checkpointed, SaveMode.Append — landing each batch's rows exactly
    * once in a hive-partitioned layout by event_type; the layout is read
    * back with a partition filter that prunes directories before any IO
    * (the q_layout_prune machinery) and aggregated per (type, user). The
    * sink round trip is lossless and exactly-once, so the oracle is the
    * plain filtered aggregate over the SOURCE table — a duplicated,
    * dropped, or misfiled row from either micro-batch breaks the hash.
    * This is how every real pipeline lands streaming data at 100 TB:
    * arriving micro-batches append into the pruning-friendly layout that
    * downstream batch readers scan. Sink + checkpoint are cleared first so
    * the append-mode directory is born empty (a re-run in the same
    * process would otherwise double rows). */
  val qStreamSink: Q = (s, dir) => {
    import graft.streaming.{Runtime => SR}
    val sink = Tables.stageDir(s, "stream-sink", dir)
    val ckpt = Tables.stageDir(s, "stream-sink-ckpt", dir)
    Tables.deleteRecursively(sink)
    Tables.deleteRecursively(ckpt)
    SR.runToPartitionedParquet(
      SR.eventsStreamSplitByTime(s, dir)
        .select(col("event_id"), col("event_type"), col("user_id"), col("value")),
      sink, ckpt, partitionCol = "event_type",
      outputMode = "append", saveMode = org.apache.spark.sql.SaveMode.Append)
    graft.sources.Layout.readPartitioned(s, sink)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
      .orderBy("event_type", "user_id")
  }

  /** LATE-DATA ACCOUNTING (Runtime.eventsStreamLateArrivals +
    * runToCompletionAppendWithDrops) — the streaming twin of
    * q_source_malformed's dead-letter contract: every other stream key
    * drops watermark-late rows SILENTLY; production ingest needs the
    * dropped count on a ledger next to the on-time result. The replay
    * holds back a deterministic slice (event_id % 5 == 2) until two
    * batches after the rest of the stream has advanced and COMMITTED the
    * watermark (late filtering uses the previous batch's watermark, so
    * the middle tick batch is what arms it). The ingest dedup carries the
    * event time in its key — the one stateful operator that late-filters
    * its input — so the straggler file's old rows are dropped and
    * counted while its fresh rows are accepted. Output: the per-type
    * aggregate over the rows the engine ACCEPTED, plus the engine's own
    * numRowsDroppedByWatermark metric as an audit column. The oracle
    * re-derives the classification from the schedule (watermark =
    * ms-truncated max on-time ts − 1 h; a row survives iff its ts clears
    * it), so the hash match proves both the partial-acceptance semantics
    * AND that the metric equals the true late count — accounting, not
    * estimation. */
  val qStreamLate: Q = (s, dir) => {
    import graft.streaming.{Runtime => SR}
    val (out, dropped) = SR.runToCompletionAppendWithDrops(s,
      SR.dedupedEventsWithEventTime(SR.eventsStreamLateArrivals(s, dir)),
      s"graft_late_${Integer.toHexString(dir.hashCode)}")
    out.filter(col("event_type") =!= "flush")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_accepted"), dsum(col("value"), 6).as("sum_value"))
      .withColumn("n_late_dropped", lit(dropped))
      .orderBy("event_type")
  }

  /** STREAMING SINK WITH MANIFEST MAINTENANCE
    * (Runtime.runToManifestedParquet) — the per-tick composition the r13
    * manifest build and the r14 batch append both point at: the
    * time-split replay's two micro-batches each commit their
    * range-clustered files + ONE new manifest part to the same layout
    * (appendManifested bootstraps tick one on the empty directory), so
    * manifest maintenance cost is O(tick), never O(table) — the claim a
    * Delta/Iceberg streaming writer makes. The graded read then plans a
    * mid-January range scan FROM the accreted manifest: both ticks'
    * generations participate in the file selection (the split boundary is
    * the median timestamp, inside the range), the predicate re-applies on
    * the pruned read, and the per-type aggregate must equal the plain
    * filtered aggregate over the source — a row lost, duplicated, or
    * mis-manifested by ANY tick breaks the hash. Flush sentinel rows ride
    * the replay but sit hours past the range (and are filtered by type
    * defensively). */
  val qStreamSinkManifest: Q = (s, dir) => {
    import graft.streaming.{Runtime => SR}
    val sink = Tables.stageDir(s, "stream-manifest", dir)
    val ckpt = Tables.stageDir(s, "stream-manifest-ckpt", dir)
    Tables.deleteRecursively(sink)
    Tables.deleteRecursively(ckpt)
    SR.runToManifestedParquet(
      SR.eventsStreamSplitByTime(s, dir)
        .select(col("event_id"), col("ts"), col("event_type"), col("value")),
      sink, ckpt, statsCol = "ts", numFilesPerTick = 8)
    val lo = lit("2024-01-10").cast("timestamp")
    val hi = lit("2024-01-20").cast("timestamp")
    graft.sources.Layout.manifestPrunedRead(s, sink, lo, hi)
      .filter(col("ts") >= lo && col("ts") < hi &&
        col("event_type") =!= "flush")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
      .orderBy("event_type")
  }

  /** STREAMING VIEW MAINTENANCE (Runtime.runRollupMaintain) — the
    * q_agg_view_maintain fold driven by the replayed event stream: each
    * micro-batch appends its per-type PARTIAL aggregate (count + exact
    * decimal partial sum) to a stored rollup table; the graded read MERGES
    * the partials (Det.dsumMerge) and never re-reads the events. The
    * oracle recomputes the view from scratch over the whole events table,
    * so the hash match proves tick-partial accretion ≡ full recompute —
    * the mergeable-aggregate law (decimal addition is exact and
    * associative) graded through a real incremental stream. The flush
    * sentinel is filtered in-stream: the rollup must account exactly the
    * delivered events. */
  val qStreamViewMaintain: Q = (s, dir) => {
    import graft.streaming.{Runtime => SR}
    val rollup = Tables.stageDir(s, "stream-rollup", dir)
    val ckpt = Tables.stageDir(s, "stream-rollup-ckpt", dir)
    Tables.deleteRecursively(rollup)
    Tables.deleteRecursively(ckpt)
    val written = SR.runRollupMaintain(
      SR.eventsStreamSplitByTime(s, dir)
        .filter(col("event_type") =!= "flush")
        .select(col("event_type"), col("value")),
      rollup, ckpt, keyCol = "event_type", valCol = "value")
    s.read.schema(written).parquet(rollup)
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n"),
        graft.functions.Det.dsumMerge(col("s"), 6).as("sum_value"))
      .orderBy("event_type")
  }

  /** UPDATE-MODE STREAMING SERVING (Runtime.runUpdateServing) — the
    * running-top-k dashboard every other graded stream can't express:
    * append mode only emits watermark-FINALIZED rows, but a live serving
    * table needs each key's CURRENT aggregate re-emitted whenever it
    * changes. The per-(type, user) count+sum aggregation runs in update
    * mode over the time-split replay; each micro-batch's changed keys fold
    * into a stored serving table as a latest-wins merge committed as a new
    * version (so mid-stream snapshots remain inspectable — the update-mode
    * evidence StreamingEquivSpec pins is v00000 ≠ final with re-emitted
    * keys CHANGING value). The graded read takes the LATEST version and
    * ranks the top 3 users per type. Latest-wins over update-mode
    * re-emissions must converge to the batch aggregate, so the oracle is
    * the from-scratch per-(type, user) aggregate + rank over the source —
    * a stale serving row (missed re-emission) or a phantom (state leak)
    * breaks the hash. Flush sentinels are filtered BEFORE aggregation —
    * safe here precisely because this pipeline needs no watermark (update
    * mode re-emits on every change; nothing waits on event time), so the
    * pushed-down filter cannot starve a watermark collector. */
  val qStreamUpdateTopk: Q = (s, dir) => {
    import graft.streaming.{Runtime => SR}
    import org.apache.spark.sql.expressions.Window
    val root = Tables.stageDir(s, "stream-serving", dir)
    val ckpt = Tables.stageDir(s, "stream-serving-ckpt", dir)
    Tables.deleteRecursively(root)
    Tables.deleteRecursively(ckpt)
    SR.runUpdateServing(
      SR.eventsStreamSplitByTime(s, dir)
        .filter(col("event_type") =!= "flush")
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value")),
      root, ckpt, keyCols = Seq("event_type", "user_id"))
    val serving = s.read.parquet(
      s"$root/${SR.latestServingVersion(root).getOrElse(sys.error("no serving version"))}")
    // The rank runs over the SERVING TABLE (O(active keys)), never the
    // corpus — that reduction already happened in the streaming state.
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("sum_value").desc, col("user_id"))
    serving
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("event_type"), col("rnk"), col("user_id"),
        col("n"), col("sum_value"))
      .orderBy("event_type", "rnk")
  }

  /** COMPLETE-mode output — the third member of the output-mode family
    * (append = q_stream_tumbling's exactly-once emission, update =
    * q_stream_update_topk's changed-rows serving): the small-cardinality
    * per-type running aggregate whose memory-sink snapshot is the FULL
    * recomputed result after every micro-batch
    * (Runtime.runCompleteWithSnapshot — one query instance over the
    * two-arrival time-split replay). The runtime certificate requires the
    * MID-STREAM snapshot (captured between the two micro-batches) to be
    * nonempty, differ from the final one, and be a per-type prefix of it
    * (counts only grow — complete mode RECOMPUTED rather than appended);
    * a run that collapsed to one batch, or a sink that kept stale rows,
    * fails loudly. The graded final snapshot hash-matches the from-scratch
    * batch aggregate. Flush sentinels are filtered BEFORE the aggregate —
    * complete mode has no watermark to stall (state is O(types), kept
    * forever by definition), so the pre-agg filter is safe here, unlike
    * the watermarked keys. */
  val qStreamComplete: Q = (s, dir) => {
    import graft.streaming.{Runtime => SR}
    val (fin, mid) = SR.runCompleteWithSnapshot(s, dir,
      df => df.filter(col("event_type") =!= "flush")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value")),
      s"graft_complete_${Integer.toHexString(dir.hashCode)}")
    val finRows = fin.collect().toSeq
    val midN = mid.map(r => r.getString(0) -> r.getLong(1)).toMap
    val finN = finRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val prefix = midN.forall { case (t, n) => finN.get(t).exists(_ >= n) }
    if (mid.isEmpty || mid.toSet == finRows.toSet || !prefix)
      sys.error(s"complete-mode certificate failed: mid-stream snapshot " +
        s"(${mid.size} rows) must be nonempty, differ from the final " +
        s"snapshot, and per-type counts must only grow — the stream did " +
        s"not recompute across two micro-batches")
    fin.orderBy("event_type")
  }

  /** STREAMING DEDUP AGAINST THE HISTORICAL CORPUS INDEX (r19 —
    * Runtime.runCorpusDedup): the crawl-pipeline shape completing the
    * dedup axis (q_dedup_incremental dedups one batch against the index;
    * q_stream_dedup/_content dedup within-stream): micro-batch arrivals
    * probe the PERSISTED banded-LSH index, every arrival then enters the
    * index, and each tick's two-layout index append (meta + bucket
    * postings) commits exactly-once through the r19 cross-layout OCC
    * transaction, its marker doubling as the tick's idempotence token —
    * runtime certificates pin one commit per tick and that a duplicate
    * tick delivery short-circuits. The graded result is the final
    * surviving-arrival set; the matching is the same exact bigram Jaccard
    * as the batch family, so the oracle rebuilds "drop if anything seen
    * earlier matches" relationally — stream ≡ batch on the same arrival
    * order (StreamingEquivSpec pins the equivalence against the in-engine
    * batch twin too). */
  val qStreamDedupCorpus: Q = (s, dir) => {
    import graft.streaming.{Runtime => SR}
    SR.runCorpusDedup(s, dir).orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "q_stream_dedup_corpus" -> qStreamDedupCorpus,
    "q_stream_anomaly" -> qStreamAnomaly,
    "q_stream_complete" -> qStreamComplete,
    "q_stream_update_topk" -> qStreamUpdateTopk,
    "q_stream_view_maintain" -> qStreamViewMaintain,
    "q_stream_cdc_apply" -> qStreamCdcApply,
    "q_stream_tumbling" -> qStreamTumbling,
    "q_stream_join_static" -> qStreamJoinStatic,
    "q_stream_restart" -> qStreamRestart,
    "q_stream_late" -> qStreamLate,
    "q_stream_sink_manifest" -> qStreamSinkManifest,
    "q_stream_sliding" -> qStreamSliding,
    "q_stream_session" -> qStreamSession,
    "q_stream_join" -> qStreamJoin,
    "q_stream_join_outer" -> qStreamJoinOuter,
    "q_stream_join_full" -> qStreamJoinFull,
    "q_stream_join_right" -> qStreamJoinRight,
    "q_stream_stateful" -> qStreamStateful,
    "q_stream_stateful_v2" -> qStreamStatefulV2,
    "q_stream_dedup" -> qStreamDedup,
    "q_stream_dedup_content" -> qStreamDedupContent,
    "q_stream_sink" -> qStreamSink)
}
