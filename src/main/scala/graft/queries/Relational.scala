package graft.queries

import graft.Tables
import graft.functions.Det.{davg, dsum}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational operator contract — SURVEY.md §2.2–2.5, §2.7.
  *
  * Design stance (SURVEY.md §7.1): declarative DataFrame plans only; Catalyst
  * owns predicate pushdown, column pruning and join selection. Every query
  * ends in a total order with a unique-key tiebreak and explicit float
  * determinism (exact decimal sums / rounded ratios) so results hash-match
  * the DuckDB oracle regardless of partition count — see SURVEY.md §2.9.
  *
  * The lineitem unique key is (l_orderkey, l_linenumber, l_partkey,
  * l_suppkey) — (orderkey, linenumber) alone is NOT unique in this testdata
  * (verified: 60 000 rows, 45 832 distinct pairs at sf0.01).
  */
object Relational {

  type Q = (SparkSession, String) => DataFrame

  /** lineitem total-order tiebreak columns. */
  private val liKey = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")

  // ---------------------------------------------------------------- scans

  /** Full scan smoke over all 10 sources: count + min/max key per table.
    * ONE aggregation job: each table contributes a pruned (table_name, key)
    * scan; the union feeds a single partial-then-final HashAggregate on the
    * 10-value table_name key. The r1–r5 form ran 10 independent global-agg
    * branches (10 single-partition exchanges, serialized stage scheduling —
    * ~1.0 s of the bench); this shape computes the same partials map-side in
    * one stage and shuffles 10 tiny rows per partition once.
    */
  val qScanParquet: Q = (s, dir) => {
    import s.implicits._
    val specs = Seq(
      "region" -> "r_regionkey", "nation" -> "n_nationkey",
      "customer" -> "c_custkey", "supplier" -> "s_suppkey",
      "part" -> "p_partkey", "orders" -> "o_orderkey",
      "lineitem" -> "l_orderkey", "events" -> "event_id",
      "documents" -> "doc_id", "embeddings" -> "vec_id")
    val agged = specs.map { case (t, k) =>
      Tables.table(s, dir, t)
        .select(lit(t).as("table_name"), col(k).cast("long").as("key"))
    }.reduce(_.unionAll(_))
      .groupBy(col("table_name"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("key")).as("min_key"),
        max(col("key")).as("max_key"))
    // The per-table oracle (`SELECT count(*) … FROM t`) emits (t, 0, null,
    // null) even for an EMPTY table; a bare union+groupBy would drop the
    // row. Left-join against the static name list to keep that contract.
    specs.map(_._1).toDF("table_name")
      .join(agged, Seq("table_name"), "left")
      .select(col("table_name"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        col("min_key"), col("max_key"))
      .orderBy("table_name")
  }

  /** TIMESTAMP(NANOS) decode path (SURVEY.md §1.3): per-event-type counts and
    * microsecond-exact min/max timestamps. */
  val qScanEventsNs: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
      .orderBy("event_type")

  /** Reference-native input format: label + features CSV parsed with an
    * explicit schema (SURVEY.md §2.2 q_source_csv). The CSV text is derived
    * deterministically from the embeddings table, then re-parsed through the
    * Spark CSV datasource — same parser as a file-based read, no tmp files.
    *
    * Oracle-checkable (upgraded r9): features are widened to DOUBLE before
    * serialization, and Java's Double.toString guarantees its output parses
    * back to the SAME double — so text→double→text is identity and the
    * parsed values equal the source values exactly, no string-format parity
    * needed (float→text would NOT be safe: the parse target, double,
    * differs from the serialized type, and JDK 17 emits non-shortest float
    * reprs for ~10% of floats). The mean goes through the davg decimal
    * path, so the oracle is davg over the same widened column. */
  val qSourceCsv: Q = (s, dir) => {
    import s.implicits._
    val csvLines = Tables.embeddings(s, dir)
      .orderBy("vec_id")
      .limit(200)
      .select(concat_ws(",",
        col("vec_id"), col("label"),
        col("embedding")(0).cast("double"), col("embedding")(1).cast("double"),
        col("embedding")(2).cast("double"), col("embedding")(3).cast("double")).as("line"))
      .as[String]
    val schema = "vec_id LONG, label INT, f0 DOUBLE, f1 DOUBLE, f2 DOUBLE, f3 DOUBLE"
    s.read.schema(schema).csv(csvLines)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), davg(col("f0")).as("mean_f0"))
      .orderBy("label")
  }

  /** JSON-lines ingestion (the other text interchange format every corpus
    * pipeline meets): derive JSONL deterministically from `documents`,
    * re-parse through the Spark JSON datasource with an explicit schema —
    * same parser as a file-based `read.json`, no tmp files. Unlike the CSV
    * twin (float text round-trip), the projected fields are integral /
    * string, so the round trip is lossless and the aggregate
    * oracle-checkable against the source table directly. */
  val qSourceJsonl: Q = (s, dir) => {
    import s.implicits._
    val jsonLines = Tables.documents(s, dir)
      .select(to_json(struct(col("doc_id"), col("lang"), col("n_chars"))).as("line"))
      .as[String]
    val schema = "doc_id LONG, lang STRING, n_chars LONG"
    s.read.schema(schema).json(jsonLines)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
  }

  /** MALFORMED-INPUT QUARANTINE — the ingest-robustness contract every
    * production reader needs and no other key exercises: JSONL with
    * deterministically corrupted lines (doc_id % 7 == 3 arrives truncated
    * at 15 chars — always mid-object, never accidentally-valid JSON)
    * parsed in PERMISSIVE mode with a corrupt-record column; bad rows
    * land in a `_quarantine` bucket (metrics only — the payload is
    * preserved in `_corrupt_record` for a real dead-letter sink), good
    * rows aggregate per language as usual. Narrow parse + one small agg;
    * the quarantine path adds no shuffle. The oracle rebuilds the same
    * classification from the clean source, so the hash proves the parser
    * dropped EXACTLY the planted lines and nothing else. */
  /** The malformed-ingest corpus: JSON lines with every doc_id % 7 == 3
    * line TRUNCATED mid-token — the quarantine fixture shared by
    * q_source_malformed (PERMISSIVE-mode ingest accounting) and
    * q_text_bpe_bytes (unk-free byte-level encode of arbitrary
    * fragments). Returns (is_malformed, line). */
  def malformedLines(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        to_json(struct(col("doc_id"), col("lang"), col("n_chars"))).as("line"))
      .select((col("doc_id") % 7 === 3).as("is_malformed"),
        when(col("doc_id") % 7 === 3, substring(col("line"), 1, 15))
          .otherwise(col("line")).as("line"))

  val qSourceMalformed: Q = (s, dir) => {
    import s.implicits._
    val lines = malformedLines(s, dir).select(col("line")).as[String]
    val schema = "doc_id LONG, lang STRING, n_chars LONG, _corrupt_record STRING"
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(lines)
      .select(
        when(col("_corrupt_record").isNull, col("lang"))
          .otherwise(lit("_quarantine")).as("bucket"),
        col("n_chars"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("bucket")
  }

  /** ORC ingestion (the other columnar interchange format): documents
    * projected to integral/string columns, written as ORC, read back
    * through the vectorized ORC datasource, aggregated. Round trip is
    * lossless, so the aggregate oracle-checks against the source table —
    * the q_source_jsonl move for a file-based columnar format. */
  val qSourceOrc: Q = (s, dir) => {
    // Staged under the harness-owned staging root (Tables.stageDir): the
    // write/read pair shares the run's artifact lifecycle and is cleaned
    // with it, instead of accreting in java.io.tmpdir. Keyed on the source
    // dir so concurrent SFs never collide.
    val tmp = Tables.stageDir(s, "orc", dir)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .write.mode("overwrite").orc(tmp)
    s.read.orc(tmp)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("source")
  }

  /** XML SOURCE round trip (r16) — Spark 4's NATIVE XML datasource (the
    * spark-xml package folded into core), completing the source-format
    * family (parquet/csv/jsonl/orc/+malformed): customers written as an
    * XML document per row-tag, read back with an EXPLICIT schema (no
    * inference pass — at 100 TB schema inference is a second full scan),
    * aggregated per segment. Doubles survive the text round trip exactly:
    * the writer emits the shortest round-trippable decimal repr and the
    * reader reparses it to the identical bits. Oracle = the same
    * aggregate over the parquet source (the round trip is lossless). */
  val qSourceXml: Q = (s, dir) => {
    val tmp = Tables.stageDir(s, "xml", dir)
    Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .write.mode("overwrite")
      .option("rowTag", "customer").option("rootTag", "customers")
      .format("xml").save(tmp)
    s.read.format("xml").option("rowTag", "customer")
      .schema("c_custkey LONG, c_mktsegment STRING, c_acctbal DOUBLE")
      .load(tmp)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), dsum(col("c_acctbal"), 2).as("sum_bal"))
      .orderBy("c_mktsegment")
  }

  /** Partitioned-layout round trip — sources/Layout.scala graded through
    * the correctness gate: documents written as a hive-partitioned parquet
    * layout by `lang` (bounded files per partition), read back with a
    * partition filter that prunes directories BEFORE any IO
    * (PartitionFilters asserted in LayoutSkewSpec), then aggregated. The
    * round trip is lossless and pruning is semantics-free, so the oracle is
    * the plain filtered SQL over the source table. At 100 TB this layout is
    * the difference between scanning the corpus and scanning two
    * directories. */
  val qLayoutPrune: Q = (s, dir) => {
    val stage = Tables.stageDir(s, "layout", dir)
    graft.sources.Layout.writePartitioned(
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
      stage, "lang", filesPerPartition = 2)
    graft.sources.Layout.readPartitioned(s, stage)
      .filter(col("lang").isin("en", "de"))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("lang", "source")
  }

  /** Small-files COMPACTION round trip — Layout.compact graded through the
    * correctness gate: documents deliberately fragmented into 64 small
    * files (the shape a streaming/incremental writer accretes), compacted
    * to byte-size-targeted outputs, read back and aggregated. Compaction
    * must be content-preserving, so the oracle is the plain aggregate over
    * the source table; LayoutSkewSpec asserts the file count actually
    * shrinks. At 100 TB this is the maintenance pass that keeps scan
    * planning and footer reads from drowning in file-count growth. */
  val qLayoutCompact: Q = (s, dir) => {
    val frag = Tables.stageDir(s, "fragments", dir)
    val compacted = Tables.stageDir(s, "compacted", dir)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .repartition(64)
      .write.mode("overwrite").parquet(frag)
    graft.sources.Layout.compact(s, frag, compacted, targetBytes = 256L * 1024)
    s.read.parquet(compacted)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("lang")
  }

  /** SCHEMA EVOLUTION read — the mergeSchema contract every long-lived
    * layout eventually needs (an old writer's files lack the columns a
    * new writer added): generation 1 of the staged orders layout carries
    * (orderkey, totalprice), generation 2 adds o_orderstatus; one
    * mergeSchema read over the common root unions the schemas, old files
    * surface the added column as NULL (bucketed to 'unknown'), and the
    * generation directory doubles as a partition column. Per-file schema
    * reconciliation happens at footer-read time — no data rewrite, no
    * extra shuffle; the plan is the ordinary one-agg profile. The oracle
    * rebuilds the same generation split from the source, so the hash
    * proves NULL-completion touched exactly the old-generation rows. */
  val qLayoutEvolve: Q = (s, dir) => {
    val root = Tables.stageDir(s, "evolve", dir)
    val ords = Tables.orders(s, dir)
    ords.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$root/gen=1")
    ords.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .write.mode("overwrite").parquet(s"$root/gen=2")
    s.read.option("mergeSchema", "true").parquet(root)
      .select(coalesce(col("o_orderstatus"), lit("unknown")).as("status"),
        col("o_totalprice"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("spend"))
      .orderBy("status")
  }

  /** Z-ORDER CLUSTERING round trip — Layout.zorderWrite graded through the
    * correctness gate: lineitem's (l_partkey, l_suppkey) pairs are min-max
    * scaled to 16 bits (exact BIGINT arithmetic — `div`, never `/` — so the
    * oracle reproduces every code bit-for-bit), Morton-interleaved, written
    * range-clustered by the z code, read back, and summarized per coarse
    * z-range (z >> 26, i.e. 64 buckets): row count plus the min/max
    * envelope of BOTH source columns. Tight per-bucket envelopes in both
    * dimensions at once IS the operator's point — parquet min/max stats
    * skip files for predicates on either column without hive-partitioning
    * on them (LayoutSkewSpec asserts the per-file envelope tightening
    * against a hash-fragmented baseline). The round trip is lossless and
    * the arithmetic is integer-exact, so the oracle computes the same
    * buckets straight from the source table. */
  val qLayoutZorder: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir).select(
      col("l_partkey").cast("long").as("pk"),
      col("l_suppkey").cast("long").as("sk"))
    val bounds = li.agg(
      min(col("pk")).as("pk_min"), max(col("pk")).as("pk_max"),
      min(col("sk")).as("sk_min"), max(col("sk")).as("sk_max"))
    val scaled = li.crossJoin(broadcast(bounds))
      .withColumn("px", expr("((pk - pk_min) * 65535) div greatest(pk_max - pk_min, 1)"))
      .withColumn("sx", expr("((sk - sk_min) * 65535) div greatest(sk_max - sk_min, 1)"))
      .select(col("pk"), col("sk"),
        graft.sources.Layout.morton16(col("px"), col("sx")).as("z"))
    val stage = Tables.stageDir(s, "zorder", dir)
    graft.sources.Layout.zorderWrite(scaled, stage, col("z"), numFiles = 8)
    s.read.schema(scaled.schema).parquet(stage) // the schema just written
      .groupBy(expr("z div 67108864").as("zbucket")) // 2^26: 64 coarse z-ranges
      .agg(count(lit(1)).as("n"),
        min(col("pk")).as("min_pk"), max(col("pk")).as("max_pk"),
        min(col("sk")).as("min_sk"), max(col("sk")).as("max_sk"))
      .orderBy("zbucket")
  }

  /** HILBERT-CURVE CLUSTERING (r17) — the multi-column range-clustering
    * upgrade over q_layout_zorder (Layout.hilbert16): consecutive Hilbert
    * indexes are always grid-adjacent (no Z-seam jumps), so the same
    * range-clustered write yields strictly bounded per-file (pk, sk)
    * envelopes — the tighter data-skipping boxes a 100 TB two-column
    * filter workload prunes on. Clustering is PLACEMENT-ONLY, so the
    * graded read is the lossless round trip (count + decimal revenue +
    * exact key sums through the clustered layout); the curve itself is
    * pinned by LayoutSkewSpec: bijection + unit-step adjacency against an
    * independent driver-side reference, and envelope tightening vs a
    * hash-fragmented baseline on the same grid as the z-order pin. */
  val qLayoutHilbert: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir).select(
      col("l_partkey").cast("long").as("pk"),
      col("l_suppkey").cast("long").as("sk"),
      col("l_extendedprice").as("price"))
    val bounds = li.agg(
      min(col("pk")).as("pk_min"), max(col("pk")).as("pk_max"),
      min(col("sk")).as("sk_min"), max(col("sk")).as("sk_max"))
    val scaled = li.crossJoin(broadcast(bounds))
      .withColumn("px", expr("((pk - pk_min) * 65535) div greatest(pk_max - pk_min, 1)"))
      .withColumn("sx", expr("((sk - sk_min) * 65535) div greatest(sk_max - sk_min, 1)"))
      .select(col("pk"), col("sk"), col("price"),
        graft.sources.Layout.hilbert16(col("px"), col("sx")).as("h"))
    val stage = Tables.stageDir(s, "hilbert", dir)
    graft.sources.Layout.zorderWrite(scaled, stage, col("h"), numFiles = 8)
    s.read.schema(scaled.schema).parquet(stage) // the schema just written
      .agg(count(lit(1)).as("n"), dsum(col("price")).as("revenue"),
        sum(col("pk")).as("sum_pk"), sum(col("sk")).as("sum_sk"),
        min(col("pk")).as("min_pk"), max(col("pk")).as("max_pk"),
        min(col("sk")).as("min_sk"), max(col("sk")).as("max_sk"))
  }

  /** BUCKETED CO-LOCATED JOIN — sources/Layout.writeBucketed graded through
    * the correctness gate: orders and customer are written as external
    * parquet tables bucketed (and bucket-sorted) by their join key with the
    * SAME bucket count, then joined straight off the catalog tables. The
    * bucket spec makes each scan's output partitioning already satisfy the
    * join's distribution requirement, so the sort-merge join runs with ZERO
    * Exchange on either side (asserted against a non-bucketed twin in
    * LayoutSkewSpec). At 100 TB this is the layout decision that deletes a
    * fact-to-fact join's two corpus-sized shuffles from EVERY downstream
    * run — the write-once shuffle is amortized across all of them. The
    * merge hint pins the strategy the layout exists for (at real scale
    * neither side fits any broadcast budget; without the hint the sf0.01
    * customer table would broadcast and grade the wrong plan). Bucketed
    * write and read-back are lossless, so the oracle is the plain join
    * aggregate over the source tables. */
  val qLayoutBucketed: Q = (s, dir) => {
    val stage = Tables.stageDir(s, "bucketed", dir)
    // Catalog names are keyed like the staging dir: two SF dirs verified in
    // one session must not collide on table identity.
    val key = dir.replaceAll("[^A-Za-z0-9]", "_")
    val ordersT = s"graft_bkt_orders_$key"
    val custT = s"graft_bkt_customer_$key"
    graft.sources.Layout.writeBucketed(
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderstatus"), col("o_totalprice")),
      ordersT, s"$stage/orders", "o_custkey", numBuckets = 8)
    graft.sources.Layout.writeBucketed(
      Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment")),
      custT, s"$stage/customer", "c_custkey", numBuckets = 8)
    s.table(ordersT).hint("merge")
      .join(s.table(custT), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("spend"))
      .orderBy("c_mktsegment", "o_orderstatus")
  }

  /** FILE-SKIPPING MANIFEST (sources/Layout.writeManifested +
    * manifestPrunedRead) graded through the correctness gate — the
    * Delta/Iceberg planning primitive re-expressed: lineitem is CLUSTERED
    * by l_shipdate into range files with a per-file (min, max, n_rows)
    * stats manifest maintained at write time, and the graded query plans a
    * one-year range scan FROM the manifest — only files whose envelope
    * intersects 1997 are opened; the predicate is re-applied on the pruned
    * read for the boundary files. At 100 TB the manifest replaces the
    * directory LIST + footer-read planning cost (O(millions of files) on
    * an object store) with one small-table read, and the clustering makes
    * the envelopes disjoint so ~6/7 of the data files are never opened.
    * Complements the layout family: hive partitioning prunes directories
    * (q_layout_prune), Z-order tightens two-column envelopes
    * (q_layout_zorder), the manifest makes one-column skipping a PLANNING
    * step instead of a scan-time one. The layout+manifest write is
    * content-keyed fixture setup (the table's storage posture, built once
    * per corpus snapshot — the q_agg_incremental argument); the graded op
    * is the manifest-planned read. Pruning soundness, file-subset
    * selection, and the empty-selection path are spec-asserted
    * (ManifestSpec); pruned-read + re-filter is lossless, so the oracle is
    * the plain range aggregate over the source table. */
  val qLayoutManifest: Q = (s, dir) => {
    val staged = stagedManifestLayout(s, dir)
    val lo = lit("1997-01-01").cast("timestamp")
    val hi = lit("1998-01-01").cast("timestamp")
    graft.sources.Layout.manifestPrunedRead(s, staged, lo, hi)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("l_returnflag")
  }

  /** INCREMENTAL MANIFEST MAINTENANCE (sources/Layout.appendManifested) —
    * the per-tick twin of q_layout_manifest's build, completing the
    * incremental family (q_agg_incremental, q_scd2_merge, q_sim_ivf_append)
    * for layout METADATA: a deterministic batch (l_orderkey % 7 == 3, so
    * the oracle can rebuild the split) is appended to the manifested base
    * (the other six sevenths) by writing ONLY the batch's clustered files
    * and ONE new manifest part with their stats — the base's data files
    * and manifest parts are untouched bytes (asserted in ManifestSpec;
    * a per-tick rebuild would re-scan O(table) files on every commit).
    * The graded read then plans a 1996 range scan from the APPENDED
    * manifest: both generations' files participate in the file selection,
    * so the hash match proves the incremental commit reproduces exactly
    * the layout a from-scratch build over base ∪ batch would have — the
    * append is lossless and the oracle is the plain range aggregate over
    * the whole source table. */
  val qLayoutManifestAppend: Q = (s, dir) => {
    val staged = stagedManifestAppendLayout(s, dir)
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1997-01-01").cast("timestamp")
    graft.sources.Layout.manifestPrunedRead(s, staged, lo, hi)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("l_linestatus")
  }

  /** TIME TRAVEL over the manifested layout (Layout.manifestPrunedRead AS
    * OF a snapshot version) — Delta's VERSION AS OF / Iceberg's
    * snapshot-id read: because commits are append-only manifest parts
    * tagged with `commit_ver` (build = v0, each appendManifested = max+1),
    * a historical snapshot's file set is exactly the manifest rows at or
    * below the version, recovered by ONE extra driver-side predicate on
    * the same manifest read planning already pays — no data copies, no
    * undo log. The graded read plans a 1996 range scan AS OF v0 against
    * the SAME two-generation layout q_layout_manifest_append grades (base
    * = l_orderkey % 7 != 3 at v0, batch appended at v1), so the hash match
    * proves version filtering selects exactly the base generation's files:
    * the oracle aggregates the pre-append subset rebuilt by predicate.
    * At 100 TB this is what makes reproducible training runs and
    * incremental-job restatement possible on a layout that keeps
    * ingesting — readers pin a snapshot, writers append. */
  val qLayoutTimetravel: Q = (s, dir) => {
    val staged = stagedManifestAppendLayout(s, dir)
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1997-01-01").cast("timestamp")
    graft.sources.Layout.manifestPrunedRead(s, staged, lo, hi, asOfVer = 0L)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("l_returnflag")
  }

  /** CROSS-TABLE ATOMIC COMMIT (r19 — Layout.txnBegin /
    * txnAppendManifested / txnPublish): an ingest tick that writes
    * documents AND embeddings commits both layouts under ONE transaction
    * marker published with a single atomic rename — the all-or-nothing
    * boundary a multi-table ingest needs (a crash between two independent
    * commits would leave referential drift only a later constraint check
    * could notice). The fixture ([[stagedTxnLayouts]]) plants one
    * published txn (A), one that crashed after both commits but before
    * the publish (B), and one that crashed between the two layouts'
    * commits (C). The graded read joins both layouts per id-cohort: the
    * hash match proves base ∪ A is visible in BOTH tables and B/C in
    * NEITHER — a leaked half-transaction on either side changes a cohort
    * row. At 100 TB the marker rename is O(1) regardless of tick size,
    * and readers pay one existence probe per in-flight txn — the
    * Iceberg-catalog multi-table commit shape on the same storage
    * primitive the single-layout OCC loop already uses. ManifestSpec
    * walks every crash point of the same protocol. */
  val qLayoutTxn: Q = (s, dir) => {
    val staged = stagedTxnLayouts(s, dir)
    import graft.sources.Layout
    val docs = Layout.manifestPrunedRead(s, s"$staged/docs",
      lit(Long.MinValue), lit(Long.MaxValue))
    val vecs = Layout.manifestPrunedRead(s, s"$staged/vecs",
      lit(Long.MinValue), lit(Long.MaxValue))
    val dd = docs.groupBy((col("doc_id") % 10).as("cohort"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
    val vv = vecs.groupBy((col("vec_id") % 10).as("cohort"))
      .agg(count(lit(1)).as("n_vecs"))
    dd.join(vv, Seq("cohort"))
      .select(col("cohort"), col("n_docs"), col("sum_chars"), col("n_vecs"))
      .orderBy("cohort")
  }

  /** COPY-ON-WRITE DELETE on the manifested layout (Layout
    * .deleteManifested) — Delta/Iceberg DELETE WHERE: a deterministic
    * retention range (H1 1997) is deleted by rewriting ONLY the files
    * whose stats envelope intersects it — surviving rows move to fresh
    * clustered files, the originals tombstone as 'remove' manifest rows,
    * and both commit as ONE manifest part at a new snapshot version. The
    * untouched majority of files is never read or rewritten — at 100 TB a
    * time-ranged GDPR/retention delete touches the few clustered files
    * holding the range, not the corpus. The graded read plans a WIDER
    * range (1996-07 .. 1998-07) from the post-delete manifest, so it must
    * see rewritten survivors on both flanks of the hole and none of the
    * deleted rows; the oracle is the plain aggregate with the deletion
    * re-applied by predicate. ManifestSpec pins the plan properties: only
    * envelope-intersecting files rewritten, pre-delete snapshot intact
    * under time travel. */
  val qLayoutDelete: Q = (s, dir) => {
    val staged = stagedManifestDeleteLayout(s, dir)
    val lo = lit("1996-07-01").cast("timestamp")
    val hi = lit("1998-07-01").cast("timestamp")
    graft.sources.Layout.manifestPrunedRead(s, staged, lo, hi)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("l_returnflag")
  }

  /** COPY-ON-WRITE UPDATE on the manifested layout (Layout
    * .updateManifested) — UPDATE ... WHERE as a lakehouse commit,
    * completing the layout's CRUD surface (append / time-travel read /
    * delete / update / compact / vacuum / expire): a deterministic
    * restatement (H2 1998 prices scaled by 1.1 — one IEEE double multiply,
    * bit-identical in both engines) rewrites ONLY the files whose stats
    * envelope intersects the range; out-of-range rows in boundary files
    * pass through byte-equal, originals tombstone, and the commit is one
    * optimistic manifest part. The graded read spans updated and untouched
    * data, so the hash proves the rewrite surgical: the oracle re-applies
    * the restatement as a CASE expression over the source. */
  val qLayoutUpdate: Q = (s, dir) => {
    val staged = stagedManifestUpdateLayout(s, dir)
    val lo = lit("1998-01-01").cast("timestamp")
    val hi = lit("1999-01-01").cast("timestamp")
    graft.sources.Layout.manifestPrunedRead(s, staged, lo, hi)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("l_returnflag")
  }

  /** MANIFEST-AWARE COMPACTION (Layout.compactManifested — Delta OPTIMIZE):
    * four per-tick appends accumulate a small-files layout (the shape
    * every streaming sink produces), then compaction rewrites the live
    * file set into few clustered files and commits adds + tombstones as
    * one manifest part at a new version. The graded read plans a range
    * scan from the POST-compaction manifest; the hash match against the
    * plain range aggregate proves compaction is lossless, and ManifestSpec
    * pins the rest: file count shrinks, planning rows shrink, and AS-OF
    * reads below the compaction version still replay the pre-compaction
    * files. At 100 TB this is the maintenance pass that keeps a per-tick
    * append sink's planning cost O(target files), not O(ticks). */
  val qLayoutOptimize: Q = (s, dir) => {
    val staged = stagedManifestOptimizeLayout(s, dir)
    val lo = lit("1997-01-01").cast("timestamp")
    val hi = lit("1998-01-01").cast("timestamp")
    graft.sources.Layout.manifestPrunedRead(s, staged, lo, hi)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("l_linestatus")
  }

  /** GARBAGE COLLECTION graded end-to-end (Layout.vacuumManifested +
    * Layout.expireRemoved — Delta VACUUM / Iceberg remove-orphan-files +
    * retention expiry, r16): the staged layout takes a copy-on-write
    * DELETE (tombstones at v1), then a PLANTED orphan data file simulates
    * the residue of a crashed append (bytes in data/ whose manifest row
    * never committed — exactly the crash window appendManifested's commit
    * ordering leaves). Both GC passes run at staging time: vacuum collects
    * the orphan using the manifest as the liveness root, expiry physically
    * deletes the tombstoned originals at/below the horizon, and the
    * staging CERTIFICATE requires (a) >=1 orphan collected, (b) >=1 file
    * expired, (c) the data directory to hold EXACTLY the live file set
    * afterwards — an over-eager pass that ate a live file or a no-op pass
    * both fail loudly. The graded read then plans a range spanning the
    * delete hole from the post-GC manifest; the hash match against the
    * predicate-reapplied oracle proves GC deleted only dead bytes. At
    * 100 TB these are the maintenance passes that keep storage O(live
    * data) under churn: both plan from the manifest (O(files)), never
    * listing-and-reading data bytes. */
  val qLayoutVacuum: Q = (s, dir) => {
    val staged = stagedManifestVacuumLayout(s, dir)
    val lo = lit("1995-07-01").cast("timestamp")
    val hi = lit("1996-12-01").cast("timestamp")
    graft.sources.Layout.manifestPrunedRead(s, staged, lo, hi)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("l_linestatus")
  }

  /** SHALLOW CLONE graded end-to-end (Layout.shallowClone — Delta CLONE,
    * r16): the staged fixture clones the full lineitem layout ZERO-COPY
    * (the clone's manifest references the source's live files; no data
    * bytes move), then runs a copy-on-write DELETE ON THE CLONE —
    * survivors rewrite into the CLONE's own data dir, tombstones reference
    * source files, and the staging CERTIFICATE requires the source to be
    * bit-untouched (same file set, same manifest version) and the clone's
    * data dir to hold EXACTLY the rewrite outputs. The graded read plans a
    * range spanning the delete hole from the clone's manifest — rows come
    * from BOTH source files (inherited, untouched flanks) and clone files
    * (rewritten boundaries), so the hash match proves the zero-copy
    * inheritance and the copy-on-write isolation at once. At 100 TB this
    * is the dev/test-snapshot workflow: clone in O(files), mutate
    * without touching production bytes. */
  val qLayoutClone: Q = (s, dir) => {
    val staged = stagedManifestCloneLayout(s, dir)
    val lo = lit("1996-10-01").cast("timestamp")
    val hi = lit("1997-10-01").cast("timestamp")
    graft.sources.Layout.manifestPrunedRead(s, staged, lo, hi)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("l_returnflag")
  }

  /** COST-BASED OPTIMIZATION graded end-to-end (r17) — the stats loop
    * q_layout_analyze computes closed the production way: catalog tables
    * + real `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` +
    * `spark.sql.cbo.enabled` + stats-driven join reorder, on a dedicated
    * child session (same context + shared catalog, own SQLConf — flipping
    * CBO on the gate session would re-plan every other key). The graded
    * 3-table join's broadcast decision is stats-DRIVEN by construction:
    * the threshold sits below the customer file's raw bytes, so only the
    * CBO estimate of the filtered dimension (NDV equality × min/max range
    * interpolation ≈ 5%) clears it — PlanShapeSpec asserts the flip both
    * ways (stats → BroadcastHashJoin, no stats → sort-merge only). The
    * oracle is the plain join aggregate: stats change the plan, never the
    * rows. See catalog/Cbo.scala for the full posture. */
  val qLayoutCbo: Q = (s, dir) => {
    val c = graft.catalog.Cbo.session(s, dir)
    c.sql(graft.catalog.Cbo.joinSql(dir))
  }

  /** CBO EQUI-HEIGHT HISTOGRAMS (r18) — the stats increment after
    * min/max/NDV: a range predicate on a SKEWED column (sk_val =
    * c_acctbal⁴, staged once) is misestimated ~1800× by uniform
    * interpolation and estimated right by the ANALYZE-time equi-height
    * histogram (`spark.sql.statistics.histogram.enabled`) — flipping a
    * broadcast the cluster cannot afford (the 18%-of-rows build side
    * would ship to every executor). The graded run plans against the
    * histogram-analyzed table; PlanShapeSpec asserts the flip both ways
    * against the histogram-free twin of the SAME file; the oracle is the
    * plain join aggregate — stats change the plan, never the rows. See
    * catalog/Cbo.scala. */
  val qLayoutCboHist: Q = (s, dir) => {
    val c = graft.catalog.Cbo.histSession(s, dir)
    c.sql(graft.catalog.Cbo.histJoinSql(dir))
  }

  /** INCREMENTAL HISTOGRAM MAINTENANCE (r19 — catalog/Cbo.incrSession):
    * q_layout_cbo_hist's selectivity quality kept alive on a table that
    * APPENDS: the base slice gets the one-and-only full ANALYZE; each
    * arriving batch is analyzed ALONE (O(batch), the production ANALYZE
    * code path on a side table) and its stats FOLD into the standing
    * catalog stats — exact row/size/null addition, min/max envelope,
    * capped-sum NDV, and a mergeable equi-height histogram re-binned from
    * the combined piecewise-uniform CDF (bounded error: only split source
    * bins contribute, under the same uniformity assumption estimation
    * itself makes). After two appends the skewed-predicate broadcast
    * decision must match what a full re-ANALYZE would decide —
    * PlanShapeSpec asserts the flip both ways against the histogram-free
    * twin maintained through the same merge path — and the rows are
    * exact: the oracle recomputes the join over the full customer set
    * (base ∪ both batches). At 100 TB this is what keeps histogram-grade
    * estimates on a table ingesting every few minutes without paying a
    * full stats re-collect per tick. */
  val qLayoutCboIncr: Q = (s, dir) => {
    val c = graft.catalog.Cbo.incrSession(s, dir)
    c.sql(graft.catalog.Cbo.incrJoinSql(dir))
  }

  /** DELETION VECTORS graded end-to-end (r17) — merge-on-read positional
    * delete (Layout.deleteManifestedDV / dvRead, the Delta DV / Iceberg
    * positional-delete shape): H1 1997 deleted by recording row POSITIONS
    * in a version-addressed DV artifact with ZERO data files rewritten
    * (fixture-certified byte identity + exact position count). The graded
    * read plans a range spanning the delete hole and anti-joins the
    * vectors out at read time; the hash match against the
    * predicate-reapplied oracle proves the MOR path is exact. At 100 TB
    * this turns a GDPR delete from terabytes of copy-on-write flank
    * rewrites into kilobytes of positions; ManifestSpec pins zero file
    * churn, pre-delete time travel, and compaction folding the vectors
    * away. */
  val qLayoutDv: Q = (s, dir) => {
    val staged = stagedManifestDvLayout(s, dir)
    val lo = lit("1996-07-01").cast("timestamp")
    val hi = lit("1998-07-01").cast("timestamp")
    graft.sources.Layout.dvRead(s, staged, lo, hi)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("l_returnflag")
  }

  /** TABLE CHECK CONSTRAINTS graded end-to-end (r17) — Delta's ALTER
    * TABLE ADD CONSTRAINT CHECK semantics on the manifested layout
    * (Layout.appendManifestedChecked): a violating append is rejected
    * ATOMICALLY before any byte stages (fixture-certified: exception
    * thrown, snapshot version unmoved, zero orphans), a clean append
    * commits normally. The graded read plans the full span; the hash
    * match against the oracle (the rejected batch's predicate excluded)
    * proves the quality gate held at the storage boundary — no negated
    * quantity ever entered the table. Validation cost is one map-side-
    * combined aggregate over the BATCH, never the table. */
  val qLayoutConstraint: Q = (s, dir) => {
    val staged = stagedManifestConstraintLayout(s, dir)
    val lo = lit("1900-01-01").cast("timestamp")
    val hi = lit("2100-01-01").cast("timestamp")
    graft.sources.Layout.manifestPrunedRead(s, staged, lo, hi)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"),
        dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** TWO-DIMENSIONAL DATA SKIPPING graded end-to-end (r17) — the read-side
    * payoff of Hilbert clustering (Layout.writeManifested2D /
    * manifestPrunedRead2D): the layout is hilbert-clustered on
    * (l_partkey, l_suppkey) and its manifest records BOTH columns'
    * per-file envelopes, so a 2-D box predicate prunes files in both
    * dimensions at planning time — the query shape a single-column sort
    * can never skip for. The graded read plans a box covering ~1/16 of
    * each key domain, re-applies the predicate, and aggregates; the
    * oracle is the plain box aggregate. LayoutSkewSpec pins the pruning
    * itself: strict file subset, soundness (skipped files hold zero
    * in-box rows), and fewer files opened than the z-order twin across a
    * box sweep. */
  val qLayoutSkipping: Q = (s, dir) => {
    val staged = staged2DManifestLayout(s, dir)
    val bounds = Tables.lineitem(s, dir)
      .agg(max(col("l_partkey")).as("pk_max"),
        max(col("l_suppkey")).as("sk_max")).head()
    val (pkHi, skHi) = (bounds.getLong(0), bounds.getLong(1))
    // A deterministic interior box: [1/4, 1/2) of each key domain.
    val (aLo, aHi) = (pkHi / 4, pkHi / 2)
    val (bLo, bHi) = (skHi / 4, skHi / 2)
    graft.sources.Layout.manifestPrunedRead2D(s, staged,
        lit(aLo), lit(aHi), lit(bLo), lit(bHi))
      .filter(col("l_partkey") >= aLo && col("l_partkey") <= aHi &&
              col("l_suppkey") >= bLo && col("l_suppkey") <= bHi)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("l_returnflag")
  }

  /** PER-FILE BLOOM-FILTER INDEX graded end-to-end (r17) — the Delta
    * `bloomFilterIndex` shape (Layout.buildBloomIndex / bloomPrunedRead):
    * the layout is clustered by l_shipdate, so every file's l_orderkey
    * min/max envelope spans nearly the whole key domain — range skipping
    * is useless for point lookups on the high-cardinality key. The bloom
    * sidecar (2048 words × 4 hashes per file, built in ONE map-side-
    * combined aggregation) prunes at PLANNING time instead: a key's 4
    * probe bits are checked against each file's words, and only files
    * that might contain a probe are read. Probes are data-derived
    * deterministically (min key, max key, the largest key ≤ the domain
    * midpoint, plus max+1 — a guaranteed-absent key exercising the
    * negative path). The graded read re-applies the IN predicate on the
    * kept files (false positives are the index's contract, not the
    * reader's risk); the hash match against the plain-IN oracle proves
    * pruning never dropped a probe row. R17OpsSpec pins the pruning
    * itself: strict file subset kept, and every skipped file holds ZERO
    * probe rows. At 100 TB this is the needle-in-haystack lookup path:
    * O(files) driver-side bit checks instead of a full-key-domain scan. */
  val qLayoutBloomIndex: Q = (s, dir) => {
    val staged = stagedBloomLayout(s, dir)
    val b = Tables.lineitem(s, dir)
      .agg(min(col("l_orderkey")).as("k_min"), max(col("l_orderkey")).as("k_max"))
      .head()
    val (kMin, kMax) = (b.getLong(0), b.getLong(1))
    val kMid = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") <= (kMin + kMax) / 2)
      .agg(max(col("l_orderkey"))).head().getLong(0)
    val present = Seq(kMin, kMid, kMax).distinct
    val probes = present :+ (kMax + 1) // absent key: the negative path
    graft.sources.Layout.bloomPrunedRead(s, staged, probes)
      .filter(col("l_orderkey").isin(probes: _*))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("l_orderkey")
  }

  /** WRITE-AUDIT-PUBLISH graded end-to-end (r17) — Iceberg's WAP pattern
    * (Layout.wapStage / wapRefRead / wapBranchRead / wapPublish /
    * wapAbort): a batch lands on a BRANCH (data files staged, the commit
    * part parked under refs/ — durable and queryable, invisible to every
    * main read), an AUDIT gates it, and only then does PUBLISH move the
    * parked part through the same OCC version rename as any commit —
    * atomic visibility, zero data bytes moved. The staged fixture runs
    * the full drama: a BAD batch (negated quantities) stages, fails its
    * audit on the O(batch) ref read, and ABORTS — certified: version
    * unmoved, zero orphans after cleanup, main row count unchanged; then
    * the GOOD batch stages, is certified invisible on main while fully
    * visible on the branch, passes audit, and publishes at exactly
    * version+1. The graded read plans the full span from the final
    * manifest; its hash match against the whole-table oracle proves the
    * published table is exactly base ∪ good batch — the bad batch never
    * leaked, the good one never tore. At 100 TB this is how ingest ships
    * without serving half-audited data. */
  val qLayoutWap: Q = (s, dir) => {
    val staged = stagedWapLayout(s, dir)
    val lo = lit("1900-01-01").cast("timestamp")
    val hi = lit("2100-01-01").cast("timestamp")
    graft.sources.Layout.manifestPrunedRead(s, staged, lo, hi)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"),
        dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** INCREMENTAL TABLE STATISTICS (r18 batch) — the mergeable-ANALYZE
    * story: every commit already records per-file partials in the
    * manifest (n_rows, min_v, max_v — written once when the file was
    * created), so table-level statistics come from MERGING the live
    * manifest rows (Σn, min of mins, max of maxs) in O(files) — never
    * re-scanning the table the way q_layout_analyze's from-scratch pass
    * does. The graded read merges over the two-generation
    * build-then-append layout (two manifest parts — stats accreted across
    * commits); the hash match against the from-scratch oracle proves the
    * partials compose exactly. At 100 TB this is the difference between
    * ANALYZE costing a table scan per tick and costing a manifest read;
    * exact-NDV is the one statistic this cannot merge (q_agg_approx_
    * distinct's mergeable HLL is that path). */
  val qLayoutStatsMerge: Q = (s, dir) => {
    val staged = stagedManifestAppendLayout(s, dir)
    val man = s.read.parquet(s"$staged/manifest")
    val live = man.filter(col("op") === "add")
      .join(man.filter(col("op") === "remove").select(col("file_path")),
        Seq("file_path"), "left_anti")
    live.agg(
      sum(col("n_rows")).as("n_rows"),
      // n_commits is structurally determined by the fixture (build commit
      // v0 + append commit v1); the oracle pins it as a literal. The file
      // count is partitioner-dependent and is pinned by R17OpsSpec against
      // the on-disk listing instead.
      countDistinct(col("commit_ver")).as("n_commits"),
      unix_micros(min(col("min_v")).cast("timestamp")).as("min_us"),
      unix_micros(max(col("max_v")).cast("timestamp")).as("max_us"))
  }

  /** SMA FORECAST BACKTEST (r18 batch) — the simplest honest member of
    * the time-series family (beside anomaly/drift/decay): the daily value
    * series, each day forecast by the trailing 7-day mean, absolute error
    * per day, and the global MAE. Determinism: the trailing sum runs
    * through Det.dsumOver's exact decimal window (window engines differ
    * in partial-sum order — Spark accumulates in frame order, DuckDB uses
    * segment trees), and the MAE is a decimal window sum over ROUNDED
    * errors. Scale shape: the corpus pays ONE map-side-combined day
    * aggregation; every window runs over the O(days) series. */
  val qEventsForecast: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(dsum(col("value")).as("v"))
    val wTrail = Window.orderBy(col("day")).rowsBetween(-7, -1)
    val forecast = graft.functions.Det.dsumOver(col("v"), wTrail, 6) / 7.0
    daily
      .withColumn("n_prev", count(col("v")).over(wTrail))
      .withColumn("forecast", round(forecast, 6))
      .withColumn("abs_err", round(abs(col("v") - col("forecast")), 6))
      .filter(col("n_prev") === 7)
      .withColumn("mae", round(graft.functions.Det.dsumOver(col("abs_err"),
        Window.partitionBy(), scale = 6) /
        count(lit(1)).over(Window.partitionBy()).cast("double"), 6))
      .select(col("day"), col("v"), col("forecast"), col("abs_err"), col("mae"))
      .orderBy("day")
  }

  /** CHANGE-POINT DETECTION (r18 batch) [pub: Pettitt 1979 / Page's CUSUM
    * family — the cumulative-deviation form]: on the daily value series,
    * the statistic dev_t = |S_t·N − t·T| (S = prefix sum, T = total — the
    * rank-free CUSUM deviation, cross-multiplied so it stays EXACT
    * integer arithmetic in cents; a float cumsum could reorder) peaks at
    * the most likely mean-shift point; the argmax day is flagged (ties →
    * earliest). Scale shape: the corpus pays ONE map-side-combined day
    * aggregation; the prefix/total windows and the argmax run over the
    * O(days) series. dev is emitted as double (exact below 2⁵³ — at
    * larger spans the DECIMAL(38,0) column itself is the output). */
  val qEventsChangepoint: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = Tables.events(s, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(round(dsum(col("value")) * 100).cast("long").as("v_cents"))
    val wOrd = Window.orderBy(col("day"))
    val wAll = Window.partitionBy()
    val withIdx = daily
      .withColumn("t", row_number().over(wOrd).cast("long"))
      .withColumn("s_t", sum(col("v_cents").cast(dec))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n_days", count(lit(1)).over(wAll))
      .withColumn("total", sum(col("v_cents").cast(dec)).over(wAll))
    val dev = abs(col("s_t") * col("n_days").cast(dec) -
      col("t").cast(dec) * col("total"))
    val flagged = withIdx.withColumn("dev", dev)
      .withColumn("best",
        row_number().over(Window.orderBy(col("dev").desc, col("day"))))
    flagged.select(col("day"), col("t"), col("v_cents"),
        col("dev").cast("double").as("dev"),
        (col("best") === 1).cast("long").as("is_changepoint"))
      .orderBy("day")
  }

  /** PARTITION-SPEC EVOLUTION graded end-to-end (r18 batch) — Iceberg's
    * evolve-the-partitioning story (Layout.writeSpecEpoch / specPlan /
    * specPrunedRead): epoch 0 (orders before 1997) is hive-partitioned by
    * YEAR, epoch 1 (the rest) by YEAR/MONTH — the grain changed without
    * rewriting a byte of old data, and a date-range read prunes EACH
    * epoch by its own grain (years intersecting the range on the coarse
    * spec, exact months on the fine one). The staged fixture certifies
    * strict pruning in both epochs plus soundness (skipped directories
    * hold zero in-range rows); the graded read spans the spec boundary,
    * re-applies the row predicate (boundary partitions hold out-of-range
    * days), and hash-matches the plain filtered oracle. At 100 TB this is
    * how a table migrates from daily to hourly partitioning mid-life
    * without a rewrite. */
  val qLayoutPartitionEvolve: Q = (s, dir) => {
    val staged = stagedSpecEvolveLayout(s, dir)
    val lo = lit("1996-06-01").cast("timestamp")
    val hi = lit("1998-03-01").cast("timestamp")
    graft.sources.Layout.specPrunedRead(s, staged, 199606, 199802)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** COLUMN-MAPPING SCHEMA EVOLUTION graded end-to-end (r17) — RENAME
    * COLUMN as a metadata-only commit (Layout.renameColumn / mappedRead,
    * the Delta/Iceberg column-mapping shape): l_extendedprice became
    * l_price at v1 with ZERO data bytes rewritten (fixture-certified
    * byte-identity), and the graded read resolves the NEW logical name
    * over the unchanged physical files by replaying the manifest's rename
    * rows. The oracle reads the renamed projection straight from the
    * source parquet — the hash match proves the mapping is pure
    * projection metadata. ManifestSpec additionally pins the versioned
    * half: a time-travel read BELOW the rename version still serves the
    * OLD name. */
  val qLayoutRename: Q = (s, dir) => {
    val staged = stagedManifestRenameLayout(s, dir)
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1997-01-01").cast("timestamp")
    graft.sources.Layout.mappedRead(s, staged, lo, hi)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_price")).as("revenue"))
      .orderBy("l_returnflag")
  }

  /** OPTIMISTIC-CONCURRENCY COMMIT VALIDATION graded end-to-end (r17) —
    * Delta/Iceberg conflict detection at the version rename: the staged
    * fixture races two pairs of copy-on-write deletes (disjoint pair:
    * both commit, the loser validating-and-retrying; conflicting pair:
    * the loser THROWS CommitConflictException, cleans its staged adds,
    * re-plans, and commits) — see [[stagedManifestConcurrentLayout]] for
    * the full certificate. The graded read plans the whole span from the
    * final manifest; the hash match against the oracle with every delete
    * predicate re-applied proves the race resolved to the serial
    * execution — no lost update, no rows resurrected from a stale staged
    * rewrite. */
  val qLayoutConcurrent: Q = (s, dir) => {
    val staged = stagedManifestConcurrentLayout(s, dir)
    // Full-span read (this testdata's shipdates run 1995..2001): every
    // live file participates, so the hash covers the whole serial state.
    val lo = lit("1990-01-01").cast("timestamp")
    val hi = lit("2010-01-01").cast("timestamp")
    graft.sources.Layout.manifestPrunedRead(s, staged, lo, hi)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("l_returnflag")
  }

  /** TABLE STATISTICS COLLECTION (r16) — ANALYZE TABLE ... COMPUTE
    * STATISTICS FOR COLUMNS, the stats pass every cost-based optimizer
    * feeds on (row counts, per-column null counts, exact NDV, min/max):
    * six lineitem columns profiled in ONE corpus pass — a single
    * aggregate carrying all six count-distincts (Spark executes the
    * multi-distinct via ONE scan + an Expand, factor 6 — the honest
    * ANALYZE cost), then the per-column rows unpivot from the single
    * aggregated row (1-row frame, no rescans). Min/max are emitted in
    * canonical BIGINT encodings (keys/quantity as-is, price as cents,
    * shipdate as epoch micros) so no engine-specific double/timestamp
    * rendering touches the hash. At 100 TB the exact-NDV Expand is the
    * documented price of exactness; the approximate path is
    * q_agg_approx_distinct's HLL — the trade every ANALYZE implementation
    * offers. */
  val qLayoutAnalyze: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val specs = Seq(
      ("l_orderkey", col("l_orderkey")),
      ("l_partkey", col("l_partkey")),
      ("l_suppkey", col("l_suppkey")),
      ("l_quantity", col("l_quantity").cast("long")),
      ("l_price_cents", round(col("l_extendedprice") * 100).cast("long")),
      ("l_shipdate_us", unix_micros(col("l_shipdate").cast("timestamp"))))
    val aggs = count(lit(1)).as("n_rows") +: specs.flatMap { case (n, c) =>
      Seq(count(c).as(s"nn_$n"), countDistinct(c).as(s"ndv_$n"),
        min(c).cast("long").as(s"min_$n"), max(c).cast("long").as(s"max_$n"))
    }
    val one = li.agg(aggs.head, aggs.tail: _*)
    // Unpivot with ONE stack over the single aggregated row — a per-column
    // union of selects re-plans (and re-runs) the aggregate once per
    // branch (measured 12 shuffles); stack keeps it at the one aggregate.
    val stackExpr = specs.map { case (n, _) =>
      s"'$n', nn_$n, ndv_$n, min_$n, max_$n"
    }.mkString(s"stack(${specs.size}, ", ", ", ")")
    one.select(col("n_rows"),
        expr(s"$stackExpr AS (column_name, n_nonnull, ndv, min_v, max_v)"))
      .select(col("column_name"), col("n_rows"), col("n_nonnull"),
        col("ndv"), col("min_v"), col("max_v"))
      .orderBy("column_name")
  }

  /** CDC MERGE / UPSERT graded end-to-end (operators/Merge.applyCdc): a
    * deterministic changeset — two-version updates (latest must win),
    * deletes, and inserts of new keys, all derived from the customer table
    * itself so the oracle can rebuild it — is folded into the customer
    * snapshot. Exercises every MERGE INTO arm: update-latest-wins,
    * delete-existing, insert-absent. Arithmetic is raw IEEE double adds
    * (no rounding, no aggregation), so both engines produce identical
    * bits. Scale posture is applyCdc's: the changeset reduces to
    * latest-per-key on its own (small) shuffle, then joins the base under
    * a gated broadcast — the snapshot itself is never shuffled below the
    * gate, and a bucketed base skips the above-gate exchange too. */
  val qMergeUpsert: Q = (s, dir) => {
    val cust = Tables.customer(s, dir)
    graft.operators.Merge.applyCdc(cust, mergeChangeset(cust),
        "c_custkey", "seq", "op")
      .orderBy("c_custkey")
  }

  /** The deterministic MERGE changeset both q_merge_upsert and q_merge_cdf
    * fold — two-version updates (latest must win), deletes, inserts of new
    * keys — derived from the customer table itself so the oracle can
    * rebuild it in SQL. */
  private[graft] def mergeChangeset(cust: DataFrame): DataFrame = {
    val mod = col("c_custkey") % 10
    val nullPayload = Seq(
      lit(null).cast("string").as("c_name"), lit(null).cast("int").as("c_nationkey"),
      lit(null).cast("double").as("c_acctbal"), lit(null).cast("string").as("c_mktsegment"))
    val upd1 = cust.filter(mod.isin(1, 2))
      .select(col("c_custkey"), lit(1).as("seq"), lit("U").as("op"),
        col("c_name"), col("c_nationkey"),
        (col("c_acctbal") + 100.0).as("c_acctbal"), col("c_mktsegment"))
    val upd2 = cust.filter(mod === 1) // supersedes upd1 for these keys
      .select(col("c_custkey"), lit(2).as("seq"), lit("U").as("op"),
        col("c_name"), col("c_nationkey"),
        (col("c_acctbal") + 300.0).as("c_acctbal"), col("c_mktsegment"))
    val dels = cust.filter(mod === 7)
      .select(col("c_custkey") +: lit(1).as("seq") +: lit("D").as("op") +:
        nullPayload: _*)
    val ins = cust.filter(mod === 5)
      .select((col("c_custkey") + lit(10000000L)).as("c_custkey"),
        lit(1).as("seq"), lit("U").as("op"),
        concat(lit("ins_"), col("c_custkey").cast("string")).as("c_name"),
        col("c_nationkey"), lit(0.0).as("c_acctbal"), col("c_mktsegment"))
    upd1.unionByName(upd2).unionByName(dels).unionByName(ins)
  }

  /** CHANGE DATA FEED (operators/Merge.changeFeed) — the row-level diff
    * q_merge_upsert's fold applies, emitted as Delta's table_changes /
    * Debezium's envelope: one row per effective change with change_type ∈
    * insert / update / delete and the full pre-/post-image (`old_*` /
    * `new_*`). Same deterministic changeset as q_merge_upsert, so the
    * oracle classifies the SAME latest-per-key reduction against the base
    * with joins. A delete on an absent key emits nothing; latest-wins
    * means at most one feed row per key (order by key is total). At 100 TB
    * the feed is what downstream incremental consumers subscribe to — the
    * alternative, diffing two corpus snapshots, is a full-table join per
    * tick. Plan posture is applyCdc's: feed output is changeset-sized and
    * the base snapshot is never shuffled below the broadcast gate
    * (MergeSpec pins the composed zero-base-exchange property). */
  val qMergeCdf: Q = (s, dir) => {
    val cust = Tables.customer(s, dir)
    graft.operators.Merge.changeFeed(cust, mergeChangeset(cust),
        "c_custkey", "seq", "op")
      .orderBy("c_custkey")
  }

  /** INCREMENTAL VIEW MAINTENANCE from the change feed — what q_merge_cdf's
    * feed exists to drive: a standing per-segment rollup (count + exact
    * decimal partial sum, the dsumPartial/dsumMerge mergeable-aggregate
    * pair q_agg_incremental stores) is maintained by folding in the feed's
    * DELTAS — each feed row contributes −old under its old segment and
    * +new under its new segment, so inserts add, deletes subtract, and an
    * update that MOVES segment naturally splits into two delta rows. The
    * maintained rollup must equal a from-scratch aggregate over the merged
    * snapshot — decimal addition is exact, so the oracle (recompute over
    * the merged table) hash-matches bit-for-bit, proving maintained ≡
    * recomputed. At 100 TB the base rollup is a stored artifact; the
    * per-tick cost is the changeset-sized delta aggregation plus a merge
    * into the segment-sized rollup — the corpus is never re-aggregated
    * (recomputing is the full-scan-per-tick this machinery deletes). */
  val qAggViewMaintain: Q = (s, dir) => {
    val cust = Tables.customer(s, dir)
    val feed = graft.operators.Merge.changeFeed(cust, mergeChangeset(cust),
      "c_custkey", "seq", "op")
    val base = cust.groupBy(col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Det.dsumPartial(col("c_acctbal")).as("sb"))
    val contrib = feed
      .filter(col("old_c_mktsegment").isNotNull)
      .select(col("old_c_mktsegment").as("seg"), lit(-1L).as("dn"),
        (-col("old_c_acctbal")).as("v"))
      .unionByName(feed.filter(col("change_type") =!= "delete")
        .select(col("new_c_mktsegment").as("seg"), lit(1L).as("dn"),
          col("new_c_acctbal").as("v")))
    val delta = contrib.groupBy(col("seg"))
      .agg(sum(col("dn")).as("dn"),
        graft.functions.Det.dsumPartial(col("v")).as("sd"))
    val zero = lit(0).cast("decimal(38,10)")
    val total = coalesce(col("sb"), zero) + coalesce(col("sd"), zero)
    base.join(delta, Seq("seg"), "full_outer")
      .select(col("seg").as("c_mktsegment"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_customers"),
        ((round(total, 2) * lit(100L)).cast("long").cast("double") / lit(100.0))
          .as("acctbal_total"))
      .filter(col("n_customers") > 0)
      .orderBy("c_mktsegment")
  }

  /** Per-customer rollup of the BASE orders (o_orderkey % 10 != 7 — the
    * rest arrive as q_join_view_maintain's ingest batch): custkey → (order
    * count, exact decimal revenue partial), staged once per corpus snapshot
    * and stored BUCKETED by custkey so the segment-move probe moves ONLY
    * the move set ([[stagedCorpusLabels]]'s layout argument applied to the
    * join-view's supporting aggregate). This is the index that makes
    * dimension-side maintenance O(Δ): without it, re-attributing a moved
    * customer's history means re-scanning the fact corpus. */
  def stagedCustOrderRollup(s: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^A-Za-z0-9]", "_")
    val tbl = s"graft_cust_order_rollup_$key"
    val staged = Tables.stagedFixture(s, s"$dir/orders.parquet",
      "cust-order-rollup", dir, "v1") { d =>
      graft.sources.Layout.writeBucketed(
        Tables.orders(s, dir).filter(col("o_orderkey") % 10 =!= 7)
          .groupBy(col("o_custkey").as("cust"))
          .agg(count(lit(1)).as("n"),
            graft.functions.Det.dsumPartial(col("o_totalprice")).as("rev")),
        tbl, s"$d/rollup", Seq("cust"), 8)
    }
    graft.sources.Layout.registerBucketedIfMissing(
      s, tbl, s"$staged/rollup", Seq("cust"), 8)
    s.table(tbl)
  }

  /** The standing JOIN-view rollup (base orders ⋈ customer → per-segment
    * order count + exact decimal revenue partial), staged once per corpus
    * snapshot — the artifact q_join_view_maintain folds deltas into. */
  def stagedSegOrderView(s: SparkSession, dir: String): DataFrame = {
    // The view joins TWO sources; stagedFixture's signature covers only the
    // primary (orders), so customer's size+mtime is folded into the version
    // string — regenerating customer alone now restages instead of silently
    // serving a stale base view (ADVICE r14).
    val custAttrs = java.nio.file.Files.readAttributes(
      java.nio.file.Paths.get(s"$dir/customer.parquet"),
      classOf[java.nio.file.attribute.BasicFileAttributes])
    val ver = s"v2-${custAttrs.size}-${custAttrs.lastModifiedTime.toMillis}"
    val staged = Tables.stagedFixture(s, s"$dir/orders.parquet",
      "seg-order-view", dir, ver) { d =>
      Tables.orders(s, dir).filter(col("o_orderkey") % 10 =!= 7)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n"),
          graft.functions.Det.dsumPartial(col("o_totalprice")).as("rev"))
        .coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$d/view")
    }
    s.read.parquet(s"$staged/view")
  }

  /** INCREMENTAL JOIN-VIEW MAINTENANCE — q_agg_view_maintain's law applied
    * to a view over a JOIN (revenue per customer segment = orders ⋈
    * customer, aggregated), where deltas arrive on BOTH sides: a batch of
    * new orders (fact delta, o_orderkey % 10 == 7) AND a set of customer
    * segment reassignments (dimension delta, c_custkey % 10 == 2 →
    * 'REASSIGNED'). The delta-join algebra, folded per side:
    *
    *  - fact delta: ΔO joins the dimension for each order's FINAL segment
    *    — ΔO is batch-sized and rides the gated broadcast, the dimension
    *    is never shuffled;
    *  - dimension delta: a moved customer shifts its ENTIRE base order
    *    history old→new segment. Re-deriving that history from the fact
    *    corpus would be the full-join-per-tick this machinery deletes —
    *    instead the moves PROBE the bucketed per-customer rollup
    *    ([[stagedCustOrderRollup]]), so only the move set moves, and each
    *    probe hit becomes (−n, −rev) under the old segment and (+n, +rev)
    *    under the new one;
    *  - ΔO × ΔC overlap: an arriving order of a moved customer is counted
    *    once, under the final segment, because the fact-delta leg uses
    *    final segments and the move leg re-attributes only BASE history.
    *
    * All partials are exact decimals (dsumPartial/dsumMerge), so the
    * maintained view must hash-match the oracle's from-scratch recompute
    * over the merged state — maintained ≡ recomputed, the
    * q_agg_view_maintain grading move, now for a join view. Per-tick cost
    * at 100 TB: O(ΔO + ΔC + segments); the fact corpus is touched by
    * NOTHING (its aggregate lives in the two staged artifacts). */
  val qJoinViewMaintain: Q = (s, dir) => {
    val v0 = stagedSegOrderView(s, dir)
    val r0 = stagedCustOrderRollup(s, dir)
    val cust = Tables.customer(s, dir)
    val moves = cust.filter(col("c_custkey") % 10 === 2)
      .select(col("c_custkey").as("cust"), col("c_mktsegment").as("old_seg"))
    val movedBase = moves.join(r0, "cust")
    val moveAdj = movedBase
      .select(col("old_seg").as("seg"), (-col("n")).as("dn"), (-col("rev")).as("dv"))
      .unionByName(movedBase.select(lit("REASSIGNED").as("seg"),
        col("n").as("dn"), col("rev").as("dv")))
    val finalSeg = when(col("c_custkey") % 10 === 2, lit("REASSIGNED"))
      .otherwise(col("c_mktsegment"))
    val dContrib = Tables.orders(s, dir).filter(col("o_orderkey") % 10 === 7)
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(finalSeg.as("seg"), lit(1L).as("dn"),
        col("o_totalprice").cast("decimal(38,10)").as("dv"))
    val delta = moveAdj.unionByName(dContrib)
      .groupBy(col("seg"))
      .agg(sum(col("dn")).as("dn"), sum(col("dv")).as("dv"))
    val zero = lit(0).cast("decimal(38,10)")
    val total = coalesce(col("rev"), zero) + coalesce(col("dv"), zero)
    v0.join(delta, Seq("seg"), "full_outer")
      .select(col("seg").as("c_mktsegment"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_orders"),
        ((round(total, 2) * lit(100L)).cast("long").cast("double") / lit(100.0))
          .as("revenue"))
      .filter(col("n_orders") > 0)
      .orderBy("c_mktsegment")
  }

  /** TRANSPARENT MATERIALIZED-VIEW REWRITE (plans/RollupRewrite — the
    * engine's custom Catalyst `Rule[LogicalPlan]`): the graded query IS
    * the plain per-segment aggregate over customer, but with the
    * maintained rollup registered the optimizer serves it from the stored
    * artifact — the Aggregate node disappears and the plan reads
    * O(segments) rollup rows, never the corpus (PlanShapeSpec pins
    * rollup-scanned / corpus-not-scanned; a Filter or an unregistered
    * aggregate shape disables the rewrite). Correctness rests on the
    * q_agg_view_maintain law — the rollup stores exact decimal partials,
    * so substitution is bit-identical — which is why the DuckDB oracle is
    * simply the from-scratch aggregate. At 100 TB this is the serving
    * path of the incremental-maintenance family: ticks maintain the
    * rollup (q_agg_view_maintain / q_stream_view_maintain), and every
    * dashboard query over the registered shape pays O(groups). */
  val qAggRollupRewrite: Q = (s, dir) => {
    val rollup = stagedSegRollup(s, dir)
    graft.plans.RollupRewrite.register(graft.plans.RollupSpec(
      s"$dir/customer.parquet", "c_mktsegment", "c_acctbal", rollup))
    graft.plans.RollupRewrite.attach(s)
    Tables.customer(s, dir)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        dsum(col("c_acctbal")).as("acctbal_total"))
      .orderBy("c_mktsegment")
  }

  /** FILTER-CONTAINMENT MATERIALIZED-VIEW REWRITE — the dashboard query a
    * bare-scan matcher can't serve (the first real query has a WHERE
    * clause): a per-type aggregate over the day-partitioned events layout
    * WITH a day-range predicate. The registered rollup is DAY-GRAINED
    * (one exact partial row per (event_type, day) — the q_agg_incremental
    * artifact shape), so the custom Catalyst rule replays the predicate on
    * the rollup's day column and MERGES the surviving partials: the
    * Aggregate survives but runs over O(types × days) rollup rows; the
    * corpus is scanned by NOTHING (ExtensionsSpec pins rollup-scanned /
    * corpus-not-scanned, pass-through on residual predicates, and result
    * equality). Correct for ANY deterministic day-only predicate:
    * filter-rows-then-aggregate ≡ aggregate-per-day-then-filter-days-then-
    * merge, and the partials are exact decimals. The oracle recomputes
    * from scratch over the source with the equivalent ts range — the
    * from-scratch answer IS the claim. */
  val qAggRollupFilter: Q = (s, dir) => {
    val part = stagedEventsByDay(s, dir)
    val rollup = stagedEventsDayRollup(s, dir)
    graft.plans.RollupRewrite.register(graft.plans.RollupSpec(
      part, "event_type", "value", rollup,
      groupOut = "event_type", countOut = "n", sumOut = "sb",
      filterCol = Some("day"), filterOut = "day"))
    graft.plans.RollupRewrite.attach(s)
    graft.sources.Layout.readPartitioned(s, part)
      .filter(col("day") >= lit("2024-01-08") && col("day") < lit("2024-01-22"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
      .orderBy("event_type")
  }

  /** GRAIN-CONTAINMENT MATERIALIZED-VIEW REWRITE (r16) — the most common
    * dashboard rollup miss after WHERE clauses: a coarser-calendar-grain
    * aggregate (here ISO WEEK — the corpus spans one month, so week gives
    * a multi-row certificate; ExtensionsSpec pins month too) over the
    * day-partitioned events layout, served from the DAY-GRAINED rollup.
    * The grouping expression is a pure function of the grain column
    * (week = weekofyear(day)), so rows sharing a day always share a week
    * and the stored per-(type, day) partials re-aggregate exactly
    * (count → sum(n), exact decimal → sum(sb)) under the replayed
    * expression — the registered type dimension simply merges away. The
    * Aggregate survives but runs over O(types × days) rollup rows; the
    * corpus is scanned by NOTHING (ExtensionsSpec pins rollup-scanned /
    * corpus-not-scanned, mixed-grain pass-through, and result equality).
    * Correct for ANY deterministic subquery-free f(day); the oracle
    * recomputes the weekly aggregate from scratch over the source. */
  val qAggRollupGrain: Q = (s, dir) => {
    val part = stagedEventsByDay(s, dir)
    val rollup = stagedEventsDayRollup(s, dir)
    graft.plans.RollupRewrite.register(graft.plans.RollupSpec(
      part, "event_type", "value", rollup,
      groupOut = "event_type", countOut = "n", sumOut = "sb",
      filterCol = Some("day"), filterOut = "day"))
    graft.plans.RollupRewrite.attach(s)
    graft.sources.Layout.readPartitioned(s, part)
      .groupBy(weekofyear(col("day")).cast("long").as("week"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
      .orderBy("week")
  }

  /** JOIN-AWARE MATERIALIZED-VIEW REWRITE (r15) — the star-schema
    * dashboard query itself: revenue and order count per customer segment,
    * written as the plain orders ⋈ customer join-aggregate. With the
    * maintained JOIN-view rollup registered (the q_join_view_maintain
    * artifact family), the custom Catalyst rule deletes BOTH the Join and
    * the Aggregate: the plan reads O(segments) rollup rows; neither the
    * fact nor the dimension corpus is scanned (ExtensionsSpec pins
    * rollup-scanned / fact-not / dim-not, the residual-filter and wrong-
    * key guards, and result equality). The matcher stays conservative:
    * INNER equi-join on exactly the registered key pair, bare scans
    * modulo attr-only Projects and the IsNotNull(join key) filters
    * pushdown infers (no-ops under an inner equi-join), registered
    * aggregate shapes only. Exactness is the same decimal-partial law as
    * the other rewrites, so the oracle is the from-scratch join
    * aggregate. At 100 TB this is THE dashboard serving path: the nightly
    * tick maintains the join view incrementally (q_join_view_maintain);
    * every query over the registered shape pays O(groups), never the
    * fact⋈dim shuffle. */
  val qAggRollupJoin: Q = (s, dir) => {
    val rollup = stagedSegOrderViewFull(s, dir)
    graft.plans.RollupRewrite.registerJoin(graft.plans.JoinRollupSpec(
      s"$dir/orders.parquet", s"$dir/customer.parquet",
      "o_custkey", "c_custkey", "c_mktsegment", "o_totalprice", rollup))
    graft.plans.RollupRewrite.attach(s)
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("c_mktsegment")
  }

  /** The FULL orders ⋈ customer per-segment rollup q_agg_rollup_join
    * serves from (unlike [[stagedSegOrderView]]'s base-subset view, this
    * covers the whole fact table — it is what the maintenance tick keeps
    * current): one (seg, n, rev) row per segment with the exact decimal
    * revenue partial. Signature covers BOTH sources (the ADVICE r14
    * dual-source rule). */
  def stagedSegOrderViewFull(s: SparkSession, dir: String): String = {
    val custAttrs = java.nio.file.Files.readAttributes(
      java.nio.file.Paths.get(s"$dir/customer.parquet"),
      classOf[java.nio.file.attribute.BasicFileAttributes])
    val ver = s"v1-${custAttrs.size}-${custAttrs.lastModifiedTime.toMillis}"
    Tables.stagedFixture(s, s"$dir/orders.parquet",
      "seg-order-view-full", dir, ver) { d =>
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n"),
          graft.functions.Det.dsumPartial(col("o_totalprice")).as("rev"))
        .coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$d/view")
    } + "/view"
  }

  /** The maintained DAY-GRAINED partial rollup q_agg_rollup_filter serves
    * from — one (event_type, day) row with exact decimal partials, staged
    * once per events snapshot (in production: the table the incremental /
    * streaming maintenance keys keep current per tick). The day column
    * keeps the partition read-back type (DATE) so replayed predicates
    * type-check against the scan's. */
  def stagedEventsDayRollup(s: SparkSession, dir: String): String = {
    val part = stagedEventsByDay(s, dir)
    Tables.stagedFixture(s, s"$dir/events.parquet",
      "events-day-rollup", dir, "v1") { d =>
      graft.sources.Layout.readPartitioned(s, part)
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"),
          graft.functions.Det.dsumPartial(col("value")).as("sb"))
        .coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$d/rollup")
    } + "/rollup"
  }

  /** The maintained per-segment rollup q_agg_rollup_rewrite serves from —
    * ONE exact-decimal-partial row per segment, staged once per customer
    * snapshot (in production it is the table q_agg_view_maintain /
    * q_stream_view_maintain keep current per tick). */
  def stagedSegRollup(s: SparkSession, dir: String): String = {
    val staged = Tables.stagedFixture(s, s"$dir/customer.parquet",
      "customer-seg-rollup", dir, "v1") { d =>
      Tables.customer(s, dir)
        .groupBy(col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n"),
          graft.functions.Det.dsumPartial(col("c_acctbal")).as("sb"))
        .coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$d/rollup")
    }
    s"$staged/rollup"
  }

  /** SCD TYPE-2 dimension build (operators/Scd.buildType2): the customer
    * dimension's deterministic change history — initial load at seq 0,
    * updates at seq 1–2 (latest supersedes), deletes at seq 3, and a
    * close-reopen re-insert at seq 4 — expanded into version rows with
    * `[valid_from, valid_to)` seq intervals and an `is_current` flag.
    * History-keeping sibling of q_merge_upsert's latest-wins fold; the AS
    * OF join against facts is then an ordinary range predicate. One hash
    * shuffle of the change log by key + per-key windows — a dimension op,
    * never the fact corpus, with no global sort at any scale. Payload
    * arithmetic is raw IEEE adds, so both engines agree bit-for-bit. */
  /** Epoch-1 change history for the SCD-2 keys (q_scd2_snapshot builds the
    * dimension from it; q_scd2_merge folds epoch 2 into that dimension):
    * initial load at seq 0, updates at seq 1–2, deletes at seq 3, a
    * close-reopen re-insert at seq 4. */
  private def scd2LogEpoch1(cust: DataFrame): DataFrame = {
    val mod = col("c_custkey") % 10
    val init = cust.select(col("c_custkey"), lit(0).as("seq"),
      lit("U").as("op"), col("c_acctbal"), col("c_mktsegment"))
    val u1 = cust.filter(mod.isin(1, 2))
      .select(col("c_custkey"), lit(1).as("seq"), lit("U").as("op"),
        (col("c_acctbal") + 100.0).as("c_acctbal"), col("c_mktsegment"))
    val u2 = cust.filter(mod === 1)
      .select(col("c_custkey"), lit(2).as("seq"), lit("U").as("op"),
        (col("c_acctbal") + 300.0).as("c_acctbal"), col("c_mktsegment"))
    val d3 = cust.filter(mod === 7)
      .select(col("c_custkey"), lit(3).as("seq"), lit("D").as("op"),
        lit(null).cast("double").as("c_acctbal"),
        lit(null).cast("string").as("c_mktsegment"))
    val u4 = cust.filter(mod === 7 && col("c_custkey") % 3 === 1)
      .select(col("c_custkey"), lit(4).as("seq"), lit("U").as("op"),
        lit(0.0).as("c_acctbal"), col("c_mktsegment"))
    init.unionByName(u1).unionByName(u2).unionByName(d3).unionByName(u4)
  }

  /** Epoch-2 changeset (all seqs > every epoch-1 seq): updates that close
    * currently-open versions (seq 5 over mod 2/3), a delete of a key whose
    * current version epoch 2 itself opened (seq 6 over a mod-2 slice), a
    * re-open of a key epoch 1 deleted and never revived (mod 7 ∩ %3==2),
    * and brand-new keys the base has never seen. */
  private def scd2LogEpoch2(cust: DataFrame): DataFrame = {
    val mod = col("c_custkey") % 10
    val u5 = cust.filter(mod.isin(2, 3))
      .select(col("c_custkey"), lit(5).as("seq"), lit("U").as("op"),
        (col("c_acctbal") + 500.0).as("c_acctbal"), col("c_mktsegment"))
    val d6 = cust.filter(mod === 2 && col("c_custkey") % 3 === 0)
      .select(col("c_custkey"), lit(6).as("seq"), lit("D").as("op"),
        lit(null).cast("double").as("c_acctbal"),
        lit(null).cast("string").as("c_mktsegment"))
    val r5 = cust.filter(mod === 7 && col("c_custkey") % 3 === 2)
      .select(col("c_custkey"), lit(5).as("seq"), lit("U").as("op"),
        lit(0.5).as("c_acctbal"), col("c_mktsegment"))
    val ins = cust.filter(mod === 4)
      .select((col("c_custkey") + lit(20000000L)).as("c_custkey"),
        lit(5).as("seq"), lit("U").as("op"),
        lit(0.0).as("c_acctbal"), col("c_mktsegment"))
    u5.unionByName(d6).unionByName(r5).unionByName(ins)
  }

  val qScd2Snapshot: Q = (s, dir) =>
    graft.operators.Scd.buildType2(
        scd2LogEpoch1(Tables.customer(s, dir)), "c_custkey", "seq", "op")
      .orderBy("c_custkey", "valid_from")

  /** INCREMENTAL SCD-2 REFRESH (operators/Scd.refreshType2): fold the
    * epoch-2 changeset into the Type-2 dimension built from epoch 1 —
    * close the open version of each changed key at the epoch's first seq,
    * append the epoch's own version rows — touching the dimension only
    * through a gated-broadcast left join. The per-tick maintenance op;
    * q_scd2_snapshot is the one-time backfill sibling. The oracle rebuilds
    * from scratch over the CONCATENATED log with the proven LEAD window,
    * so the hash match proves refresh-per-tick == backfill. Plan: the
    * epoch-1 build pays the backfill's one log shuffle; the refresh itself
    * adds one changeset-sized window + one changeset-sized aggregation +
    * a broadcast join — the dimension is never re-shuffled and never
    * re-windowed, at any scale (ScdSpec + PlanShapeSpec budget). */
  val qScd2Merge: Q = (s, dir) => {
    val cust = Tables.customer(s, dir)
    val dim = graft.operators.Scd.buildType2(
      scd2LogEpoch1(cust), "c_custkey", "seq", "op")
    graft.operators.Scd.refreshType2(
        dim, scd2LogEpoch2(cust), "c_custkey", "seq", "op")
      .orderBy("c_custkey", "valid_from")
  }

  /** AS-OF consumption of the Type-2 dimension — the promise in
    * q_scd2_snapshot's doc ("AS-OF fact joins become a range predicate
    * against these intervals") made a graded key, completing the SCD
    * family: build (q_scd2_snapshot) → refresh (q_scd2_merge) → consume.
    * Each order reads the customer dimension AS OF its own derived epoch
    * (`o_orderkey % 7` spans seqs 0–6: before, between, and after every
    * change), keyed by an EQUI-join on c_custkey with the
    * `[valid_from, valid_to)` interval as a residual filter — never a
    * broadcast-nested-loop: the hash join runs on the key and the residual
    * touches the ≤5 version rows each key matched. Orders whose customer
    * is deleted AS OF their epoch match no interval and drop (the inner
    * join IS the point-in-time existence check). The dimension broadcasts
    * under the source-size gate; above it the join co-partitions on the
    * key — one fact-side shuffle at most, at any scale. */
  val qScd2Asof: Q = (s, dir) => {
    val cust = Tables.customer(s, dir)
    val dim = graft.operators.Scd.buildType2(
      scd2LogEpoch1(cust).unionByName(scd2LogEpoch2(cust)),
      "c_custkey", "seq", "op")
    val facts = Tables.orders(s, dir).select(
      col("o_custkey"), (col("o_orderkey") % 7).cast("int").as("as_of"))
    facts.join(graft.operators.ScaleOps.broadcastIfSourceSmall(dim, cust),
        col("o_custkey") === col("c_custkey") &&
          col("valid_from") <= col("as_of") &&
          (col("valid_to").isNull || col("as_of") < col("valid_to")))
      .groupBy(col("as_of"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("c_acctbal")).as("bal"))
      .orderBy("as_of", "c_mktsegment")
  }

  /** PIVOT (long → wide): per-user event counts spread across one column
    * per event type. The value list is EXPLICIT — the schema is static, no
    * distinct-values pre-pass job runs, and the plan is an ordinary
    * single-shuffle hash aggregation of CASE-filtered counts (exactly what
    * the dialect-portable oracle spells out). */
  val qPivotEvents: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_id")

  /** FUNNEL / PATH analysis — the product-analytics sequence operator
    * (every event-analytics engine ships a window_funnel): per user, the
    * strict click → view → purchase progression where each step must land
    * STRICTLY AFTER the previous one and within a 24 h per-step window;
    * the first step anchors at the user's EARLIEST click. Depth follows
    * the real window_funnel contract — 3 whenever ANY qualifying view
    * leads to a purchase inside its own window (max chain over paths, not
    * a greedy earliest-view walk, which under-reports when the earliest
    * view's window misses a purchase a later view would catch). Output
    * per funnel-entered user: depth (1–3) and the step timestamps of the
    * EARLIEST completing chain (falling back to the earliest qualifying
    * view when no chain completes), epoch-micros.
    *
    * ONE corpus shuffle (the per-user hash aggregate): each user's
    * candidate step times are gathered as micro arrays in the aggregation
    * — per-user-bounded state, the sessionize-family contract — and the
    * chain resolution is pure codegen'd array algebra (`filter`/`exists`/
    * `array_min` lambdas; order-insensitive, so no per-user sort), not a
    * join per step — a per-step conditional-join formulation would
    * shuffle the events table three times. Integer micros end-to-end, so
    * DuckDB's lambda twin (`list_filter`/`list_min`/`len`) agrees
    * exactly. */
  val qFunnelSteps: Q = (s, dir) => {
    val H24 = 24L * 3600L * 1000000L
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "click", col("us"))).as("t1"),
        collect_list(when(col("event_type") === "view", col("us"))).as("vs"),
        collect_list(when(col("event_type") === "purchase", col("us"))).as("ps"))
      .filter(col("t1").isNotNull)
      .withColumn("vq", expr(s"filter(vs, v -> v > t1 AND v <= t1 + ${H24}L)"))
      // Earliest view that COMPLETES the chain (any purchase within its
      // window) — null when no chain completes.
      .withColumn("t2c", expr(
        s"array_min(filter(vq, v -> exists(ps, p -> p > v AND p <= v + ${H24}L)))"))
      .withColumn("t2", coalesce(col("t2c"), expr("array_min(vq)")))
      .withColumn("t3", expr(s"array_min(filter(ps, p -> p > t2c AND p <= t2c + ${H24}L))"))
      .select(col("user_id"),
        when(col("t3").isNotNull, 3L).when(col("t2").isNotNull, 2L)
          .otherwise(1L).as("depth"),
        col("t1"), col("t2"), col("t3"))
      .orderBy("user_id")
  }

  /** COHORT RETENTION — the second classic event-analytics operator
    * (beside [[qFunnelSteps]]'s funnel): users are cohorted by their FIRST
    * active day and the retention matrix counts, per (cohort day, day
    * offset), how many cohort members were active again `offset` days
    * later. Exact integer counts end-to-end — no float parity surface.
    *
    * ONE corpus-sized shuffle: the per-user hash aggregate gathers each
    * user's distinct active-day set (`collect_set` — per-user-bounded
    * state, the sessionize-family contract) from which the cohort day is
    * `array_min`; offsets explode from those per-user arrays, and because
    * (user, day) is unique by construction after the set-collect, the
    * matrix cell is a plain `count`, never a `countDistinct` re-shuffle
    * of raw events. The matrix aggregate and total-order sort move
    * (cohorts × offsets) rows — tiny at any corpus scale. */
  val qRetentionCohorts: Q = (s, dir) => {
    val byUser = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("user_id"))
      .agg(collect_set(col("day")).as("ds"))
      .select(col("user_id"), array_min(col("ds")).as("cohort_day"),
        explode(col("ds")).as("day"))
    byUser
      .groupBy(
        // String day: the driver's canonicalizer sees Spark DATE and
        // DuckDB DATE land as different pandas types (the q_agg_incremental
        // precedent) — a yyyy-MM-dd string is type-stable cross-engine.
        date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** BATCH SESSIONIZATION — the third classic event-analytics operator
    * (beside [[qFunnelSteps]] and [[qRetentionCohorts]]): each user's event
    * stream splits into sessions wherever the gap to the previous event
    * exceeds 30 minutes; output is one row per session with start/end,
    * event count, duration and the distinct event-type breadth. The
    * streaming twin is q_stream_session (session_window) — this is the
    * backfill/batch form every events warehouse also needs. Integer
    * microseconds end-to-end: no float parity surface at all. Boundary
    * semantics: a gap STRICTLY greater than 30 min splits here (and in
    * this key's oracle); the stateful streaming sessionizer
    * (Runtime.statefulSessions) splits at >= — each form matches its own
    * oracle, and the two agree everywhere except a gap of exactly 30:00.000000.
    *
    * ONE corpus-sized shuffle: the gap flag (`lag`) and the running session
    * index (cumulative sum of flags) are windows over the SAME
    * (user_id)/(us, event_id) partitioning-and-order, so Spark plans them
    * in one window stage; the per-session aggregate then groups by
    * (user_id, session_idx) — hash partitioning on user_id already
    * CLUSTERS those keys, so EnsureRequirements inserts no second exchange
    * (the distinct-type count re-keys by (user, session, type), again a
    * superset of user_id — still co-located). Per-user partitions stay
    * small at any corpus scale; only the final total-order sort of
    * session-level rows adds an exchange. */
  val qSessionizeGap: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val GapUs = 30L * 60L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_us").isNull || col("us") - col("prev_us") > GapUs, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("is_new")).over(wCum))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        min(col("us")).as("session_start"),
        max(col("us")).as("session_end"),
        count(lit(1)).as("n_events"),
        (max(col("us")) - min(col("us"))).as("duration_us"),
        countDistinct(col("event_type")).as("n_types"))
      .orderBy("user_id", "session_idx")
  }

  /** EVENT-SEQUENCE MINING (r17) — the top-20 within-session event-type
    * BIGRAMS (the path-analysis staple: "what do users do next?"):
    * sessions cut at the family's 30-minute gap (q_sessionize_gap's exact
    * boundary arithmetic), consecutive same-session events paired via one
    * lag window, pairs counted globally. The per-user window is the only
    * sort (events per user are bounded); the pair aggregation is
    * map-side-combined over a ≤ |event_types|² key space, and the top-20
    * is TakeOrderedAndProject — no global sort anywhere. Deterministic
    * total order: count DESC, then the pair lexicographically. */
  val qEventsSequence: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val GapUs = 30L * 60L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_us").isNotNull && col("us") - col("prev_us") <= GapUs)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("prev_type"), col("next_type"))
      .limit(20)
  }

  /** UNPIVOT (wide → long): lineitem's three measure columns melted into
    * (metric, value) rows, then aggregated per metric — `Dataset.unpivot`
    * (the Spark 4 melt operator; a Generator-free Expand, so partial
    * aggregation still applies map-side). */
  val qUnpivotMeasures: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_quantity").cast("double"),
        col("l_extendedprice").cast("double"), col("l_discount").cast("double"))
      .unpivot(Array(col("l_orderkey")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "value")
      .groupBy(col("metric"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
      .orderBy("metric")

  /** Correlated SCALAR SUBQUERY through the SQL surface: customers above
    * their own nation's average balance. Catalyst decorrelates this into
    * an aggregate + join (no per-row re-execution — the subquery runs
    * once per nation); the oracle is the identical SQL text. */
  val qSubqueryScalar: Q = (s, dir) => {
    Tables.customer(s, dir).createOrReplaceTempView("v_customer")
    s.sql(
      """SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS bal
         FROM v_customer c
         WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM v_customer c2
                            WHERE c2.c_nationkey = c.c_nationkey)
         ORDER BY c_custkey""")
  }

  /** BLOCKED fuzzy match (entity resolution's scale shape): customer-name
    * pairs at edit distance ≤ 2, candidates generated ONLY within
    * sorted-neighborhood blocks (`custkey div 10` — ten consecutive keys
    * per block). Block SIZE is constant, so candidate pairs grow LINEARLY
    * with the corpus — the property that makes blocked matching survive a
    * 100× scale-up, where a modulus block (same count, growing size) blows
    * up quadratically (measured: mod-100 ran 1.1 M levenshteins at sf0.1,
    * this runs 67 k). Missing cross-block matches is the DECLARED
    * semantics, exactly as in production sorted-neighborhood blocking. */
  val qFuzzyMatch: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
      .select(col("c_custkey").as("k"), col("c_name").as("nm"),
        expr("c_custkey div 10").as("blk"))
    c.as("a").join(c.as("b"),
        col("a.blk") === col("b.blk") && col("a.k") < col("b.k"))
      .select(levenshtein(col("a.nm"), col("b.nm")).as("dist"),
        col("a.k").as("ka"), col("b.k").as("kb"))
      .filter(col("dist") <= 2)
      .groupBy(col("dist"))
      .agg(count(lit(1)).as("n_pairs"), min(col("ka")).as("min_a"),
        max(col("kb")).as("max_b"))
      .orderBy("dist")
  }

  // ------------------------------------------------- projection / filters

  /** Projection with derived arithmetic + string concat (REF-P1 feature
    * construction). `round(x,2)` of a product of doubles is identical across
    * engines (IEEE 754 products, whole-cent inputs). */
  val qProjCompute: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")), 2).as("charge"),
        concat(col("l_returnflag"), lit("|"), col("l_linestatus")).as("flag"))
      .orderBy(liKey.map(col): _*)
      .limit(100)

  /** Conjunction / disjunction / BETWEEN / IN / LIKE / negation. All five
    * predicates push down to the parquet scan (PushedFilters). */
  val qFilterPred: Q = (s, dir) =>
    Tables.part(s, dir)
      .filter(
        col("p_type").like("PROMO%") &&
        col("p_size").between(10, 40) &&
        (col("p_size").isin(11, 13, 17, 19, 23) || col("p_retailprice") > 950.0) &&
        !(col("p_partkey") % 7 === 0))
      .select(col("p_partkey"), col("p_name"), col("p_type"), col("p_size"), col("p_retailprice"))
      .orderBy("p_partkey")

  /** NULL semantics — the testdata has zero natural NULLs (FIXTURES.md), so
    * NULLs are synthesized via a selective left join and `nullif`. */
  val qFilterNull: Q = (s, dir) => {
    val big = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 400000.0)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_big"))
    Tables.customer(s, dir)
      .join(big, col("c_custkey") === col("o_custkey"), "left")
      .select(
        col("c_custkey"),
        col("n_big").isNull.as("no_big_order"),
        coalesce(col("n_big"), lit(0L)).as("n_big_orders"),
        expr("nullif(c_mktsegment, 'BUILDING')").isNull.as("is_building"))
      .orderBy("c_custkey")
  }

  // ---------------------------------------------------------------- joins

  /** Equi inner join + aggregate + top-k. customer is the small side —
    * explicitly broadcast (at 100 TB customer is still ~GBs; AQE would demote
    * if it ever exceeded the threshold). */
  val qJoinInner: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    Tables.orders(s, dir)
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(dsum(col("o_totalprice")).as("spend"), count(lit(1)).as("n_orders"))
      .orderBy(col("spend").desc, col("c_custkey"))
      .limit(10)
  }

  /** 5-way star join: the fact table (lineitem) is joined once on its own
    * key; all dimension hops are broadcasts, so the only shuffle in the plan
    * is lineitem⋈orders (AQE may even broadcast orders at small SF). */
  val qJoinMultiway: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("r_name")

  /** Left outer join preserving customers with no qualifying orders
    * (count(col) skips NULLs; sum over empty group → NULL → coalesce 0). */
  val qJoinLeft: Q = (s, dir) => {
    val big = Tables.orders(s, dir).filter(col("o_totalprice") > 400000.0)
    Tables.customer(s, dir)
      .join(big, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(
        count(col("o_orderkey")).as("n_big"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("big_spend"))
      .orderBy("c_custkey")
  }

  /** FULL OUTER join — the reconciliation shape (the one outer-join class
    * the contract lacked): customers restricted to a deterministic subset
    * (custkey % 3 != 0, so real unmatched rows exist on BOTH sides) FULL
    * OUTER the per-customer order rollup; output is the three-way
    * reconciliation summary (both / customer_only / order_only) with
    * exact-decimal totals per side. One shuffle pair on the join key (the
    * rollup side is already keyed by it), summary agg over 3 groups — at
    * 100 TB the full-outer hash join is the same machinery as the inner
    * join; null-completion adds no extra exchange. */
  val qJoinFull: Q = (s, dir) => {
    val cust = Tables.customer(s, dir)
      .filter(col("c_custkey") % 3 =!= 0)
      .select(col("c_custkey"), col("c_acctbal"))
    // The F-status restriction makes BOTH unmatched classes real: dropped
    // customers (%3 == 0) orphan their orders, and kept customers without
    // any F-status order orphan themselves.
    val ords = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("spend"))
    cust.join(ords, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        when(col("c_custkey").isNull, "order_only")
          .when(col("o_custkey").isNull, "customer_only")
          .otherwise("both").as("side"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("spend"), lit(0.0)).as("spend"),
        coalesce(col("c_acctbal"), lit(0.0)).as("bal"))
      .groupBy(col("side"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("n_orders")).as("sum_orders"),
        dsum(col("spend")).as("sum_spend"),
        dsum(col("bal")).as("sum_bal"))
      .orderBy("side")
  }

  /** EXISTS — left semi join (Catalyst RewritePredicateSubquery target). */
  val qJoinSemi: Q = (s, dir) => {
    val f = Tables.orders(s, dir).filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    Tables.customer(s, dir)
      .join(f, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy("c_custkey")
  }

  /** NOT EXISTS — left anti join: parts with no recent shipment. */
  val qJoinAnti: Q = (s, dir) => {
    val recent = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("2001-06-01").cast("timestamp"))
      .select(col("l_partkey"))
    Tables.part(s, dir)
      .join(recent, col("p_partkey") === col("l_partkey"), "left_anti")
      .select(col("p_partkey"), col("p_name"), col("p_type"))
      .orderBy("p_partkey")
  }

  /** Non-equi band join (theta): lineitem priced within ±25 of a large
    * part's retail price — executed as the EXACT range-bucketed equi-join
    * (the 100 TB plan, not a nested loop): bucket l_extendedprice into
    * width-25 bins; a part at retailprice rp can only band-match bins
    * {b-1, b, b+1} of b = floor(rp/25), so explode the part side into those
    * three bins, hash-join on the bin, and refine with the exact BETWEEN.
    * The nested-loop O(|l|·|p|) becomes O(|l| + 3|p|) hash-join work that
    * shuffles by bin — uniform, skew-free, identical output. */
  val qJoinTheta: Q = (s, dir) => {
    val width = 25.0
    val p = Tables.part(s, dir).filter(col("p_size") >= 48)
      .select(col("p_partkey"), col("p_retailprice"),
        floor(col("p_retailprice") / width).as("pbin"))
      .withColumn("bin", explode(array(col("pbin") - 1, col("pbin"), col("pbin") + 1)))
    val l = Tables.lineitem(s, dir).filter(col("l_quantity") <= 5.0)
      .select(liKey.map(col) :+ col("l_extendedprice") :+
        floor(col("l_extendedprice") / width).as("bin"): _*)
    l.join(p, Seq("bin"))
      .filter(col("l_extendedprice").between(col("p_retailprice") - width, col("p_retailprice") + width))
      .select(col("p_partkey") +: liKey.map(col) :+ col("l_extendedprice") :+ col("p_retailprice"): _*)
      .orderBy(("p_partkey" +: liKey).map(col): _*)
  }

  /** POINT-IN-INTERVAL RANGE JOIN (r16) — the time-window join every
    * promo/campaign/SLA analysis runs (which facts fall inside which
    * validity window — Databricks sells this as the RANGE_JOIN hint;
    * DuckDB plans it as IEJoin): lineitems shipped inside any 2-day
    * promotion window opened by a high-value order, aggregated per window
    * priority. Complements [[qJoinTheta]] with the dual decomposition:
    * theta bands explode the PROBE side into ±1 bins; here the INTERVAL
    * side explodes over the ≤2 day-buckets it covers (bucket width = max
    * interval length, so cover is provably ≤2) while each point maps to
    * exactly ONE bucket — so no pair can match in two buckets and no
    * post-join dedup is needed. The O(|points|·|intervals|) nested loop
    * (Spark's default BroadcastNestedLoop for this predicate) becomes an
    * even hash-join on the day-bucket: O(|points| + 2·|intervals|) rows
    * shuffled, uniform across the date domain, residual BETWEEN refines
    * exactly. Day arithmetic is integer (datediff from the epoch), so
    * bucket assignment is deterministic in both engines. */
  val qJoinRange: Q = (s, dir) => {
    val widthDays = 2
    val day0 = to_date(lit("1970-01-01"))
    val win = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 470000.0)
      .select(col("o_orderpriority").as("w_priority"),
        datediff(col("o_orderdate"), day0).as("s_day"))
      .withColumn("e_day", col("s_day") + widthDays) // exclusive
      .withColumn("bkt", explode(sequence(
        floor(col("s_day") / widthDays).cast("long"),
        floor((col("e_day") - 1) / widthDays).cast("long"))))
    val pts = Tables.lineitem(s, dir)
      .select(col("l_extendedprice"), datediff(col("l_shipdate"), day0).as("p_day"))
      .withColumn("bkt", floor(col("p_day") / widthDays).cast("long"))
    pts.join(win, Seq("bkt"))
      .filter(col("p_day") >= col("s_day") && col("p_day") < col("e_day"))
      .groupBy(col("w_priority"))
      .agg(count(lit(1)).as("n_pairs"), dsum(col("l_extendedprice"), 2).as("sum_price"))
      .orderBy("w_priority")
  }

  /** INTERVAL-OVERLAP JOIN (r16) — the interval×interval member of the
    * range-join family ([[qJoinRange]] is point-in-interval): which
    * high-value promotion windows OVERLAP each other, counted per
    * priority pair (campaign-collision analysis). Same bucket
    * decomposition, plus the overlap-join dedup trick: both sides explode
    * over their ≤2 covered day-buckets, candidates pair inside a bucket,
    * the exact `s1 < e2 AND s2 < e1` predicate refines, and each true
    * pair is counted ONCE at the bucket containing max(s1, s2) — a point
    * both intervals provably cover, so no post-join distinct. Unordered
    * pairs via k1 < k2. O(n²) nested loop → even hash join on the day
    * bucket. */
  val qJoinIntervalOverlap: Q = (s, dir) => {
    val wDays = 2
    val day0 = to_date(lit("1970-01-01"))
    val win = Tables.orders(s, dir).filter(col("o_totalprice") > 480000.0)
      .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
        datediff(col("o_orderdate"), day0).as("sd"))
      .withColumn("ed", col("sd") + wDays)
    def side(p: String) = win
      .select(col("k").as(s"k$p"), col("prio").as(s"prio$p"),
        col("sd").as(s"sd$p"), col("ed").as(s"ed$p"))
      .withColumn("bkt", explode(sequence(
        floor(col(s"sd$p") / wDays).cast("long"),
        floor((col(s"ed$p") - 1) / wDays).cast("long"))))
    side("1").join(side("2"), Seq("bkt"))
      .filter(col("k1") < col("k2") &&
        col("sd1") < col("ed2") && col("sd2") < col("ed1") &&
        col("bkt") === floor(greatest(col("sd1"), col("sd2")) / wDays).cast("long"))
      .groupBy(col("prio1"), col("prio2"))
      .agg(count(lit(1)).as("n_overlaps"))
      .orderBy("prio1", "prio2")
  }

  /** Event-time as-of join: for each event, the user's most recent order
    * with o_orderdate <= ts. No native as-of in Spark — executed as the
    * MERGE-SCAN form (the plan a dedicated as-of strategy would produce):
    * union the two sides tagged, sort each user's timeline once, and carry
    * the latest order forward with last(_, ignoreNulls) — orders sort
    * before a same-instant event so `<=` holds. One shuffle by user key,
    * Θ(n log n) per user, NO event×orders range-join blowup (the naive
    * range join + row_number()=1 materializes |events|·|orders-per-user|
    * intermediate rows — ~10M at sf0.1, ruinous at 100 TB).
    *
    * Orders are first deduped to one row per (custkey, orderdate) (max
    * orderkey) so ties are well-defined in both engines — DuckDB's ASOF
    * JOIN picks an arbitrary row among equal timestamps otherwise. Inner
    * semantics: events before a user's first order are dropped. */
  val qJoinAsof: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val ord = Tables.orders(s, dir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
      .select(col("o_custkey").as("u"), col("o_orderdate").as("t"),
        lit(0).as("is_event"), lit(null).cast("long").as("event_id"),
        lit(null).cast("timestamp").as("ts"),
        col("o_orderkey"), col("o_orderdate"))
    val ev = Tables.events(s, dir)
      .select(col("user_id").as("u"), col("ts").as("t"),
        lit(1).as("is_event"), col("event_id"), col("ts"),
        lit(null).cast("long").as("o_orderkey"),
        lit(null).cast("timestamp").as("o_orderdate"))
    val w = Window.partitionBy(col("u"))
      .orderBy(col("t"), col("is_event"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ord.unionAll(ev)
      .select(col("is_event"), col("event_id"), col("u").as("user_id"), col("ts"),
        last(col("o_orderkey"), ignoreNulls = true).over(w).as("o_orderkey"),
        last(col("o_orderdate"), ignoreNulls = true).over(w).as("o_orderdate"))
      .filter(col("is_event") === 1 && col("o_orderkey").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"), col("o_orderkey"), col("o_orderdate"))
      .orderBy("event_id")
  }

  /** Skew-safe equi-join — the graded exposure of operators/SkewJoin.scala.
    * The fixture plants the classic hot-key shape on real data: 3/4 of
    * orders collapse onto skew_key 1, the rest keep their custkey. Salting
    * is PER KEY from the measured histogram (SkewJoin.saltedJoinPerKey,
    * r16): only the hot key gets salt buckets — sized to its own row count
    * against the uniform per-task share — while every cold key keeps
    * factor 1, so the dimension explodes Σ_hot(factor−1) extra rows
    * instead of nKeys × the hottest key's factor (the global-factor
    * variant, kept as SkewJoin.saltedJoinAdaptive). The salt value never
    * reaches the result (LayoutSkewSpec asserts equality with the plain
    * join, invariance across maxFactor, the hot-table-only-hot-keys
    * guarantee, and the amplification saving), so the oracle is the PLAIN
    * equi-join SQL. At 100 TB this is the portable rewrite when one key
    * would funnel a shuffle join into a single giant task; AQE's runtime
    * skew split only covers sort-merge joins. */
  val qJoinSkewed: Q = (s, dir) => {
    val fact = Tables.orders(s, dir).select(
      when(col("o_orderkey") % 4 =!= 0, lit(1L))
        .otherwise(col("o_custkey")).as("skew_key"),
      col("o_totalprice"))
    val dim = Tables.customer(s, dir)
      .select(col("c_custkey").as("skew_key"), col("c_name"), col("c_mktsegment"))
    graft.operators.SkewJoin.saltedJoinPerKey(fact, dim, "skew_key")
      .groupBy(col("skew_key"), col("c_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("spend"))
      .orderBy("skew_key")
  }

  /** BLOOM-FILTER SEMI-JOIN REDUCTION graded end-to-end
    * (operators/BloomJoin.prefilter + functions/BloomMightContain):
    * revenue of lineitems whose order belongs to a BUILDING-segment
    * customer. The dim side (orders semi-joined to the segment's
    * customers — ~1/5 of orderkeys) builds a Bloom filter; the fact scan
    * probes it BEFORE the join, so ~4/5 of lineitem never enters the
    * exchange. The real join removes the filter's false positives, so the
    * result is EXACTLY the plain three-table join — which is the oracle.
    * At 100 TB this is the semi-join reduction that turns "shuffle the
    * corpus" into "shuffle the matching 20%"; BloomJoinSpec asserts
    * bit-equality with the unfiltered twin, the probe's presence in the
    * executed plan, and the gate's identity fallback. */
  val qJoinBloom: Q = (s, dir) => {
    val cust = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val dimKeys = Tables.orders(s, dir)
      .join(graft.operators.ScaleOps.maybeBroadcast(cust),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey"))
    val fact = Tables.lineitem(s, dir).select(
      col("l_orderkey"), col("l_returnflag"),
      col("l_extendedprice"), col("l_discount"))
    graft.operators.BloomJoin.prefilter(fact, "l_orderkey", dimKeys)
      .join(dimKeys, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy("l_returnflag")
  }

  /** Bloom A/B forms for the scale soak (ScaleSoak's `bloom` pair): the
    * q_join_bloom reduction shape over the soak's staged orders (fact, 500
    * copies) and customer (dim), with a dim slice selective enough
    * (BUILDING ∩ acctbal > 9000 ≈ 2% → ~1.5M distinct keys at soak scale)
    * to clear the 4M-key build gate. Identity twin vs bloom-prefiltered
    * twin — outputs must be bit-equal; only the fact-side exchange volume
    * differs, which is the measurement. */
  private def soakBloomDim(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 9000.0)
      .select(col("c_custkey"))

  private def soakBloomAgg(fact: DataFrame, dim: DataFrame): DataFrame =
    fact.join(dim, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("spend"))
      .orderBy("o_orderstatus")

  private[graft] val bloomPlainForm: Q = (s, dir) =>
    soakBloomAgg(
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderstatus"), col("o_totalprice")),
      soakBloomDim(s, dir))

  private[graft] val bloomFilteredForm: Q = (s, dir) => {
    val dim = soakBloomDim(s, dir)
    val fact = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
    soakBloomAgg(
      graft.operators.BloomJoin.prefilter(fact, "o_custkey", dim), dim)
  }

  // ----------------------------------------------------------- aggregates

  /** Flagship: TPC-H Q1-style 7-aggregate group-by (REF-P1: partial
    * HashAggregate ≡ the reference's in-mapper combining; final aggregate ≡
    * its reducer). Money sums accumulate in DECIMAL(38,10) for
    * partition-order independence (SURVEY.md §2.9). */
  val qAggPricing: Q = (s, dir) => {
    val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(disc).as("sum_disc_price"),
        dsum(disc * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        round(dsum(col("l_quantity")) / count(lit(1)), 6).as("avg_qty"),
        round(dsum(col("l_extendedprice")) / count(lit(1)), 6).as("avg_price"),
        round(dsum(col("l_discount"), 6) / count(lit(1)), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Exact multi-column COUNT(DISTINCT) — Catalyst's Expand-based rewrite. */
  val qAggDistinct: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_partkey"), col("l_suppkey")).as("n_part_supp"),
        count(lit(1)).as("n_rows"))

  /** HLL sketch distinct (no oracle — sketch is impl-specific; bounded vs
    * exact in tests). This is the 100 TB path where exact distinct shuffles
    * too much. */
  val qAggApproxDistinct: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        approx_count_distinct(col("l_suppkey")).as("approx_supps"),
        count(lit(1)).as("n_rows"))

  /** EXACT TWO-PASS HEAVY HITTERS (r15) — the sketch family's
    * frequent-items member, with an ORACLE despite riding a sketch: the
    * top-10 corpus words by occurrence, computed WITHOUT ever shuffling
    * the vocabulary. Pass 1: a Misra-Gries summary
    * (functions/FreqSketch — capacity-bounded counters, map-side merged,
    * ONE ≤512-entry row per partition crosses the wire) plus the total
    * token count in the same aggregation. Pass 2: EXACT counts of the
    * ≤512 candidate tokens only (broadcast semi-join; the aggregate's
    * map-side combine emits ≤512 rows per partition). The MG guarantee —
    * any token absent from the summary has true count ≤
    * (N − S)/(capacity+1) — is CHECKED at runtime: the 10th candidate's
    * exact count must exceed that bound, which PROVES no unseen token can
    * belong in the top 10, so the answer is exact and the from-scratch
    * full-groupBy oracle must hash-match. At 100 TB the full groupBy
    * shuffles every distinct token (trillions at web scale); this plan's
    * exchanges carry O(partitions × capacity) summary entries + ≤512
    * final rows — the two corpus scans are the irreducible cost. The
    * summary collect is ≤512 entries — a parameter fetch, like the ANN
    * query vector. */
  val qAggHeavyHitters: Q = (s, dir) => {
    import s.implicits._
    val cap = 512
    val k = 10
    val tokens = graft.operators.ScaleOps.trackedPersist(
      Tables.documents(s, dir)
        .select(explode(split(lower(col("text")), "\\s+")).as("token"))
        .filter(col("token") =!= ""))
    val row = tokens.agg(
      graft.functions.FreqSketch.misraGries(col("token"), cap).as("mg"),
      count(lit(1)).as("n")).head()
    val summary = row.getMap[String, Long](0)
    val n = row.getLong(1)
    val err = (n - summary.values.sum).toDouble / (cap + 1)
    val candidates = summary.keys.toSeq.toDF("token")
    val exact = tokens
      .join(broadcast(candidates), Seq("token"), "left_semi")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)
    // The exactness certificate: every non-candidate's true count ≤ err,
    // so a k-th candidate strictly above it proves the top-k is global.
    // Violations (a near-uniform stream at tiny capacity) fail loudly —
    // the operator never silently returns an approximate answer. The
    // certificate needs k FULL rows: with < k candidates the boundary
    // count proves nothing about positions m+1..k (r15 ADVICE), so a
    // short candidate list is itself a certificate failure.
    val exactRows = exact.collect()
    if (exactRows.length < k)
      sys.error(s"heavy-hitters certificate failed: only " +
        s"${exactRows.length} candidates for top-$k — raise capacity")
    val kth = exactRows.last.getLong(1)
    if (kth <= err)
      sys.error(s"heavy-hitters certificate failed: top-$k boundary count " +
        s"$kth is within the MG error bound $err — raise capacity")
    exact
  }

  /** RE-AGGREGATABLE SKETCH PARTIALS — the two-level distinct-count pattern
    * every 100 TB metrics pipeline lands on: per-(type, day) DataSketches
    * HLL sketches built once (the shape you'd MATERIALIZE as a sketch
    * table), then merged across days per type with `hll_union_agg` and
    * estimated. The day-level pass shuffles partials, never raw user_ids;
    * adding a day later means sketching ONE day and re-merging — history is
    * never rescanned (the q_agg_incremental argument, for a metric exact
    * partials can't serve). Register-max union is order-independent, so the
    * estimates are deterministic across partitionings; merged-vs-single-pass
    * agreement and the error bound vs exact counts are spec-asserted
    * (NoOracleSpec) — the estimate itself has no DuckDB twin, hence
    * no-oracle. */
  /** MERGEABLE QUANTILE PARTIALS — the third member of the sketch-table
    * family (HLL distinct = q_agg_sketch_merge, frequent items =
    * q_agg_heavyhitters): per-(type, day) COMPRESSED QUANTILE SUMMARIES
    * built once — 129 equi-spaced order statistics (percentile_approx at
    * levels 0, 1/128, …, 1) plus the day's row count, the shape you'd
    * MATERIALIZE as a sketch table — then merged across days per type.
    * The merge is the classic weighted-summary union (GK/KLL merge law:
    * merging ε-approximate summaries yields an ε-approximate summary of
    * the union): each stored order statistic represents n_day/129 rows, so
    * the merged quantile is selected from the weighted empirical CDF of
    * the O(days × 129) summary points — ENTIRELY IN INTEGER ARITHMETIC
    * (point weight = n_day, threshold test cum·100 ≥ p·total), so the
    * selection is deterministic and partitioning-independent. Rank error ≤
    * ~1/128 + the per-day sketch error (exact below percentile_approx's
    * accuracy threshold); NoOracleSpec bounds the merged estimates' ranks
    * against the exact distribution and pins scramble-determinism, exactly
    * as the HLL key is bounded. The day-level pass shuffles 129-double
    * summaries, never raw values; adding a day means sketching ONE day and
    * re-merging — history is never rescanned. At 100 TB this is the
    * latency-percentile dashboard shape: the exact alternative re-sorts
    * the corpus per query. */
  val qAggQuantileSketch: Q = (s, dir) =>
    quantileSketchFrom(Tables.events(s, dir))

  /** The q_agg_quantile_sketch pipeline over an arbitrary events frame —
    * factored out so NoOracleSpec can feed a deliberately re-partitioned
    * input and pin scramble-determinism. */
  private[graft] def quantileSketchFrom(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val levels = 128
    val ps = (0 to levels).map(i => i.toDouble / levels)
    val daily = events
      .withColumn("day", to_date(col("ts")))
      .groupBy(col("event_type"), col("day"))
      .agg(percentile_approx(col("value"), array(ps.map(lit): _*), lit(10000))
          .as("qs"),
        count(lit(1)).as("n"))
    // The weighted empirical CDF of the summary points: O(days × 129) rows
    // per type — the windows below are over the SKETCH TABLE, never the
    // corpus. Ties across days break on `day` so the running weight is a
    // total (deterministic) order.
    val points = daily.select(col("event_type"), col("day"), col("n"),
      explode(col("qs")).as("v"))
    val wCum = Window.partitionBy(col("event_type"))
      .orderBy(col("v"), col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("event_type"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = points
      .withColumn("cw", sum(col("n")).over(wCum))
      .withColumn("tw", sum(col("n")).over(wTot))
    def pick(p: Int): org.apache.spark.sql.Column =
      min(when(col("cw") * 100 >= col("tw") * p, col("v"))).as(s"p$p")
    val merged = cum.groupBy(col("event_type"))
      .agg(pick(50), pick(90), pick(99))
    val totals = daily.groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_total"), count(lit(1)).as("n_days"))
    merged.join(totals, Seq("event_type"))
      .select(col("event_type"), col("p50"), col("p90"), col("p99"),
        col("n_days"), col("n_total"))
      .orderBy("event_type")
  }

  val qAggSketchMerge: Q = (s, dir) => {
    val daily = Tables.events(s, dir)
      .withColumn("day", to_date(col("ts")))
      .groupBy(col("event_type"), col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sketch"))
    daily.groupBy(col("event_type"))
      .agg(
        hll_sketch_estimate(hll_union_agg(col("sketch"))).as("approx_users"),
        count(lit(1)).as("n_days"))
      .orderBy("event_type")
  }

  /** GROUPING SETS ((nation, segment), (nation), ()) with grouping flags. */
  val qAggGroupingSets: Q = (s, dir) => {
    val joined = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
    joined
      .groupingSets(
        Seq(Seq(col("n_name"), col("c_mktsegment")), Seq(col("n_name")), Seq()),
        col("n_name"), col("c_mktsegment"))
      .agg(
        grouping(col("n_name")).cast("long").as("g_nation"),
        grouping(col("c_mktsegment")).cast("long").as("g_segment"),
        count(lit(1)).as("n_cust"),
        dsum(col("c_acctbal")).as("sum_bal"))
      .orderBy(col("g_nation"), col("g_segment"),
        col("n_name").asc_nulls_first, col("c_mktsegment").asc_nulls_first)
  }

  /** Central-moment aggregate family — this IS the reference's OLS/GDA
    * sufficient-statistics reducer (REF-P1). Small-magnitude columns keep
    * the ulp error far below the rounding step (SURVEY.md §2.9). */
  val qAggStats: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(covar_pop(col("l_quantity"), col("l_discount")), 6).as("cov_qd"),
        round(corr(col("l_extendedprice"), col("l_quantity")), 6).as("corr_pq"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("icept"))
      .orderBy("l_returnflag")

  /** EQUI-WIDTH HISTOGRAM build — the data-profiling / optimizer-statistics
    * primitive (every engine's ANALYZE builds one; a curation pipeline
    * profiles value distributions the same way): order totals bucketed into
    * fixed $25k bins per order status, with count and exact sum per bin.
    * The bin index is pure row-local arithmetic (identical IEEE division +
    * floor in both engines — no data-dependent bin edges, so no pre-pass
    * job), which makes the whole query ONE map-side-combined aggregate over
    * (status, bin) — a few hundred groups at any corpus scale — plus the
    * total-order sort. The shape a 100 TB profiler wants: no global min/max
    * pre-scan, no sort, partials carry 2 longs + a decimal per group. */
  val qAggHistogram: Q = (s, dir) => {
    val W = 25000L
    Tables.orders(s, dir)
      .select(col("o_orderstatus"), col("o_totalprice"),
        floor(col("o_totalprice") / lit(W.toDouble)).cast("long").as("bin"))
      .groupBy(col("o_orderstatus"), col("bin"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .select(col("o_orderstatus"), col("bin"),
        (col("bin") * W).as("bin_lo"), ((col("bin") + 1L) * W).as("bin_hi"),
        col("n_orders"), col("sum_price"))
      .orderBy("o_orderstatus", "bin")
  }

  /** Z-SCORE OUTLIER detection — the quarantine step of a data-cleaning
    * pipeline: per event type, events whose value sits more than 2.5
    * sample standard deviations from the type mean. TWO-PASS, never a
    * window: pass 1 is one map-side-combined aggregate producing the
    * 5-row model table (count + exact decimal Σv and Σv² → mean/std,
    * rounded once so the model is bit-stable cross-engine); pass 2
    * re-scans with the model BROADCAST and filters row-locally — the
    * corpus is never shuffled at all (the only exchange is the total-order
    * sort of the outlier rows). A per-type window would sort the corpus to
    * compute the same 5 numbers. The flag compares |v − mean| > 2.5·std
    * on identical rounded inputs — single IEEE ops, engine-portable. */
  val qStatsOutliers: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val model = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_grp"),
        dsum(col("value"), 6).as("s1"),
        dsum(col("value") * col("value"), 4).as("s2"))
      .select(col("event_type"),
        round(col("s1") / col("n_grp"), 6).as("mean"),
        round(sqrt((col("s2") - col("s1") * col("s1") / col("n_grp")) /
          (col("n_grp") - 1L)), 6).as("std"))
    ev.join(broadcast(model), "event_type")
      .filter(abs(col("value") - col("mean")) > lit(2.5) * col("std"))
      .select(col("event_type"), col("event_id"), col("value"),
        round((col("value") - col("mean")) / col("std"), 4).as("z"))
      .orderBy("event_type", "event_id")
  }

  /** DATA-QUALITY CONSTRAINT AUDIT — the dbt-test/Great-Expectations
    * class every production pipeline schedules: primary-key uniqueness,
    * foreign-key integrity, NOT-NULL, range and domain checks across the
    * star schema, one summary row per check. Violation counts are exact
    * integers (this synthetic star is mostly clean — the audit's job is
    * to PROVE that; the documents→embeddings coverage check fires for
    * real at sf0.1, where 5000 docs outnumber 2000 vectors).
    *
    * Shape at 100 TB: each PK check is one map-side-combined
    * count/countDistinct aggregate; each FK check is ONE left join
    * counting null matches (the dimension side broadcasts when small,
    * else co-partitions — never a second pass for the denominator);
    * NOT-NULL/range/domain checks are narrow conditional counts folded
    * into one aggregate per table. The union moves 8 rows. */
  /** EXACT DISTINCT VIA BITMAP-WORD PARTIALS (r16) — the bitmap-index
    * distinct pattern (roaring-bitmap aggregation specialized to a
    * bounded integer domain): per (event_type, user_id div 64) partial =
    * one 64-bit word with the user's bit OR'd in (map-side combinable —
    * bit_or is associative/commutative), per type the distinct count =
    * Σ bit_count(word). Versus count(DISTINCT): the exchange carries
    * O(groups × domain/64) WORDS instead of one row per distinct value —
    * at 100 TB with a bounded user domain that is the difference between
    * shuffling words and shuffling the user universe per group; the words
    * also MERGE (bit_or again), so per-day bitmap partials compose into
    * any period exactly — the property approximate sketches (HLL) trade
    * away, available exactly whenever the domain is bounded integers.
    * Pure integer bit-ops end-to-end; the oracle computes the same counts
    * with plain COUNT(DISTINCT), so the hash match proves the bitmap
    * EXACT, not approximate. */
  val qAggBitmap: Q = (s, dir) => {
    val words = Tables.events(s, dir)
      .select(col("event_type"),
        expr("user_id div 64").as("bucket"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))").as("w"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(expr("bit_or(w)").as("word"), count(lit(1)).as("n"))
    words.groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_events"),
        sum(bit_count(col("word")).cast("long")).as("n_distinct_users"),
        count(lit(1)).as("n_buckets"))
      .orderBy("event_type")
  }

  /** POPULATION STABILITY INDEX drift detection (r16) — the distribution-
    * drift monitor every ML-ops / training-data pipeline runs between a
    * reference window and the current one (PSI is the standard credit-
    * scoring/feature-monitoring statistic: Σ (p−q)·ln(p/q) over bins;
    * the conventional alert threshold 0.1 flags the drift): the event
    * value distribution per event_type, reference = first half of January
    * vs current = the rest, 10 fixed width-50 bins, add-one smoothing over
    * the bin domain so empty bins never produce ln(0). The bin GRID is
    * generated explicitly (types × sequence(0,9)) — a bin absent from both
    * periods still contributes its smoothed term, so the statistic is
    * well-defined whatever the data does.
    *
    * Scale shape: the corpus collapses to ≤ types×2×10 rows in ONE
    * map-side-combined aggregate; everything downstream (grid join,
    * totals, PSI fold) is entity-domain-sized. Determinism: p, q and each
    * ln term are fixed IEEE dags on exact integer counts; per-bin terms
    * round to 6 dp and sum on the exact decimal path; the drift flag
    * compares the ROUNDED sum. */
  val qQualityDrift: Q = (s, dir) => {
    val ev = Tables.events(s, dir).select(
      col("event_type"),
      when(col("ts") < lit("2024-01-16").cast("timestamp"), lit("ref"))
        .otherwise(lit("cur")).as("period"),
      least(floor(col("value") / 50.0).cast("long"), lit(9L)).as("bin"))
    val counts = ev.groupBy(col("event_type"), col("period"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
    val grid = Tables.events(s, dir).select(col("event_type")).distinct()
      .crossJoin(s.range(0, 10).select(col("id").as("bin")))
    val filled = grid
      .join(counts.filter(col("period") === "ref")
        .select(col("event_type"), col("bin"), col("cnt").as("cr")),
        Seq("event_type", "bin"), "left")
      .join(counts.filter(col("period") === "cur")
        .select(col("event_type"), col("bin"), col("cnt").as("cu")),
        Seq("event_type", "bin"), "left")
      .select(col("event_type"), col("bin"),
        coalesce(col("cr"), lit(0L)).as("cr"),
        coalesce(col("cu"), lit(0L)).as("cu"))
    val totals = filled.groupBy(col("event_type"))
      .agg(sum(col("cr")).as("n_ref"), sum(col("cu")).as("n_cur"))
    val p = (col("cr").cast("double") + 1.0) / (col("n_ref").cast("double") + 10.0)
    val q = (col("cu").cast("double") + 1.0) / (col("n_cur").cast("double") + 10.0)
    filled.join(broadcast(totals), "event_type")
      .select(col("event_type"), col("n_ref"), col("n_cur"),
        round((p - q) * log(p / q), 6).as("term"))
      .groupBy(col("event_type"), col("n_ref"), col("n_cur"))
      .agg(dsum(col("term"), 6).as("psi"))
      .select(col("event_type"), col("n_ref"), col("n_cur"), col("psi"),
        when(col("psi") > 0.1, lit(1L)).otherwise(lit(0L)).as("drifted"))
      .orderBy("event_type")
  }

  val qQualityConstraints: Q = (s, dir) => {
    def pk(tbl: String, df: DataFrame, key: String) =
      df.agg(count(lit(1)).as("n_checked"),
          (count(lit(1)) - countDistinct(col(key))).as("n_violations"))
        .select(lit("pk_unique").as("check_name"), lit(tbl).as("table_name"),
          col("n_checked"), col("n_violations"))
    def fk(name: String, tbl: String, fact: DataFrame, factKey: String,
           dim: DataFrame, dimKey: String) =
      fact.join(dim.select(col(dimKey)), col(factKey) === col(dimKey), "left")
        .agg(count(lit(1)).as("n_checked"),
          count(when(col(dimKey).isNull, 1)).as("n_violations"))
        .select(lit(name).as("check_name"), lit(tbl).as("table_name"),
          col("n_checked"), col("n_violations"))
    def cond(name: String, tbl: String, df: DataFrame,
             bad: org.apache.spark.sql.Column) =
      df.agg(count(lit(1)).as("n_checked"),
          count(when(bad, 1)).as("n_violations"))
        .select(lit(name).as("check_name"), lit(tbl).as("table_name"),
          col("n_checked"), col("n_violations"))
    val cust = Tables.customer(s, dir)
    val ords = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    pk("customer", cust, "c_custkey")
      .unionByName(pk("orders", ords, "o_orderkey"))
      .unionByName(fk("fk_customer", "orders", ords, "o_custkey",
        cust, "c_custkey"))
      .unionByName(fk("fk_orders", "lineitem", li, "l_orderkey",
        Tables.orders(s, dir).select(col("o_orderkey").as("o_ok")), "o_ok"))
      .unionByName(fk("fk_embeddings", "documents", Tables.documents(s, dir),
        "doc_id", Tables.embeddings(s, dir), "vec_id"))
      .unionByName(cond("not_null_name", "customer", cust, col("c_name").isNull))
      .unionByName(cond("range_quantity", "lineitem", li,
        col("l_quantity") < 1.0 || col("l_quantity") > 50.0))
      .unionByName(cond("domain_status", "orders", ords,
        !col("o_orderstatus").isin("F", "O", "P")))
      .orderBy("check_name", "table_name")
  }

  /** Shared by the Spark side and the oracle generator (the
    * q_ml_logreg_converged convention) so the two unrolled iteration
    * chains can never drift apart. */
  val pagerankIters = 12
  val pagerankDamp = 0.85

  /** PAGERANK over the nation trade graph — the canonical iterative
    * MapReduce algorithm (and the weighted-importance member of the
    * iterative-graph family beside q_dedup_components' min-label
    * propagation): edges are supplier-nation → customer-nation weighted by
    * lineitem count, ranks iterate `r' = (1−d)/N + d·Σ r(u)·w(u,v)/out(u)`
    * for a fixed `pagerankIters` at damping `pagerankDamp`.
    *
    * The 100 TB shape is AGGREGATE-TO-ENTITY-GRAPH, THEN ITERATE: the
    * corpus-sized work is the one edge aggregation (fact⋈orders shuffle
    * with broadcast dims — the q_join_multiway plan), after which the
    * entity graph is nation×nation (bounded, not corpus-scaled) and each
    * iteration is one aggregation pass over the tracked-persisted edge
    * table with ranks riding in as literals — the P2 loop convention
    * (distributed-iteration graphs belong to Components). Determinism
    * composes per-step exactly like q_ml_logreg_converged: edge weights
    * are integers, per-iteration contribution sums go through dsum's
    * DECIMAL(38,10) path (scale 10), and the driver-side update
    * `base + d·s` is plain IEEE — so the oracle's unrolled CTE chain
    * (same dsum twin, same literals) reproduces the rank sequence
    * bit-for-bit. Nations with no in-edges keep the base rank (the full
    * node list left-joins each iteration's sums). */
  /** The SQL TEXT surface — the same engine through `spark.sql` instead of
    * the DataFrame DSL: a TPC-H Q5-shaped six-table join-aggregate (local
    * supplier volume: revenue per nation where customer and supplier share
    * the nation, one region, one order year). The STATEMENT IS THE ORACLE
    * — the identical SQL text runs in DuckDB over the same tables (ANSI
    * joins, TIMESTAMP literals, and the dsum decimal dance are common
    * dialect), so the key grades Spark's parser/analyzer path end-to-end,
    * not a hand-built plan. Catalyst does what the DSL keys do by
    * construction: pushes the date filter into the orders scan, broadcasts
    * the dimension chain, and map-side-combines the aggregate — the
    * q_join_multiway plan from text. */
  private val tpchQ5Sql =
    """SELECT n_name,
              CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                                  AS DECIMAL(38,10))), 2) * 100 AS BIGINT)
                / CAST(100 AS DOUBLE) AS revenue
       FROM customer c
       JOIN orders o ON c.c_custkey = o.o_custkey
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       JOIN supplier s ON l.l_suppkey = s.s_suppkey
         AND c.c_nationkey = s.s_nationkey
       JOIN nation n ON s.s_nationkey = n.n_nationkey
       JOIN region r ON n.n_regionkey = r.r_regionkey
       WHERE r.r_name = 'ASIA'
         AND o.o_orderdate >= TIMESTAMP '1996-01-01'
         AND o.o_orderdate < TIMESTAMP '1997-01-01'
       GROUP BY n_name
       ORDER BY revenue DESC, n_name"""

  /** Register the named testdata tables as PREFIXED temp views
    * (graft_sql_<t>) and return the statement with each bare table name
    * rewritten to its prefixed view — Spark-side only; the oracle keeps the
    * bare names over its own attached tables. Bare createOrReplaceTempView
    * mutated session-global state per invocation: any later catalog lookup
    * of `customer` etc. would silently get the LAST dir's table (ADVICE
    * r14). Word-boundary replace — column names like c_custkey embed table
    * words only between word characters, which \b does not match. */
  private def sqlOnPrefixedViews(s: SparkSession, dir: String,
                                 stmt: String, tables: Seq[String]): String = {
    tables.foldLeft(stmt) { (q, t) =>
      Tables.table(s, dir, t).createOrReplaceTempView(s"graft_sql_$t")
      q.replaceAll(s"\\b$t\\b", s"graft_sql_$t")
    }
  }

  val qSqlTpch: Q = (s, dir) =>
    s.sql(sqlOnPrefixedViews(s, dir, tpchQ5Sql,
      Seq("customer", "orders", "lineitem", "supplier", "nation", "region")))

  /** The oracle twin: the SAME statement (Oracle.all wires it). */
  def tpchQ5OracleSql: String = tpchQ5Sql

  /** CORRELATED-SUBQUERY DECORRELATION from text: EXISTS + NOT EXISTS over
    * per-customer order predicates. The optimizer must rewrite both into
    * semi/anti joins (RewriteSubquery rules) — executing a correlated probe
    * per row would be the 100 TB disaster the rule family exists to
    * prevent. Statement-is-oracle (all-integer/timestamp predicates, no
    * float surface). */
  private val correlatedSql =
    """SELECT c.c_custkey, c.c_name
       FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey
                       AND o.o_totalprice > 400000)
         AND NOT EXISTS (SELECT 1 FROM orders o2
                         WHERE o2.o_custkey = c.c_custkey
                           AND o2.o_orderdate < TIMESTAMP '1996-01-01')
       ORDER BY c.c_custkey"""

  val qSqlCorrelated: Q = (s, dir) =>
    s.sql(sqlOnPrefixedViews(s, dir, correlatedSql, Seq("customer", "orders")))

  def correlatedOracleSql: String = correlatedSql

  /** RECURSIVE CTE from text — Spark 4's `WITH RECURSIVE` (UnionLoopExec)
    * computing BFS reachability over the trade graph, the SQL-surface twin
    * of q_graph_reachability's driver loop: seed = min source nation,
    * per-iteration frontier = previous iteration's rows joined to the edge
    * set (standard working-table semantics, identical in DuckDB), DISTINCT
    * per step + a hop bound keep the per-level row count ≤ the node count,
    * min(hops) per node = BFS depth.
    *
    * The edge table is a PERSISTED artifact registered as a view, NOT a
    * CTE inside the statement: Spark's UnionLoop inlines non-recursive
    * CTEs into every iteration, so an inline edges CTE re-ran the 4-table
    * corpus join once per recursion step (measured 6.2 s warm vs 1.5 s
    * with the persisted table at sf0.1 — at 100 TB that inlining is
    * `iterations × corpus joins`). The oracle keeps the single-statement
    * inline form; the recursion text itself is shared verbatim. */
  private def recursiveReachSql(edgeTable: String) =
    s"""WITH RECURSIVE reach(n, hops) AS (
         SELECT src, 0 FROM (SELECT min(src) AS src FROM $edgeTable) seed
         UNION ALL
         SELECT DISTINCT e.dst, r.hops + 1
         FROM reach r JOIN $edgeTable e ON e.src = r.n
         WHERE r.hops < 6)
       SELECT n, CAST(min(hops) AS BIGINT) AS min_hops
       FROM reach GROUP BY n ORDER BY n"""

  val qSqlRecursive: Q = (s, dir) => {
    // The weighted aggregate IS the distinct-pair set; drop self-loops and
    // the weight for the recursion's edge view.
    val edges = graft.operators.ScaleOps.trackedPersist(
      tradeEdges(s, dir)
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst")).coalesce(1))
    edges.createOrReplaceTempView("graft_sql_trade_edges")
    s.sql(recursiveReachSql("graft_sql_trade_edges"))
  }

  def recursiveOracleSql: String =
    s"""WITH RECURSIVE edges AS (
         SELECT DISTINCT CAST(s.s_nationkey AS BIGINT) AS src,
                         CAST(c.c_nationkey AS BIGINT) AS dst
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         WHERE s.s_nationkey <> c.c_nationkey)
       ${recursiveReachSql("edges").replaceFirst("WITH RECURSIVE", ",")}"""

  /** LATERAL correlated subquery from text — per-group top-k as the SQL
    * standard writes it (the REF-P3 pattern through the parser): each
    * nation's top-3 suppliers by balance via a correlated ORDER BY/LIMIT
    * derived table. Spark plans this as a LateralJoin → the decorrelated
    * per-group window/limit — never a per-row re-execution. s_name is
    * unique per supplier, so the outer ORDER BY is total. */
  private val lateralSql =
    """SELECT n.n_name, t.s_name, t.s_acctbal
       FROM nation n, LATERAL (
         SELECT s_name, s_acctbal
         FROM supplier s WHERE s.s_nationkey = n.n_nationkey
         ORDER BY s.s_acctbal DESC, s.s_suppkey LIMIT 3) t
       ORDER BY n.n_name, t.s_acctbal DESC, t.s_name"""

  val qSqlLateral: Q = (s, dir) =>
    s.sql(sqlOnPrefixedViews(s, dir, lateralSql, Seq("nation", "supplier")))

  def lateralOracleSql: String = lateralSql

  /** PIVOT from SQL text (r16) — the relational-to-crosstab reshape
    * through the parser (the statement form of the DataFrame q_pivot_
    * events key): per-year order counts and max price pivoted BY order
    * status with a two-aggregate measure list, exercising Spark's
    * `PIVOT (agg₁, agg₂ FOR col IN (…))` clause and its {value}_{alias}
    * output naming. Catalyst plans this as ONE aggregate with conditional
    * measures — never a per-value scan. count is pure integer; max is an
    * order-independent exact double — no float-sum surface, so the CASE
    * rebuild oracle agrees bit-for-bit (DuckDB's own PIVOT syntax differs,
    * which is the point of rebuilding relationally). */
  private val pivotSql =
    """SELECT * FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
                             o_orderstatus, o_totalprice
                      FROM orders)
       PIVOT (count(o_totalprice) AS n, max(o_totalprice) AS mx
              FOR o_orderstatus IN ('F' AS f, 'O' AS o, 'P' AS p))
       ORDER BY yr"""

  val qSqlPivot: Q = (s, dir) =>
    s.sql(sqlOnPrefixedViews(s, dir, pivotSql, Seq("orders")))

  // ----------------------------------------------------- SQL-text DML (r16)

  /** Shared scaffolding for the SQL-text DML family (q_sql_merge /
    * q_sql_update / q_sql_delete — the parser-level twins of
    * operators/Merge + Layout.updateManifested): register the graft v2
    * catalog (catalog/GraftCatalog — group-based `SupportsRowLevelOperations`,
    * the binding that lets Spark 4's `MERGE INTO`/`UPDATE`/`DELETE FROM`
    * plan through RewriteMergeIntoTable → ReplaceData with no external
    * format jar), then rebuild the key's own target table from an orders
    * seed predicate so every invocation is independent and idempotent
    * (DROP + CREATE + INSERT INTO … SELECT). The DuckDB oracle REBUILDS
    * each statement's semantics relationally (left-join CASE for MERGE,
    * CASE for UPDATE, negated predicate for DELETE) — engine DML vs
    * relational reconstruction, hash-matched row by row. */
  private def dmlTable(s: SparkSession, dir: String, name: String,
                       seedWhere: String): String = {
    s.conf.set("spark.sql.catalog.graft",
      classOf[graft.catalog.GraftCatalog].getName)
    val t = s"graft.dml.$name"
    Tables.orders(s, dir).createOrReplaceTempView("graft_dml_orders")
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (o_orderkey BIGINT, o_custkey BIGINT, " +
      "o_totalprice DOUBLE, status STRING)")
    s.sql(s"INSERT INTO $t SELECT o_orderkey, o_custkey, o_totalprice, " +
      s"'base' FROM graft_dml_orders WHERE $seedWhere")
    t
  }

  /** SQL-text MERGE INTO with all three branch kinds — matched-and DELETE,
    * matched UPDATE, not-matched INSERT — against the v2 catalog table.
    * The graded result is the table's full post-merge contents. */
  val qSqlMerge: Q = (s, dir) => {
    val t = dmlTable(s, dir, "merge_target", "o_orderkey % 3 != 0")
    s.sql(
      s"""MERGE INTO $t t
          USING (SELECT o_orderkey, o_custkey, o_totalprice * 1.1 AS price
                 FROM graft_dml_orders WHERE o_orderkey % 2 = 0) s
          ON t.o_orderkey = s.o_orderkey
          WHEN MATCHED AND s.price > 400000.0 THEN DELETE
          WHEN MATCHED THEN UPDATE SET o_totalprice = s.price, status = 'upd'
          WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_totalprice, status)
            VALUES (s.o_orderkey, s.o_custkey, s.price, 'ins')""")
    s.table(t).orderBy("o_orderkey")
  }

  /** SQL-text MERGE on the MERGE-ON-READ table flavor (r16) — the
    * `SupportsDelta` twin of q_sql_merge's copy-on-write path, completing
    * the DSv2 row-level matrix: the table declares a stable row identity
    * (TBLPROPERTIES graft.rowid, NOT NULL as the delta contract requires),
    * so Spark plans WriteDelta and the writer receives per-row
    * DELETE/UPDATE/INSERT calls that APPEND to an event log — the base is
    * never rewritten, the scan replays the log (catalog/GraftCatalog
    * `effectiveRows`; post-DML appends ride the log too, the in-store form
    * of the disk formats' data-sequence numbers). A second UPDATE
    * statement layers more events over the same base. The runtime
    * certificate requires the base row count to still equal the seed and
    * the log to be nonempty — a run silently served by the copy-on-write
    * path fails loudly. DML cost is O(changed rows); the read pays the
    * merge — the other half of the cost trade q_sql_merge takes. */
  val qSqlMergeDelta: Q = (s, dir) => {
    s.conf.set("spark.sql.catalog.graft",
      classOf[graft.catalog.GraftCatalog].getName)
    val t = "graft.dml.merge_mor"
    Tables.orders(s, dir).createOrReplaceTempView("graft_dml_orders")
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (o_orderkey BIGINT NOT NULL, o_custkey BIGINT, " +
      "o_totalprice DOUBLE, status STRING) " +
      "TBLPROPERTIES ('graft.rowid' = 'o_orderkey')")
    s.sql(s"INSERT INTO $t SELECT o_orderkey, o_custkey, o_totalprice, " +
      "'base' FROM graft_dml_orders WHERE o_orderkey % 4 != 0")
    val seeded = graft.catalog.GraftStore.baseCount("dml.merge_mor")
    s.sql(
      s"""MERGE INTO $t t
          USING (SELECT o_orderkey, o_custkey, o_totalprice * 1.2 AS price
                 FROM graft_dml_orders WHERE o_orderkey % 5 = 0) s
          ON t.o_orderkey = s.o_orderkey
          WHEN MATCHED AND s.price > 300000.0 THEN DELETE
          WHEN MATCHED THEN UPDATE SET o_totalprice = s.price, status = 'upd'
          WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_totalprice, status)
            VALUES (s.o_orderkey, s.o_custkey, s.price, 'ins')""")
    s.sql(s"UPDATE $t SET status = 'flag' WHERE o_custkey % 9 = 0")
    val (base, log) = (graft.catalog.GraftStore.baseCount("dml.merge_mor"),
      graft.catalog.GraftStore.deltaCount("dml.merge_mor"))
    if (base != seeded || log == 0L)
      sys.error(s"merge-on-read certificate failed: base $seeded -> $base " +
        s"rows, $log log events — the DML did not ride the delta path")
    s.table(t).orderBy("o_orderkey")
  }

  /** SQL-text UPDATE (predicate + computed SET) through the same
    * group-based row-level route. */
  val qSqlUpdate: Q = (s, dir) => {
    val t = dmlTable(s, dir, "update_target", "true")
    s.sql(s"UPDATE $t SET o_totalprice = o_totalprice * 0.9, " +
      "status = 'disc' WHERE o_custkey % 10 = 0")
    s.table(t).orderBy("o_orderkey")
  }

  /** SQL-text DELETE FROM with a compound predicate. */
  val qSqlDelete: Q = (s, dir) => {
    val t = dmlTable(s, dir, "delete_target", "true")
    s.sql(s"DELETE FROM $t WHERE o_totalprice < 50000.0 OR o_custkey % 7 = 0")
    s.table(t).orderBy("o_orderkey")
  }

  /** SQL-text CTAS + INSERT INTO … SELECT (r16) — the table-creation half
    * of the DSv2 DML matrix (CREATE/INSERT here; UPDATE/DELETE/MERGE
    * above): `CREATE TABLE … AS SELECT` plans through the v2
    * CreateTableAsSelect path against the same from-scratch catalog —
    * schema inferred from the query, table materialized by the catalog's
    * writer (GraftCatalog is a plain TableCatalog, so Spark takes the
    * non-atomic create-then-append route; a StagingTableCatalog would make
    * it atomic, the same contract split Delta documents) — then an
    * `INSERT INTO … SELECT` appends a disjoint computed slice. The graded
    * result is the table's full contents; the oracle rebuilds it as the
    * UNION ALL of the two SELECTs. The price restatement (×2.0) is one
    * IEEE double multiply — bit-identical in both engines. */
  val qSqlCtas: Q = (s, dir) => {
    s.conf.set("spark.sql.catalog.graft",
      classOf[graft.catalog.GraftCatalog].getName)
    val t = "graft.dml.ctas_target"
    Tables.orders(s, dir).createOrReplaceTempView("graft_dml_orders")
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"""CREATE TABLE $t AS
              SELECT o_orderkey, o_custkey, o_totalprice, 'ctas' AS status
              FROM graft_dml_orders WHERE o_orderkey % 6 = 1""")
    s.sql(s"""INSERT INTO $t
              SELECT o_orderkey, o_custkey, o_totalprice * 2.0, 'ins'
              FROM graft_dml_orders WHERE o_orderkey % 6 = 2""")
    s.table(t).orderBy("o_orderkey")
  }

  /** TRIANGLE COUNTING over the aggregated trade graph — the third member
    * of the entity-graph family (pagerank = importance, reachability =
    * connectivity, triangles = clustering): nations a<b<c pairwise linked
    * by supplier→customer trade. Corpus cost is ONE edge aggregation (the
    * qGraphPagerank construction — distinct nation pairs); the triangle
    * enumeration is a two-hop self-join + closing-edge check over the
    * ≤625-row undirected edge set, all broadcast-joined. Per-nation
    * participation counts (each triangle counts once for each of its three
    * members); nations in no triangle report 0 via the left join. At
    * 100 TB the shape is unchanged — the entity graph stays bounded by the
    * nation domain; an unbounded graph belongs to the Components
    * machinery, not this key. */
  val qGraphTriangles: Q = (s, dir) => {
    val e0 = tradeEdges(s, dir)
    val und = graft.operators.ScaleOps.trackedPersist(
      e0.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct().coalesce(1))
    val tri = und.as("e1")
      .join(broadcast(und.as("e2")), col("e2.a") === col("e1.b"))
      .join(broadcast(und.as("e3")),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val members = tri.select(col("x").as("n"))
      .unionAll(tri.select(col("y").as("n")))
      .unionAll(tri.select(col("z").as("n")))
    val cnt = members.groupBy(col("n")).agg(count(lit(1)).as("n_triangles"))
    Tables.nation(s, dir)
      .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"))
      .join(cnt, col("n_nationkey") === col("n"), "left")
      .select(col("n_nationkey"), col("n_name"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .orderBy("n_nationkey")
  }

  val qGraphPagerank: Q = (s, dir) => {
    import graft.functions.Det
    val edges0 = tradeEdges(s, dir)
    val outw = edges0.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    // The entity graph is nation×nation — bounded at ≤625 rows by
    // construction, whatever the corpus size — so the persisted iteration
    // input collapses to ONE partition: each of the 12 iteration jobs is
    // then a single-task agg instead of a 32-partition shuffle round
    // (measured ~2× per-iteration overhead otherwise). An unbounded graph
    // would not coalesce — that regime belongs to Components.
    val edges = graft.operators.ScaleOps.trackedPersist(
      edges0.join(outw, "src").coalesce(1))
    val nodeKeys = Tables.nation(s, dir)
      .select(col("n_nationkey").cast("long")).collect().map(_.getLong(0)).sorted
    val nN = nodeKeys.length
    val base = (1.0 - pagerankDamp) / nN
    var rank: Map[Long, Double] = nodeKeys.map(k => k -> 1.0 / nN).toMap
    for (_ <- 1 to pagerankIters) {
      val rmap = map(rank.toSeq.sortBy(_._1)
        .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
      val sums = edges
        .groupBy(col("dst"))
        .agg(Det.dsum(element_at(rmap, col("src")) * col("w") / col("outw"), 10).as("s"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      rank = nodeKeys.map(k =>
        k -> (base + pagerankDamp * sums.getOrElse(k, 0.0))).toMap
    }
    import s.implicits._
    rank.toSeq.sortBy(_._1).toDF("n_nationkey", "pagerank")
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"))),
        "n_nationkey")
      .select(col("n_nationkey"), col("n_name"),
        round(col("pagerank"), 6).as("pagerank"))
      .orderBy("n_nationkey")
  }

  /** GRAPH REACHABILITY / shortest hops — the recursive-traversal operator
    * Spark has no native form for (no recursive CTE; the class every
    * hierarchy/BOM/lineage query needs): over the nation trade graph
    * pruned to each nation's TOP-3 partners by weight (rank-based pruning
    * is scale-invariant — the threshold never needs retuning as the corpus
    * grows), the minimum hop count from a data-derived seed (the nation of
    * the smallest supplier key — guaranteed out-edges at every SF) to
    * every reachable nation. Pure integers end-to-end — no float surface
    * at all.
    *
    * Scale shape: the corpus-sized work is the SAME one edge aggregation
    * as [[qGraphPagerank]] (fact⋈orders + broadcast dims); the top-3
    * pruning is a 625-row window; the BFS then runs DRIVER-SIDE over the
    * collected ≤75-edge entity graph — the P2 driver-solve pattern
    * (bounded entity graphs are driver-sized by construction; unbounded
    * graph iteration belongs to Components' distributed min-label loop).
    * The oracle is a real recursive CTE (UNION-dedup with a hop bound), so
    * the hash match grades Spark-side recursion-by-loop against genuine
    * SQL recursion. */
  /** The graph family's ONE corpus-sized stage, shared by pagerank /
    * reachability / triangles / the recursive-CTE key: supplier-nation →
    * customer-nation trade edges weighted by lineitem count (fact⋈orders
    * shuffle + broadcast dims, the q_join_multiway plan; the aggregate IS
    * the distinct-pair set). Factored so an edge-definition change (self-
    * loop policy, broadcast hints, weighting) cannot silently desynchronize
    * the family. */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("s_nationkey").cast("long").as("src"),
        col("c_nationkey").cast("long").as("dst"))
      .agg(count(lit(1)).as("w"))

  /** K-CORE DECOMPOSITION (r16) — the graph-density peel every community/
    * spam analysis runs (a node's coreness = the largest k such that it
    * survives in a subgraph where everyone has ≥ k neighbors): computed
    * over the SAME bounded trade-edge entity graph as the rest of the
    * graph family (one corpus-sized edge aggregation — [[tradeEdges]] —
    * then a DRIVER-SIDE peel over ≤625 edges, the P2 driver-solve
    * pattern; an unbounded graph would run the peel as iterated
    * degree-filter rounds with per-round checkpoints, the Components
    * loop's shape). Undirected simple graph (edges symmetrized, self
    * loops dropped); the peel removes ALL nodes below k each round, so
    * the result is order-independent and deterministic by construction.
    * No oracle (iterative peeling has no tractable SQL form); R16OpsSpec
    * asserts the DEFINITIONAL invariants independently of the algorithm:
    * every coreness-c node keeps ≥ c neighbors of coreness ≥ c, and no
    * node could hold a higher core. */
  val qGraphKcore: Q = (s, dir) => {
    import s.implicits._
    val undirected = tradeEdges(s, dir)
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
      .union(tradeEdges(s, dir).filter(col("src") =!= col("dst"))
        .select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    var adj = undirected.groupBy(_._1).map { case (n, es) =>
      n -> es.map(_._2).toSet }
    val core = scala.collection.mutable.Map[Long, Long]()
    var k = 1L
    while (adj.nonEmpty) {
      var changed = true
      while (changed) {
        val doomed = adj.collect { case (n, ns) if ns.size < k => n }.toSet
        changed = doomed.nonEmpty
        if (changed) {
          doomed.foreach(n => core(n) = k - 1)
          adj = adj.view.filterKeys(n => !doomed(n))
            .mapValues(_ -- doomed).toMap
        }
      }
      k += 1
    }
    s.createDataFrame(core.toSeq.sortBy(_._1))
      .toDF("nationkey", "coreness")
      .orderBy("nationkey")
  }

  /** Synchronous weighted label propagation over symmetrized trade edges
    * — factored out so [[qGraphLabelProp]] and R17OpsSpec's independent
    * reference run the SAME graph and rounds. Deterministic by
    * construction: all nodes update simultaneously from the previous
    * round's labels (no visit order), ties break to the SMALLEST label.
    * Exposed for the spec. */
  private[graft] def labelPropagate(
      edges: Seq[(Long, Long, Long)], rounds: Int): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    var label = nodes.map(n => n -> n).toMap
    val adj = edges.groupBy(_._1)
    for (_ <- 1 to rounds) {
      val prev = label
      label = nodes.map { n =>
        val votes = adj.getOrElse(n, Nil)
          .groupBy(e => prev(e._2))
          .map { case (l, es) => (l, es.map(_._3).sum) }
        // Highest weighted vote; ties → smallest label. An isolated node
        // keeps its own label.
        val best =
          if (votes.isEmpty) prev(n)
          else votes.toSeq.minBy { case (l, wsum) => (-wsum, l) }._1
        n -> best
      }.toMap
    }
    label
  }

  /** LABEL PROPAGATION community detection (r17) [pub: Raghavan et al.
    * 2007] — the near-linear community pass every entity-resolution /
    * spam pipeline runs beside components (components = min-label closure
    * over ANY connectivity; LPA = labels flow along the HEAVIEST
    * neighborhoods, so weakly-bridged clusters keep distinct labels):
    * SYNCHRONOUS weighted variant with min-label tie-breaking — the two
    * choices that make the classically order-sensitive algorithm
    * deterministic. Same bounded trade-edge entity graph and driver-solve
    * shape as the rest of the graph family (ONE corpus-sized edge
    * aggregation, then ≤625-edge iteration on the driver; unbounded
    * graphs run the identical update as per-round groupBy-argmax with
    * checkpoints — the Components loop's shape). 4 rounds, fixed. Output:
    * each node's final community plus the community's size.
    * No oracle (iterated argmax has no tractable SQL form);
    * R17OpsSpec re-runs an independently-written reference over the same
    * edges and pins label equality, plus the definitional invariants
    * (labels ⊆ node ids, round-0 identity). */
  val qGraphLabelProp: Q = (s, dir) => {
    val sym = tradeEdges(s, dir)
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), col("w"))
      .union(tradeEdges(s, dir).filter(col("src") =!= col("dst"))
        .select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val label = labelPropagate(sym, rounds = 4)
    val sizes = label.values.groupBy(identity).map { case (l, ls) => (l, ls.size.toLong) }
    s.createDataFrame(label.toSeq.sortBy(_._1)
        .map { case (n, l) => (n, l, sizes(l)) })
      .toDF("nationkey", "community", "community_size")
      .orderBy("nationkey")
  }

  /** BIPARTITE CO-OCCURRENCE PROJECTION (r18 batch) — the
    * user×event-type bipartite graph projected onto event types (the
    * "users who did A also did B" recsys/graph primitive): a user is
    * linked to a type when they do it MORE THAN THEIR OWN AVERAGE
    * (k·ntypes > total, an exact integer cross-multiplication — raw
    * membership is degenerate on this corpus, every user touches every
    * type; preference-thresholding is also the standard implicit-feedback
    * binarization), then every type pair gets the user overlap plus
    * cosine (overlap/√(nₐ·n_b)) and Jaccard. Scale shape: ONE map-side-
    * combined (user, type) count, per-user totals re-aggregate that
    * O(users·types) frame, the self-join keys on user_id — co-partitioned,
    * per-user fanout bounded by C(|types|, 2) = 10, never quadratic; the
    * per-type counts are an O(types) broadcast back. */
  val qGraphCooccur: Q = (s, dir) => {
    // perType appears on both sides of the preference join below — persist
    // the O(users×types) frame so the corpus pays ONE aggregation pass.
    val perType = graft.operators.ScaleOps.trackedPersist(Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("k")))
    val perUser = perType.groupBy(col("user_id"))
      .agg(sum(col("k")).as("tot"), count(lit(1)).as("ntypes"))
    // The preference frame feeds the per-type counts AND both join sides
    // (a diamond): persist the O(users·types) frame instead of re-running
    // the corpus aggregation three times.
    val ut = graft.operators.ScaleOps.trackedPersist(
      perType.join(perUser, "user_id")
        .filter(col("k") * col("ntypes") > col("tot"))
        .select(col("user_id"), col("event_type")))
    val cnt = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val pairs = ut.as("a")
      .join(ut.as("b"), col("a.user_id") === col("b.user_id") &&
        col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    val withA = pairs.join(broadcast(
      cnt.select(col("event_type").as("type_a"), col("n").as("n_a"))), "type_a")
    withA.join(broadcast(
        cnt.select(col("event_type").as("type_b"), col("n").as("n_b"))), "type_b")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_both"),
        round(col("n_both").cast("double") /
          sqrt(col("n_a").cast("double") * col("n_b").cast("double")), 6)
          .as("cosine"),
        round(col("n_both").cast("double") /
          (col("n_a") + col("n_b") - col("n_both")).cast("double"), 6)
          .as("jaccard"))
      .orderBy("type_a", "type_b")
  }

  /** PER-GROUP TOP-K (r16) — greatest-N-per-group (top-3 parts per brand
    * by revenue), the ranking-report staple and [[qAggArgmax]]'s N>1
    * sibling. The plan is the point: Spark rewrites
    * `row_number() ≤ k` into WINDOW GROUP LIMIT — each map task keeps a
    * per-group k-heap BEFORE the shuffle, so the exchange carries
    * O(groups·k) candidate rows instead of every (brand, part) aggregate
    * — the distributed form of the reference's P3 heap merge applied
    * per group (R16OpsSpec pins WindowGroupLimit into the physical
    * plan). Revenue is the exact decimal sum, tie-broken by partkey, so
    * rank order is total. */
  val qAggTopkGroup: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val rev = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_partkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 2)
        .as("revenue"))
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("revenue").desc, col("p_partkey"))
    rev.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy("p_brand", "rn")
  }

  val qGraphReachability: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val edges625 = tradeEdges(s, dir)
    val wTop = Window.partitionBy(col("src")).orderBy(col("w").desc, col("dst"))
    val pruned = edges625
      .withColumn("rn", row_number().over(wTop)).filter(col("rn") <= 3)
      .select(col("src"), col("dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val adj = pruned.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    // Seed = the nation of the smallest supplier key: data-derived (small
    // SFs don't populate every nation with a supplier — nation 0 has no
    // out-edges at sf0.001), deterministic, and guaranteed out-edges.
    val seed = Tables.supplier(s, dir)
      .orderBy(col("s_suppkey")).limit(1)
      .select(col("s_nationkey").cast("long")).head().getLong(0)
    // Driver BFS: integer frontier expansion to fixpoint (≤ node count).
    // The level counter is EXPLICIT — deriving depth from a frontier
    // member would silently assume level-uniform frontiers, an invariant
    // a future multi-seed or merged-frontier edit could break without a
    // test failing (ADVICE r13).
    var dist = Map(seed -> 0L)
    var frontier = Seq(seed)
    var depth = 0L
    while (frontier.nonEmpty) {
      depth += 1L
      val next = frontier.flatMap(u => adj.getOrElse(u, Seq.empty))
        .distinct.filterNot(dist.contains)
      next.foreach(v => dist += v -> depth)
      frontier = next
    }
    import s.implicits._
    dist.toSeq.toDF("n_nationkey", "hops")
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"))),
        "n_nationkey")
      .select(col("n_nationkey"), col("n_name"), col("hops"))
      .orderBy("n_nationkey")
  }

  /** CALENDAR DENSIFICATION / GAP FILL (r16) — the time-series
    * regularization every reporting/forecasting pipeline needs (a sparse
    * aggregate joined onto a COMPLETE calendar spine, missing cells
    * zero-filled and flagged — the dbt date-spine / Pandas asfreq move):
    * per-(type, day) event counts with days ≡ 0 (mod 3) EXCLUDED from the
    * aggregate (the planted-edge convention — the corpus is dense, so the
    * gaps are synthesized deterministically and the fill path provably
    * executes at every SF), then the full types × days grid generated
    * from the GLOBAL time bounds with `sequence` + explode.
    *
    * Scale shape: ONE map-side-combined corpus aggregate to (types ×
    * days) rows; the spine is generated, not scanned (O(days) rows from a
    * 1-row bounds aggregate) and the fill join runs on entity-domain-sized
    * frames. Zero-fill and flag are exact integers. */
  val qEventsDensify: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val daily = ev.filter(dayofmonth(col("ts")) % 3 =!= 0)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
    val spine = ev
      .agg(date_trunc("day", min(col("ts"))).as("lo"),
        date_trunc("day", max(col("ts"))).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 day"))).as("day"))
    ev.select(col("event_type")).distinct()
      .crossJoin(broadcast(spine))
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"),
        when(col("n").isNull, lit(1L)).otherwise(lit(0L)).as("is_gap"))
      .orderBy("event_type", "day")
  }

  /** MARKOV TRANSITION MATRIX (r16) — the first-order behavioral model
    * under every journey/attribution analysis (and the statistical
    * counterpart of [[qEventsPattern]]'s regex matching): consecutive
    * event-type pairs per user (the same (ts, event_id) total order), then
    * the transition counts and row-normalized probabilities P(next | prev).
    * Output is the types×types matrix — bounded by the type domain at any
    * corpus size.
    *
    * Scale shape: ONE shuffle by user for the lag pairing; the count
    * aggregate is map-side combined to ≤ types² rows; the normalizing
    * window runs over that bounded matrix, never the corpus. Probabilities
    * are rounded ratios of exact integers. */
  val qEventsMarkov: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val counts = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("n_prev", sum(col("n")).over(Window.partitionBy(col("prev_type"))))
      .select(col("prev_type"), col("event_type"), col("n"),
        round(col("n").cast("double") / col("n_prev").cast("double"), 6).as("p"))
      .orderBy("prev_type", "event_type")
  }

  /** LAST-TOUCH ATTRIBUTION (r16) — the marketing-analytics workhorse
    * (which channel gets credit for a conversion): each purchase credits
    * the user's most recent PRECEDING touch event (click/view) within a
    * 24 h lookback, else the 'direct' channel; conversions and value
    * aggregated per credited channel. The carry is ONE last(_,
    * ignoreNulls) over the (ts, event_id) total order — frame ends at
    * 1 PRECEDING so a purchase can never credit itself — the same
    * merge-scan shape as [[qJoinAsof]]: no events×touches range join, no
    * per-user collect.
    *
    * Scale shape: one shuffle by user (hash-even), O(1) carried state per
    * row, then a map-side-combined aggregate to ≤3 channel rows. The
    * struct carries (ts, type) together so the timestamp and the type can
    * never come from different touches. */
  val qEventsAttribution: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type").isin("click", "view"),
      struct(col("ts"), col("event_type")))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
      .withColumn("lt", last(touch, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("channel",
        when(col("lt").isNull ||
          col("lt.ts") < col("ts") - expr("interval 24 hours"), lit("direct"))
          .otherwise(col("lt.event_type")))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_conversions"), dsum(col("value"), 6).as("sum_value"))
      .orderBy("channel")
  }

  /** ARGMAX AGGREGATE (r16) — greatest-row-per-group (n=1), the single
    * most-asked analytics question shape ("top customer per segment"):
    * executed as ONE map-side-combined aggregate of a lexicographic
    * struct max — each partition keeps one candidate per group and the
    * merge is a struct compare — instead of the window row_number()=1
    * form, which SORTS every group's full population. Tie-break is inside
    * the struct (max custkey on equal balance), so the answer is total.
    * At 100 TB: O(groups) state per task vs the window's per-group sort —
    * this is the reduction Spark's own max_by lacks a deterministic
    * tie-break for. */
  val qAggArgmax: Q = (s, dir) =>
    Tables.customer(s, dir)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        max(struct(col("c_acctbal"), col("c_custkey"))).as("top"))
      .select(col("c_mktsegment"), col("n_customers"),
        col("top.c_acctbal").as("top_acctbal"),
        col("top.c_custkey").as("top_custkey"))
      .orderBy("c_mktsegment")

  /** SEQUENCE-PATTERN DETECTION (r16) — the MATCH_RECOGNIZE class (regex
    * over an ordered event sequence, the operator Flink/Oracle sell for
    * journey analysis; the regex generalization of q_funnel_steps' fixed
    * step list): each user's events collapse to a JOURNEY string (one
    * initial per event, ordered by (ts, event_id) — a total order, so the
    * string is deterministic), and the funnel pattern `v[ces]*cp` (a view,
    * any non-purchase noise, then click→purchase) is counted and sampled
    * per user with ordinary regex functions — non-overlapping left-to-right
    * match semantics agree between Java regex and DuckDB's RE2 for this
    * class-only pattern.
    *
    * Scale shape: ONE shuffle by user collects each user's events;
    * journeys are per-user-bounded (the sessionized corpus shape), and the
    * regex runs narrow per row. The 100 TB caveat is the same one
    * MATCH_RECOGNIZE implementations document: an unbounded per-key
    * history belongs in a session-windowed variant (q_stream_session's
    * state), not one string. */
  val qEventsPattern: Q = (s, dir) => {
    val pat = "v[ces]*cp"
    Tables.events(s, dir)
      .select(col("user_id"),
        struct(col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("c")).as("s"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(col("s"))).as("arr"))
      .select(col("user_id"),
        size(col("arr")).cast("long").as("n_events"),
        concat_ws("", expr("transform(arr, x -> x.c)")).as("journey"))
      .select(col("user_id"), col("n_events"),
        regexp_count(col("journey"), lit(pat)).cast("long").as("n_funnels"),
        regexp_extract(col("journey"), pat, 0).as("first_funnel"))
      .orderBy("user_id")
  }

  /** WEIGHTED SINGLE-SOURCE SHORTEST PATHS (r16) — the weighted sibling of
    * [[qGraphReachability]]'s BFS, completing the graph family's distance
    * axis (pagerank = importance, reachability = hops, triangles =
    * clustering, sssp = weighted distance): over the same top-3-pruned
    * trade graph with integer edge costs derived from the aggregated trade
    * weight (cost = 1 + w mod 5 — deterministic, positive, bounded), the
    * minimum path cost from the same data-derived seed. Pure integers
    * end-to-end.
    *
    * Scale shape: identical to reachability — the corpus-sized work is the
    * ONE shared edge aggregation; Dijkstra then runs DRIVER-SIDE over the
    * collected ≤75-edge entity graph (bounded by the nation domain at any
    * corpus size; unbounded graphs belong to Components). The oracle is a
    * genuine recursive CTE: states are (node, cost) pairs deduped by
    * UNION, pruned at cost ≥ 125 — every simple path in a 25-node graph
    * with costs ≤ 5 costs ≤ 120, so no shortest path is pruned and the
    * state space is finite. The hash match grades driver Dijkstra against
    * SQL recursion. */
  val qGraphSssp: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val wTop = Window.partitionBy(col("src")).orderBy(col("w").desc, col("dst"))
    val pruned = tradeEdges(s, dir)
      .withColumn("rn", row_number().over(wTop)).filter(col("rn") <= 3)
      .select(col("src"), col("dst"), (lit(1L) + col("w") % 5L).as("cost"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val adj = pruned.groupBy(_._1)
      .map { case (k, v) => k -> v.map(e => (e._2, e._3)).toSeq }
    val seed = Tables.supplier(s, dir)
      .orderBy(col("s_suppkey")).limit(1)
      .select(col("s_nationkey").cast("long")).head().getLong(0)
    // Driver Dijkstra: settle the cheapest unsettled node each round —
    // ≤ |nodes| rounds over the ≤75-edge entity graph.
    var dist = Map(seed -> 0L)
    var settled = Set.empty[Long]
    var done = false
    while (!done) {
      val next = dist.filterNot { case (n, _) => settled(n) }
        .minByOption { case (n, c) => (c, n) }
      next match {
        case None => done = true
        case Some((u, du)) =>
          settled += u
          for ((v, c) <- adj.getOrElse(u, Seq.empty)
               if !settled(v) && du + c < dist.getOrElse(v, Long.MaxValue))
            dist += v -> (du + c)
      }
    }
    import s.implicits._
    dist.toSeq.toDF("n_nationkey", "min_cost")
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"))),
        "n_nationkey")
      .select(col("n_nationkey"), col("n_name"), col("min_cost"))
      .orderBy("n_nationkey")
  }

  /** TRAILING-WINDOW ANOMALY detection — the ops-analytics spike detector
    * (the series-level sibling of [[qStatsOutliers]]' row-level
    * quarantine): the per-(type, day) event-count series scored against
    * its own trailing 7-day window — z = (n − mean)/std with mean/std
    * derived EXPLICITLY from exact integer frame sums (Σn, Σn², count are
    * integer window sums, so mean/std/z are single IEEE ops on identical
    * inputs in both engines — never an engine-internal stddev
    * accumulation), spike flag at 3σ. Output is the full scoreboard (all
    * scored days), not just the spikes — flags are data-dependent.
    *
    * Scale: the corpus collapses to (types × days) rows in ONE map-side-
    * combined aggregate BEFORE any window runs; the trailing window sorts
    * only the tiny per-type day series. The 100 TB anomaly pipeline shape:
    * aggregate first, window the aggregate. */
  val qEventsAnomaly: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-7, -1)
    daily
      .withColumn("s1", sum(col("n")).over(w))
      .withColumn("s2", sum(col("n") * col("n")).over(w))
      .withColumn("cnt", count(lit(1)).over(w))
      .filter(col("cnt") === 7)
      .withColumn("mean", col("s1").cast("double") / col("cnt"))
      .withColumn("std", sqrt(
        (col("s2") - col("s1").cast("double") * col("s1") / col("cnt")) /
          (col("cnt") - 1L)))
      .select(col("event_type"), col("day"), col("n"),
        round(col("mean"), 4).as("trailing_mean"),
        // A constant 7-day history has std = 0 — z would be ±inf/NaN,
        // which no cross-engine hash survives; NULL marks "no spread".
        when(col("std") === 0.0, lit(null).cast("double"))
          .otherwise(round((col("n") - col("mean")) / col("std"), 4)).as("z"),
        when((col("n") - col("mean")) > lit(3.0) * col("std"), 1L)
          .otherwise(0L).as("is_spike"))
      .orderBy("event_type", "day")
  }

  /** INCREMENTAL AGGREGATE MAINTENANCE — the materialized-rollup refresh
    * pattern every 100 TB pipeline needs. The source is staged as a
    * DAY-PARTITIONED layout (what any event table at scale already is):
    * per-(type, day) partials for all but the newest day are computed once
    * and MATERIALIZED to parquet (the standing rollup), the newest day's
    * partials come from a delta scan whose day predicate is a PARTITION
    * FILTER — directories pruned before IO, asserted in LayoutSkewSpec —
    * and the final per-type answer is a merge of partials. The raw history
    * is never rescanned at refresh time, and the delta read touches one
    * directory, not the table. Exactness is the dsumPartial/dsumMerge
    * contract: partials store the full DECIMAL(38,10) sum (no rounding),
    * decimal addition is associative, so the merge is byte-identical to a
    * from-scratch aggregate — which is exactly what the oracle computes
    * (single-pass over the source), so the hash match PROVES the
    * incremental path is lossless. The day cutover is one scalar fetched
    * from the source (a parameter, like the ANN query vector). */
  val qAggIncremental: Q = (s, dir) => {
    import graft.functions.Det
    val ev = Tables.events(s, dir)
      .select(col("event_type"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
    // max(day) is NULL on an empty source — yield the (empty) aggregate
    // frame directly rather than NPE on the scalar fetch; sibling queries
    // stay well-defined on empty input and so must the refresh.
    val maxDay = ev.agg(max(col("day"))).head().getString(0)
    if (maxDay == null) {
      ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), Det.dsum(col("value"), 6).as("sum_value"))
        .orderBy("event_type")
    } else {
    val cutover = maxDay
    // Stage the day-partitioned source once under the SHARED content-keyed
    // fixture root (Tables.stagedFixture): at scale the events table
    // already lives in this layout — the staging write is fixture setup,
    // not the graded refresh — so a fresh JVM reuses it instead of
    // rewriting it per run. Layout.writePartitioned keeps full write
    // parallelism with bounded files per day directory.
    val partitioned = stagedEventsByDay(s, dir)
    // Partition-column type inference reads the day dir values back as
    // DATE; normalize to string so the rollup parquet and the delta agree
    // on the group key type across Spark config changes.
    def partials(df: DataFrame) =
      df.groupBy(col("event_type"), col("day").cast("string").as("day"))
        .agg(count(lit(1)).as("pn"), Det.dsumPartial(col("value")).as("pdec"))
    val rollup = Tables.stageDir(s, "rollup", dir)
    partials(graft.sources.Layout.readPartitioned(s, partitioned)
        .filter(col("day") < cutover))
      .write.mode("overwrite").parquet(rollup)
    val delta = graft.sources.Layout.readPartitioned(s, partitioned)
      .filter(col("day") >= cutover) // partition filter: one directory read
    s.read.parquet(rollup)
      .unionByName(partials(delta))
      .groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n"), Det.dsumMerge(col("pdec"), 6).as("sum_value"))
      .orderBy("event_type")
    }
  }

  /** Declared form — exact interpolated median + p90 (Spark `percentile` ≡
    * DuckDB `quantile_cont`). Spark's exact percentile buffers the whole
    * per-group value histogram in ONE aggregation buffer — fine below the
    * one-task threshold, an executor OOM at 100 TB. */
  private[graft] val medianAggForm: Q = (s, dir) =>
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("median_price"),
        round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90_price"))
      .orderBy("o_orderstatus")

  /** Scale form — EXACT bucketed two-pass quantiles
    * (ScaleOps.groupedQuantilesExact): distinct-value histogram, approx
    * split points, O(buckets) offsets, within-bucket positions, broadcast
    * rank lookup + interpolation. Same values bit-for-bit (same
    * p·(n−1) bracketing and interpolation arithmetic), bounded memory per
    * task. */
  private[graft] val medianScaleForm: Q = (s, dir) =>
    graft.operators.ScaleOps.groupedQuantilesExact(
        Tables.orders(s, dir), col("o_orderstatus"), col("o_totalprice"),
        ps = Seq(0.5, 0.9))
      .select(col("g").as("o_orderstatus"), col("__n").as("n"),
        round(col("q_0"), 2).as("median_price"),
        round(col("q_1"), 2).as("p90_price"))
      .orderBy("o_orderstatus")

  /** Size-routed q_agg_median — same contract as the Windows routers: the
    * declared single-buffer form while the input's Catalyst estimate fits
    * one task, the exact ScaleOps rewrite past it. Identical output either
    * way, so routing never changes results — only the plan shape. */
  def medianRouted(maxOneTaskBytes: Long = graft.Conf.OneTaskSortMaxBytes): Q =
    (s, dir) =>
      graft.operators.ScaleOps.routeBySize(Tables.orders(s, dir), maxOneTaskBytes)(
        medianAggForm(s, dir))(medianScaleForm(s, dir))

  val qAggMedian: Q = medianRouted()

  /** WEIGHTED MEDIAN (r16) — the robust central-price statistic every
    * pricing/index pipeline wants (each price weighted by the quantity
    * transacted — the CPI/median-trade-price shape): per returnflag, the
    * smallest price p with cumWeight(≤ p) ≥ totalWeight/2. All weight
    * arithmetic rides the exact decimal path (quantities cast to
    * DECIMAL(38,10); the crossing test is 2·cum ≥ total in decimal), so
    * the answer is partition-count-independent and engine-portable — no
    * halving, no float cumsum.
    *
    * Both forms start from per-(flag, price) weight partials (map-side
    * combined, one shuffle). Declared form: a running decimal sum over
    * each flag's price-ordered partials — with 3 flags that window sorts
    * ~n/3 rows in one task, the skew the router exists for. Scale form:
    * [[graft.operators.ScaleOps.groupedPrefixSum]]'s exact bucketed
    * two-pass prefix (each task sorts ~n/(groups·256) rows), per-flag
    * totals as a group-count-gated broadcast join, identical crossing
    * test. Decimal addition is associative, so both forms produce the
    * same cum values bit-for-bit and the router never changes results. */
  private[graft] def wmedianPartials(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_extendedprice").as("price"))
      .agg(graft.functions.Det.dsumPartial(col("l_quantity")).as("w"),
        count(lit(1)).as("c"))

  private def wmedianFinish(crossed: DataFrame, pw: DataFrame): DataFrame = {
    val stats = pw.groupBy(col("l_returnflag").as("sf"))
      .agg(sum(col("c")).as("n_items"),
        graft.functions.Det.dsumMerge(col("w"), 6).as("total_qty"))
    crossed.groupBy(col("l_returnflag"))
      .agg(min(col("price")).as("wmedian_price"))
      .join(broadcast(stats), col("l_returnflag") === col("sf"))
      .select(col("l_returnflag"), col("n_items"), col("total_qty"),
        col("wmedian_price"))
      .orderBy("l_returnflag")
  }

  private[graft] val wmedianAggForm: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    // NOTE (r19 opt round): pw feeds two consumers, but persisting it was
    // MEASURED SLOWER at sf0.1 (columnar-caching DECIMAL partials costs
    // more than recomputing the aggregation — action 5.9s -> 7.6-11.6s),
    // the same lesson as ScaleOps.persistIfBig's langid note. Recompute.
    val pw = wmedianPartials(s, dir)
    val wRun = Window.partitionBy(col("l_returnflag")).orderBy(col("price"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("l_returnflag"))
    val crossed = pw
      .withColumn("__run", sum(col("w")).over(wRun))
      .withColumn("__tw", sum(col("w")).over(wTot))
      .filter(col("__run") * 2 >= col("__tw"))
    wmedianFinish(crossed, pw)
  }

  private[graft] val wmedianScaleForm: Q = (s, dir) => {
    val pw = graft.operators.ScaleOps.trackedPersist(wmedianPartials(s, dir))
    val hintTiny = graft.operators.ScaleOps.perGroupBroadcastHint(
      pw, col("l_returnflag"))
    val tot = pw.groupBy(col("l_returnflag").as("tf")).agg(sum(col("w")).as("__tw"))
    val crossed = graft.operators.ScaleOps
      .groupedPrefixSum(pw, col("l_returnflag"), col("price"), col("w"))
      .join(hintTiny(tot), col("l_returnflag") === col("tf"))
      .filter(col("__run") * 2 >= col("__tw"))
    wmedianFinish(crossed, pw)
  }

  def wmedianRouted(maxOneTaskBytes: Long = graft.Conf.OneTaskSortMaxBytes): Q =
    (s, dir) =>
      graft.operators.ScaleOps.routeBySize(Tables.lineitem(s, dir), maxOneTaskBytes)(
        wmedianAggForm(s, dir))(wmedianScaleForm(s, dir))

  val qAggWeightedMedian: Q = wmedianRouted()

  /** WINSORIZED MEAN (r16) — the outlier-robust mean every metrics/
    * experimentation platform reports (clamp each value into its group's
    * exact [p5, p95] band, then average — the statistic A/B systems use
    * so one whale can't move the topline): per orderstatus, the exact
    * interpolated p5/p95 (Spark `percentile` ≡ DuckDB `quantile_cont`,
    * the q_agg_median-proven pairing), each price clamped with
    * greatest/least (pure selection — no arithmetic can diverge), and the
    * clamped mean on the exact decimal path.
    *
    * Size-routed like q_agg_median: the declared single-buffer percentile
    * below the one-task gate, ScaleOps.groupedQuantilesExact's bucketed
    * two-pass (bit-identical interpolation) above it. The clamp pass
    * joins the O(groups) quantile table back broadcast — at 100 TB the
    * corpus flows through one narrow clamp map + one map-side-combined
    * aggregate, and the quantile machinery touches the distinct-value
    * histogram, never whole-group sorts. */
  private def winsorFinish(src: DataFrame, q: DataFrame): DataFrame = {
    import graft.functions.Det
    val clamped = greatest(col("p05"), least(col("p95"), col("o_totalprice")))
    src.join(broadcast(q), Seq("o_orderstatus"))
      .select(col("o_orderstatus"), col("p05"), col("p95"), clamped.as("v"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(max(col("p05")), 2).as("p05"), round(max(col("p95")), 2).as("p95"),
        round(Det.dsum(col("v"), 6) / count(lit(1)), 6).as("winsor_mean"))
      .orderBy("o_orderstatus")
  }

  private[graft] val winsorAggForm: Q = (s, dir) => {
    val src = Tables.orders(s, dir).select(col("o_orderstatus"), col("o_totalprice"))
    val q = src.groupBy(col("o_orderstatus"))
      .agg(expr("percentile(o_totalprice, 0.05)").as("p05"),
        expr("percentile(o_totalprice, 0.95)").as("p95"))
    winsorFinish(src, q)
  }

  private[graft] val winsorScaleForm: Q = (s, dir) => {
    val src = Tables.orders(s, dir).select(col("o_orderstatus"), col("o_totalprice"))
    val q = graft.operators.ScaleOps.groupedQuantilesExact(
        src, col("o_orderstatus"), col("o_totalprice"), ps = Seq(0.05, 0.95))
      .select(col("g").as("o_orderstatus"), col("q_0").as("p05"), col("q_1").as("p95"))
    winsorFinish(src, q)
  }

  def winsorRouted(maxOneTaskBytes: Long = graft.Conf.OneTaskSortMaxBytes): Q =
    (s, dir) =>
      graft.operators.ScaleOps.routeBySize(Tables.orders(s, dir), maxOneTaskBytes)(
        winsorAggForm(s, dir))(winsorScaleForm(s, dir))

  val qStatsWinsorize: Q = winsorRouted()

  /** HIGHER MOMENTS (r16) — per-group skewness + excess kurtosis, the
    * distribution-shape statistics every data-profiling / drift pass
    * reports beside mean/stddev (q_agg_stats): computed from EXACT
    * integer power sums (quantities are integral, so Σq..Σq⁴ are exact
    * DECIMAL(38,0) at any corpus size — row-level products stay in small
    * integers, only the sums widen) followed by one fixed IEEE-double
    * epilogue written as the identical literal arithmetic in both engines
    * (the q_agg_corr convention). NOT Spark's `skewness()`/`kurtosis()`
    * (their streaming float update orders differ engine-to-engine).
    * ONE map-side-combined pass, O(groups) rows out. */
  val qAggMoments: Q = (s, dir) => {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val q = col("l_quantity").cast("long")
    val stats = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), q.as("q"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("q").cast(dec)).as("s1"),
        sum((col("q") * col("q")).cast(dec)).as("s2"),
        sum((col("q") * col("q") * col("q")).cast(dec)).as("s3"),
        sum((col("q") * col("q") * col("q") * col("q")).cast(dec)).as("s4"))
    val n = col("n").cast("double")
    val mean = col("s1").cast("double") / n
    val m2 = col("s2").cast("double") / n - mean * mean
    val m3 = col("s3").cast("double") / n -
      lit(3.0) * mean * (col("s2").cast("double") / n) +
      lit(2.0) * mean * mean * mean
    val m4 = col("s4").cast("double") / n -
      lit(4.0) * mean * (col("s3").cast("double") / n) +
      lit(6.0) * mean * mean * (col("s2").cast("double") / n) -
      lit(3.0) * mean * mean * mean * mean
    // Degenerate (constant) groups have m2 = 0: Spark's double division
    // would emit NaN/Infinity where DuckDB's division-by-zero yields NULL —
    // both engines must agree on NULL (ADVICE r16). Unreachable on lineitem
    // (quantity always varies per returnflag) but latent for other corpora.
    stats.select(col("l_returnflag"), col("n"),
        round(mean, 6).as("mean_qty"),
        round(m2, 6).as("m2"),
        round(when(m2 > 0, m3 / (m2 * sqrt(m2))), 6).as("skewness"),
        round(when(m2 > 0, m4 / (m2 * m2) - lit(3.0)), 6).as("kurtosis"))
      .orderBy("l_returnflag")
  }

  /** WELCH'S TWO-SAMPLE T-TEST (r18 batch) — the unequal-variance mean
    * comparison every A/B readout runs (does returnflag A's price
    * distribution differ from R's?): per-group n/Σ/Σ² as EXACT integer
    * power sums in cents (row products in long, sums in DECIMAL(38,0) /
    * HUGEINT — the q_agg_moments convention), then ONE fixed
    * left-associated IEEE double epilogue (means, sample variances, the
    * t statistic, and the Welch–Satterthwaite degrees of freedom)
    * identical in both engines. ONE map-side-combined conditional
    * aggregation over the corpus — no per-group pass, no second scan;
    * output is a single row. */
  val qStatsTtest: Q = (s, dir) => {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cents = round(col("l_extendedprice") * 100).cast("long")
    val base = Tables.lineitem(s, dir)
      .filter(col("l_returnflag").isin("A", "R"))
      .select((col("l_returnflag") === "A").as("isa"), cents.as("c"))
    val agg = base.agg(
      sum(when(col("isa"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("isa"), 1L).otherwise(0L)).as("n_r"),
      sum(when(col("isa"), col("c")).otherwise(0L).cast(dec)).as("s1a"),
      sum(when(!col("isa"), col("c")).otherwise(0L).cast(dec)).as("s1r"),
      sum(when(col("isa"), col("c") * col("c")).otherwise(0L).cast(dec)).as("s2a"),
      sum(when(!col("isa"), col("c") * col("c")).otherwise(0L).cast(dec)).as("s2r"))
    val (na, nr) = (col("n_a").cast("double"), col("n_r").cast("double"))
    val ma = col("s1a").cast("double") / na
    val mr = col("s1r").cast("double") / nr
    val va = (col("s2a").cast("double") / na - ma * ma) * (na / (na - 1.0))
    val vr = (col("s2r").cast("double") / nr - mr * mr) * (nr / (nr - 1.0))
    val sea = va / na
    val ser = vr / nr
    val t = (ma - mr) / sqrt(sea + ser)
    val dof = (sea + ser) * (sea + ser) /
      (sea * sea / (na - 1.0) + ser * ser / (nr - 1.0))
    agg.select(col("n_a"), col("n_r"),
      round(ma, 6).as("mean_a"), round(mr, 6).as("mean_r"),
      round(va, 4).as("var_a"), round(vr, 4).as("var_r"),
      round(t, 6).as("t_stat"), round(dof, 4).as("welch_dof"))
  }

  /** CHI-SQUARE INDEPENDENCE TEST (r18 batch) — the lang × source
    * contingency analysis every corpus-mix audit runs: observed cell
    * counts, expected = row·col/N under independence, per-cell
    * contribution (o−e)²/e, and the total statistic. The cell table is
    * ONE map-side-combined aggregation; marginals re-aggregate the
    * O(cells) frame (never the corpus) and broadcast back; the total is
    * an exact decimal window sum over the ROUNDED contributions
    * (Det.dsumOver), so cell order can never change the statistic. */
  val qStatsChisq: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
    // cells feeds both marginals and the final projection (a 3-way
    // diamond): persist the O(cells) frame — one corpus pass, not three.
    val cells = graft.operators.ScaleOps.trackedPersist(
      d.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o")))
    val rowT = cells.groupBy(col("lang")).agg(sum(col("o")).as("rt"))
    val colT = cells.groupBy(col("source")).agg(sum(col("o")).as("ct"))
    val tot = d.agg(count(lit(1)).as("n_tot"))
    val e = col("rt").cast("double") * col("ct").cast("double") /
      col("n_tot").cast("double")
    val contrib = (col("o").cast("double") - col("e")) *
      (col("o").cast("double") - col("e")) / col("e")
    cells
      .join(broadcast(rowT), "lang")
      .join(broadcast(colT), "source")
      .crossJoin(broadcast(tot))
      .withColumn("e", e)
      .withColumn("contrib", round(contrib, 6))
      .withColumn("chi2", graft.functions.Det.dsumOver(col("contrib"),
        Window.partitionBy(), scale = 6))
      .select(col("lang"), col("source"), col("o"), round(col("e"), 6).as("e"),
        col("contrib"), col("chi2"))
      .orderBy("lang", "source")
  }

  /** NEAREST AS-OF JOIN (r16) — the bidirectional twin of [[qJoinAsof]]
    * (backward-only): each purchase matches its user's CLOSEST click in
    * time, looking BOTH directions (the trade-to-nearest-quote /
    * reading-to-nearest-calibration shape; ties at equal distance break
    * backward). Same MERGE-SCAN plan: union the two sides tagged, ONE
    * sort per user timeline, carry the latest click backward
    * (last ignoreNulls over PRECEDING) and the earliest click forward
    * (first ignoreNulls over FOLLOWING), pick the nearer in exact integer
    * micros — the sign of the emitted diff encodes the direction. No
    * purchases×clicks range join, no per-user collect; purchases with no
    * click on either side drop (inner semantics). */
  val qJoinAsofNearest: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id").as("u"), unix_micros(col("ts")).as("t"),
        // clicks sort before a same-instant purchase → land in the
        // backward carry, so a zero-distance match resolves backward.
        when(col("event_type") === "click", 0).otherwise(1).as("is_probe"),
        col("event_id"))
    val w = Window.partitionBy(col("u"))
      .orderBy(col("t"), col("is_probe"), col("event_id"))
    val c = when(col("is_probe") === 0,
      struct(col("t").as("ct"), col("event_id").as("click_id")))
    val back = last(c, ignoreNulls = true)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val fwd = first(c, ignoreNulls = true)
      .over(w.rowsBetween(1, Window.unboundedFollowing))
    base
      .withColumn("bo", back).withColumn("fo", fwd)
      .filter(col("is_probe") === 1)
      .withColumn("pick",
        when(col("bo").isNull, col("fo"))
          .when(col("fo").isNull, col("bo"))
          .when(col("t") - col("bo.ct") <= col("fo.ct") - col("t"), col("bo"))
          .otherwise(col("fo")))
      .filter(col("pick").isNotNull)
      .select(col("event_id"), col("u").as("user_id"),
        col("pick.click_id").as("click_id"),
        (col("t") - col("pick.ct")).as("signed_diff_us"))
      .orderBy("event_id")
  }

  /** RFM SEGMENTATION (r16) — the classic marketing customer scoring
    * (recency / frequency / monetary, each binned into quintiles): per
    * user, hours since last event, event count and exact-decimal spend;
    * each metric scored 1–5 against the population's EXACT interpolated
    * quintile edges (score = 1 + edges cleared; recency inverted — fewer
    * days clears more edges). Threshold scoring, NOT ntile: a global
    * ntile sorts the whole user frame in one task, while the 12 scalar
    * edges broadcast as literals and the scoring pass is row-local — the
    * shape that survives 10⁹ users.
    *
    * Size-routed edges (the q_agg_median pairing): single-buffer
    * `percentile` below the one-task gate, groupedQuantilesExact's
    * bucketed two-pass (bit-identical interpolation) above it — both
    * forms score with the same 12 doubles, so routing never changes
    * results. Strict comparisons at the edges tie identically in both
    * engines. */
  private def rfmUsers(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Det
    val ev = Tables.events(s, dir)
    val gmax = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
    ev.groupBy(col("user_id"))
      .agg(max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("freq"), Det.dsum(col("value"), 2).as("monetary"))
      .select(col("user_id"),
        expr(s"(${gmax}L - last_us) div 3600000000").as("rec_hours"),
        col("freq"), col("monetary"))
  }

  private def rfmFinish(users: DataFrame, re: Seq[Double], fe: Seq[Double],
                        me: Seq[Double]): DataFrame = {
    def score(m: org.apache.spark.sql.Column, edges: Seq[Double],
              lowerIsBetter: Boolean) =
      edges.map(e => when(
          if (lowerIsBetter) m < lit(e) else m > lit(e), lit(1L))
        .otherwise(lit(0L))).reduce(_ + _) + lit(1L)
    users.select(col("user_id"), col("rec_hours"), col("freq"), col("monetary"),
        score(col("rec_hours"), re, lowerIsBetter = true).as("r_score"),
        score(col("freq"), fe, lowerIsBetter = false).as("f_score"),
        score(col("monetary"), me, lowerIsBetter = false).as("m_score"))
      .withColumn("rfm_code",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .orderBy("user_id")
  }

  private val rfmPs = Seq(0.2, 0.4, 0.6, 0.8)

  private[graft] val rfmAggForm: Q = (s, dir) => {
    val users = graft.operators.ScaleOps.trackedPersist(rfmUsers(s, dir))
    val psArr = s"array(${rfmPs.mkString(", ")})"
    val r = users.agg(
      expr(s"percentile(rec_hours, $psArr)").as("re"),
      expr(s"percentile(freq, $psArr)").as("fe"),
      expr(s"percentile(monetary, $psArr)").as("me")).head()
    rfmFinish(users, r.getSeq[Double](0), r.getSeq[Double](1), r.getSeq[Double](2))
  }

  private[graft] val rfmScaleForm: Q = (s, dir) => {
    val users = graft.operators.ScaleOps.trackedPersist(rfmUsers(s, dir))
    def edges(v: String): Seq[Double] = {
      val r = graft.operators.ScaleOps
        .groupedQuantilesExact(users, lit(1), col(v), ps = rfmPs).head()
      rfmPs.indices.map(i => r.getAs[Number](s"q_$i").doubleValue())
    }
    rfmFinish(users, edges("rec_hours"), edges("freq"), edges("monetary"))
  }

  def rfmRouted(maxOneTaskBytes: Long = graft.Conf.OneTaskSortMaxBytes): Q =
    (s, dir) =>
      graft.operators.ScaleOps.routeBySize(Tables.events(s, dir), maxOneTaskBytes)(
        rfmAggForm(s, dir))(rfmScaleForm(s, dir))

  val qEventsRfm: Q = rfmRouted()

  /** MODE — the deterministic ordered-set aggregate (most frequent
    * l_quantity per return flag, SMALLEST value on ties — the tie rule is
    * the whole contract; an engine's native `mode()` picks arbitrarily,
    * so both sides spell it as count + rank): one map-side-combined
    * (flag, qty) aggregation, then a 3-partition window picks the winner.
    * The first aggregation does the data-volume work; the window frame is
    * #distinct-quantities per flag (≤50 rows) at any corpus size. */
  val qAggMode: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("n_mode").desc, col("mode_qty"))
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"),
        // round-then-cast, not truncating cast: the DuckDB twin's
        // CAST(… AS BIGINT) rounds, so the key must too if l_quantity
        // ever carries fractional values (ADVICE r17).
        round(col("l_quantity")).cast("long").as("mode_qty"))
      .agg(count(lit(1)).as("n_mode"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("mode_qty"), col("n_mode"))
      .orderBy("l_returnflag")
  }

  // -------------------------------------------- sort / top-k / set ops

  /** Multi-key sort with explicit NULLS placement (Spark default is
    * ASC NULLS FIRST, DuckDB's is NULLS LAST — always spell it out). */
  val qSortMulti: Q = (s, dir) =>
    Tables.customer(s, dir)
      .select(
        col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        expr("nullif(c_mktsegment, 'BUILDING')").as("seg_or_null"))
      .orderBy(col("seg_or_null").asc_nulls_last, col("c_acctbal").desc, col("c_custkey"))
      .limit(200)

  /** Global top-k → TakeOrderedAndProjectExec (per-partition heaps + driver
    * merge — the distributed form of the reference's P3 heap merge). */
  val qTopk: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .select(
        liKey.map(col) :+
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")), 2).as("charge"): _*)
      .orderBy(col("charge").desc +: liKey.map(col): _*)
      .limit(20)

  /** UNION ALL + UNION DISTINCT composition. */
  val qSetUnion: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val a = c.filter(col("c_mktsegment") === "BUILDING").select(lit("building").as("src"), col("c_custkey"))
    val b = c.filter(col("c_acctbal") > 5000.0).select(lit("rich").as("src"), col("c_custkey"))
    val d = c.filter(col("c_acctbal") > 7000.0).select(lit("rich").as("src"), col("c_custkey"))
    a.union(b).union(d).distinct().orderBy("src", "c_custkey")
  }

  /** INTERSECT (distinct semantics in both engines). */
  val qSetIntersect: Q = (s, dir) =>
    Tables.part(s, dir).filter(col("p_size") > 25).select(col("p_partkey"))
      .intersect(Tables.lineitem(s, dir).select(col("l_partkey").as("p_partkey")))
      .orderBy("p_partkey")

  /** EXCEPT (distinct): customers with no 2001 orders. */
  val qSetExcept: Q = (s, dir) =>
    Tables.customer(s, dir).select(col("c_custkey"))
      .except(
        Tables.orders(s, dir)
          .filter(year(col("o_orderdate")) === 2001)
          .select(col("o_custkey").as("c_custkey")))
      .orderBy("c_custkey")

  /** EXCEPT ALL — BAG-semantics difference (multiplicities subtract, the
    * SQL standard's other half next to q_set_except's DISTINCT form):
    * every lineitem partkey minus the returned ('R') occurrences — a
    * partkey shipped 5 times with 2 returns keeps multiplicity 3.
    * Spark plans exceptAll as the generate/replicate-count form (count
    * both sides per key, emit max(L−R, 0) copies) — hash aggregation, no
    * per-row anti join; output re-aggregated to (key, multiplicity) so
    * the graded frame is compact. */
  val qSetExceptAll: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    li.select(col("l_partkey"))
      .exceptAll(li.filter(col("l_returnflag") === "R").select(col("l_partkey")))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
      .orderBy("l_partkey")
  }

  /** INTERSECT ALL — BAG-semantics intersection (min multiplicity per
    * side), the companion key: partkeys both shipped as 'R' and as 'A',
    * kept min(#R, #A) times. */
  val qSetIntersectAll: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    li.filter(col("l_returnflag") === "R").select(col("l_partkey"))
      .intersectAll(li.filter(col("l_returnflag") === "A").select(col("l_partkey")))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
      .orderBy("l_partkey")
  }

  /** FUNNEL CONVERSION LATENCY (r16) — the time-to-convert distribution
    * behind every funnel dashboard (q_funnel_steps counts WHO converts;
    * this measures HOW FAST): per user, exact micros from the FIRST view
    * to the FIRST purchase at-or-after it. Two map-side-combined per-user
    * aggregates + one co-partitioned join — all three shuffles share the
    * user key, so EnsureRequirements collapses them onto one exchange
    * per side and no range join or per-user collect appears. */
  val qFunnelLatency: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("v_us"))
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
      .join(firstView, Seq("user_id"))
      .filter(col("p_us") >= col("v_us"))
      .groupBy(col("user_id"))
      .agg(min(col("v_us")).as("first_view_us"),
        (min(col("p_us")) - min(col("v_us"))).as("latency_us"))
      .orderBy("user_id")
  }

  val queries: Map[String, Q] = Map(
    "q_scan_parquet" -> qScanParquet,
    "q_scan_events_ns" -> qScanEventsNs,
    "q_source_csv" -> qSourceCsv,
    "q_source_jsonl" -> qSourceJsonl,
    "q_source_malformed" -> qSourceMalformed,
    "q_source_orc" -> qSourceOrc,
    "q_source_xml" -> qSourceXml,
    "q_layout_prune" -> qLayoutPrune,
    "q_layout_compact" -> qLayoutCompact,
    "q_layout_evolve" -> qLayoutEvolve,
    "q_layout_zorder" -> qLayoutZorder,
    "q_layout_hilbert" -> qLayoutHilbert,
    "q_layout_bucketed" -> qLayoutBucketed,
    "q_layout_manifest" -> qLayoutManifest,
    "q_layout_manifest_append" -> qLayoutManifestAppend,
    "q_layout_txn" -> qLayoutTxn,
    "q_layout_timetravel" -> qLayoutTimetravel,
    "q_layout_delete" -> qLayoutDelete,
    "q_layout_update" -> qLayoutUpdate,
    "q_layout_optimize" -> qLayoutOptimize,
    "q_layout_vacuum" -> qLayoutVacuum,
    "q_layout_clone" -> qLayoutClone,
    "q_layout_analyze" -> qLayoutAnalyze,
    "q_layout_concurrent" -> qLayoutConcurrent,
    "q_layout_cbo" -> qLayoutCbo,
    "q_layout_cbo_hist" -> qLayoutCboHist,
    "q_layout_cbo_incr" -> qLayoutCboIncr,
    "q_layout_rename" -> qLayoutRename,
    "q_layout_dv" -> qLayoutDv,
    "q_layout_constraint" -> qLayoutConstraint,
    "q_layout_skipping" -> qLayoutSkipping,
    "q_layout_bloom_index" -> qLayoutBloomIndex,
    "q_layout_wap" -> qLayoutWap,
    "q_layout_partition_evolve" -> qLayoutPartitionEvolve,
    "q_layout_stats_merge" -> qLayoutStatsMerge,
    "q_merge_upsert" -> qMergeUpsert,
    "q_merge_cdf" -> qMergeCdf,
    "q_agg_view_maintain" -> qAggViewMaintain,
    "q_join_view_maintain" -> qJoinViewMaintain,
    "q_agg_rollup_rewrite" -> qAggRollupRewrite,
    "q_agg_rollup_filter" -> qAggRollupFilter,
    "q_agg_rollup_join" -> qAggRollupJoin,
    "q_agg_rollup_grain" -> qAggRollupGrain,
    "q_scd2_snapshot" -> qScd2Snapshot,
    "q_scd2_merge" -> qScd2Merge,
    "q_scd2_asof" -> qScd2Asof,
    "q_pivot_events" -> qPivotEvents,
    "q_funnel_steps" -> qFunnelSteps,
    "q_funnel_latency" -> qFunnelLatency,
    "q_retention_cohorts" -> qRetentionCohorts,
    "q_sessionize_gap" -> qSessionizeGap,
    "q_events_sequence" -> qEventsSequence,
    "q_events_forecast" -> qEventsForecast,
    "q_events_changepoint" -> qEventsChangepoint,
    "q_unpivot_measures" -> qUnpivotMeasures,
    "q_subquery_scalar" -> qSubqueryScalar,
    "q_fuzzy_match" -> qFuzzyMatch,
    "q_proj_compute" -> qProjCompute,
    "q_filter_pred" -> qFilterPred,
    "q_filter_null" -> qFilterNull,
    "q_join_inner" -> qJoinInner,
    "q_join_multiway" -> qJoinMultiway,
    "q_join_left" -> qJoinLeft,
    "q_join_full" -> qJoinFull,
    "q_join_semi" -> qJoinSemi,
    "q_join_anti" -> qJoinAnti,
    "q_join_theta" -> qJoinTheta,
    "q_join_range" -> qJoinRange,
    "q_join_interval_overlap" -> qJoinIntervalOverlap,
    "q_join_asof" -> qJoinAsof,
    "q_join_asof_nearest" -> qJoinAsofNearest,
    "q_join_skewed" -> qJoinSkewed,
    "q_join_bloom" -> qJoinBloom,
    "q_agg_pricing" -> qAggPricing,
    "q_agg_distinct" -> qAggDistinct,
    "q_agg_approx_distinct" -> qAggApproxDistinct,
    "q_agg_sketch_merge" -> qAggSketchMerge,
    "q_agg_quantile_sketch" -> qAggQuantileSketch,
    "q_agg_heavyhitters" -> qAggHeavyHitters,
    "q_agg_groupingsets" -> qAggGroupingSets,
    "q_agg_stats" -> qAggStats,
    "q_agg_histogram" -> qAggHistogram,
    "q_stats_outliers" -> qStatsOutliers,
    "q_stats_ttest" -> qStatsTtest,
    "q_stats_chisq" -> qStatsChisq,
    "q_graph_pagerank" -> qGraphPagerank,
    "q_graph_triangles" -> qGraphTriangles,
    "q_sql_tpch" -> qSqlTpch,
    "q_sql_correlated" -> qSqlCorrelated,
    "q_sql_recursive" -> qSqlRecursive,
    "q_sql_lateral" -> qSqlLateral,
    "q_sql_merge" -> qSqlMerge,
    "q_sql_merge_delta" -> qSqlMergeDelta,
    "q_sql_update" -> qSqlUpdate,
    "q_sql_delete" -> qSqlDelete,
    "q_sql_ctas" -> qSqlCtas,
    "q_sql_pivot" -> qSqlPivot,
    "q_quality_constraints" -> qQualityConstraints,
    "q_quality_drift" -> qQualityDrift,
    "q_agg_bitmap" -> qAggBitmap,
    "q_graph_reachability" -> qGraphReachability,
    "q_graph_kcore" -> qGraphKcore,
    "q_graph_label_prop" -> qGraphLabelProp,
    "q_graph_cooccur" -> qGraphCooccur,
    "q_agg_topk_group" -> qAggTopkGroup,
    "q_graph_sssp" -> qGraphSssp,
    "q_events_anomaly" -> qEventsAnomaly,
    "q_events_pattern" -> qEventsPattern,
    "q_events_markov" -> qEventsMarkov,
    "q_events_attribution" -> qEventsAttribution,
    "q_agg_argmax" -> qAggArgmax,
    "q_events_densify" -> qEventsDensify,
    "q_agg_incremental" -> qAggIncremental,
    "q_agg_median" -> qAggMedian,
    "q_agg_weighted_median" -> qAggWeightedMedian,
    "q_stats_winsorize" -> qStatsWinsorize,
    "q_agg_moments" -> qAggMoments,
    "q_agg_mode" -> qAggMode,
    "q_events_rfm" -> qEventsRfm,
    "q_sort_multi" -> qSortMulti,
    "q_topk" -> qTopk,
    "q_set_union" -> qSetUnion,
    "q_set_intersect" -> qSetIntersect,
    "q_set_except" -> qSetExcept,
    "q_set_except_all" -> qSetExceptAll,
    "q_set_intersect_all" -> qSetIntersectAll)

  /** The clustered-files + stats-manifest layout q_layout_manifest plans
    * from, staged once per lineitem snapshot. Factored out so the bench
    * warmup can pre-build it UNTIMED — it is fixture setup (the table's
    * storage posture), not part of the graded read. */
  def stagedManifestLayout(s: SparkSession, dir: String): String =
    Tables.stagedFixture(s, s"$dir/lineitem.parquet",
      "lineitem-manifest", dir, "v3") { d => // v3: commit_ver + op log columns
      graft.sources.Layout.writeManifested(
        Tables.lineitem(s, dir), d, "l_shipdate", numFiles = 16)
    }

  /** The two-generation (base build + incremental append) manifested layout
    * q_layout_manifest_append plans from, staged once per lineitem
    * snapshot. The build-then-append sequence is the fixture; the graded op
    * is the manifest-planned read over the result. */
  def stagedManifestAppendLayout(s: SparkSession, dir: String): String =
    Tables.stagedFixture(s, s"$dir/lineitem.parquet",
      "lineitem-manifest-append", dir, "v3") { d => // v3: commit_ver + op log columns
      val li = Tables.lineitem(s, dir)
      graft.sources.Layout.writeManifested(
        li.filter(col("l_orderkey") % 7 =!= 3), d, "l_shipdate", numFiles = 12)
      graft.sources.Layout.appendManifested(
        li.filter(col("l_orderkey") % 7 === 3), d, "l_shipdate", numFiles = 4)
      ()
    }

  /** The two-layout CROSS-TABLE-TRANSACTION fixture q_layout_txn plans
    * from (Layout.txnBegin/txnAppendManifested/txnPublish): documents and
    * embeddings each get a manifested base (ids % 10 < 6), then three
    * ingest transactions spanning BOTH layouts —
    *   A (ids % 10 ∈ {6,7}): committed to both layouts, marker PUBLISHED;
    *   B (ids % 10 == 8):    committed to both layouts, marker never
    *                         published (crash after the second commit,
    *                         before the atomic publish);
    *   C (ids % 10 == 9):    committed to the documents layout only
    *                         (crash between the two layouts' commits).
    * Visibility must be all-or-nothing per transaction: reads of either
    * layout see base ∪ A and nothing of B or C. Staged once per corpus
    * snapshot; the graded op is the joined read over the result. */
  def stagedTxnLayouts(s: SparkSession, dir: String): String =
    Tables.stagedFixture(s, s"$dir/documents.parquet",
      "txn-layouts", dir, "v1") { d =>
      import graft.sources.Layout
      val docs = Tables.documents(s, dir)
      val vecs = Tables.embeddings(s, dir)
      Layout.writeManifested(docs.filter(col("doc_id") % 10 < 6),
        s"$d/docs", "doc_id", numFiles = 4)
      Layout.writeManifested(vecs.filter(col("vec_id") % 10 < 6),
        s"$d/vecs", "vec_id", numFiles = 4)
      val a = Layout.txnBegin(s, s"$d/txn/A.commit")
      Layout.txnAppendManifested(
        docs.filter(col("doc_id") % 10 >= 6 && col("doc_id") % 10 <= 7),
        s"$d/docs", "doc_id", numFiles = 2, a)
      Layout.txnAppendManifested(
        vecs.filter(col("vec_id") % 10 >= 6 && col("vec_id") % 10 <= 7),
        s"$d/vecs", "vec_id", numFiles = 2, a)
      Layout.txnPublish(s, a)
      val b = Layout.txnBegin(s, s"$d/txn/B.commit")
      Layout.txnAppendManifested(docs.filter(col("doc_id") % 10 === 8),
        s"$d/docs", "doc_id", numFiles = 2, b)
      Layout.txnAppendManifested(vecs.filter(col("vec_id") % 10 === 8),
        s"$d/vecs", "vec_id", numFiles = 2, b)
      // crash: B's marker is never published
      val c = Layout.txnBegin(s, s"$d/txn/C.commit")
      Layout.txnAppendManifested(docs.filter(col("doc_id") % 10 === 9),
        s"$d/docs", "doc_id", numFiles = 2, c)
      // crash: C never reaches the embeddings layout, never publishes
      ()
    }

  /** The deleted-from manifested layout q_layout_delete plans from: full
    * lineitem built at v0, then a copy-on-write DELETE of H1 1997 commits
    * rewrites + tombstones at v1. Staged once per lineitem snapshot — the
    * delete is table maintenance; the graded op is the post-delete
    * planned read. */
  def stagedManifestDeleteLayout(s: SparkSession, dir: String): String =
    Tables.stagedFixture(s, s"$dir/lineitem.parquet",
      "lineitem-manifest-delete", dir, "v1") { d =>
      graft.sources.Layout.writeManifested(
        Tables.lineitem(s, dir), d, "l_shipdate", numFiles = 12)
      graft.sources.Layout.deleteManifested(s, d, "l_shipdate",
        lit("1997-01-01").cast("timestamp"), lit("1997-07-01").cast("timestamp"),
        numFiles = 2)
      ()
    }

  /** The updated manifested layout q_layout_update plans from: full
    * lineitem built at v0, then a copy-on-write UPDATE restating H2 1998
    * prices (×1.1) commits rewrites + tombstones at v1. */
  def stagedManifestUpdateLayout(s: SparkSession, dir: String): String =
    Tables.stagedFixture(s, s"$dir/lineitem.parquet",
      "lineitem-manifest-update", dir, "v1") { d =>
      graft.sources.Layout.writeManifested(
        Tables.lineitem(s, dir), d, "l_shipdate", numFiles = 12)
      graft.sources.Layout.updateManifested(s, d, "l_shipdate",
        lit("1998-07-01").cast("timestamp"), lit("1999-01-01").cast("timestamp"),
        "l_extendedprice", col("l_extendedprice") * 1.1, numFiles = 2)
      ()
    }

  /** The compacted manifested layout q_layout_optimize plans from: four
    * per-tick appends (l_orderkey % 4 slices, 6 small files each — the
    * accumulation shape of a streaming sink) then ONE compaction commit
    * rewriting the live set into 8 clustered files. */
  def stagedManifestOptimizeLayout(s: SparkSession, dir: String): String =
    Tables.stagedFixture(s, s"$dir/lineitem.parquet",
      "lineitem-manifest-optimize", dir, "v1") { d =>
      val li = Tables.lineitem(s, dir)
      for (m <- 0 to 3)
        graft.sources.Layout.appendManifested(
          li.filter(col("l_orderkey") % 4 === m), d, "l_shipdate", numFiles = 6)
      graft.sources.Layout.compactManifested(s, d, "l_shipdate", numFiles = 8)
      ()
    }

  /** The GC'd manifested layout q_layout_vacuum plans from: full lineitem
    * at v0, a copy-on-write DELETE of H1 1996 tombstoning at v1, a planted
    * orphan in data/ (crashed-append residue), then both GC passes with
    * the certificate q_layout_vacuum's contract documents. */
  def stagedManifestVacuumLayout(s: SparkSession, dir: String): String =
    Tables.stagedFixture(s, s"$dir/lineitem.parquet",
      "lineitem-manifest-vacuum", dir, "v1") { d =>
      import org.apache.hadoop.fs.Path
      val li = Tables.lineitem(s, dir)
      graft.sources.Layout.writeManifested(li, d, "l_shipdate", numFiles = 12)
      graft.sources.Layout.deleteManifested(s, d, "l_shipdate",
        lit("1996-01-01").cast("timestamp"), lit("1996-07-01").cast("timestamp"),
        numFiles = 2)
      // Plant the crash residue: a real parquet data file in data/ that no
      // manifest row references (appendManifested moves data files into
      // place moments BEFORE their manifest row commits — this is that
      // window's leftover).
      val fs = new Path(d).getFileSystem(s.sparkContext.hadoopConfiguration)
      val tmp = s"$d/orphan-tmp"
      li.limit(500).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new Path(tmp))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      fs.rename(part, new Path(s"$d/data/orphan-crashed-append.parquet"))
      fs.delete(new Path(tmp), true)
      val orphans = graft.sources.Layout.vacuumManifested(s, d)
      val expired = graft.sources.Layout.expireRemoved(s, d, throughVer = 1L)
      val live = s.read.parquet(s"$d/manifest")
        .groupBy(col("file_path")).agg(count(lit(1)).as("ops"))
        .filter(col("ops") === 1).count() // add with no matching remove
      val onDisk = fs.listStatus(new Path(s"$d/data"))
        .count(_.getPath.getName.endsWith(".parquet")).toLong
      if (orphans < 1 || expired < 1 || onDisk != live)
        sys.error(s"vacuum certificate failed: $orphans orphans, " +
          s"$expired expired, $onDisk files on disk vs $live live manifest " +
          "entries — GC deleted live bytes or skipped dead ones")
      ()
    }

  /** The cloned-then-mutated layout pair q_layout_clone plans from:
    * source = full lineitem at v0 under $d/src; clone = zero-copy manifest
    * under $d/clone, then a copy-on-write DELETE of H1 1997 ON THE CLONE.
    * Certificate: source file set + version untouched; clone data dir
    * holds exactly the rewrite outputs. Returns the CLONE directory. */
  def stagedManifestCloneLayout(s: SparkSession, dir: String): String = {
    val d = Tables.stagedFixture(s, s"$dir/lineitem.parquet",
      "lineitem-manifest-clone", dir, "v1") { d =>
      import org.apache.hadoop.fs.Path
      val fs = new Path(d).getFileSystem(s.sparkContext.hadoopConfiguration)
      graft.sources.Layout.writeManifested(
        Tables.lineitem(s, dir), s"$d/src", "l_shipdate", numFiles = 12)
      def dataFiles(p: String) = fs.listStatus(new Path(s"$p/data"))
        .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet
      val preSrc = dataFiles(s"$d/src")
      val preVer = graft.sources.Layout.manifestVersion(s, s"$d/src")
      val referenced = graft.sources.Layout.shallowClone(s, s"$d/src", s"$d/clone")
      val cloneBytesAtClone = dataFiles(s"$d/clone")
      val (rewritten, _) = graft.sources.Layout.deleteManifested(
        s, s"$d/clone", "l_shipdate",
        lit("1997-01-01").cast("timestamp"), lit("1997-07-01").cast("timestamp"),
        numFiles = 2)
      val postSrc = dataFiles(s"$d/src")
      val postVer = graft.sources.Layout.manifestVersion(s, s"$d/src")
      val cloneData = dataFiles(s"$d/clone")
      if (referenced != preSrc.size || cloneBytesAtClone.nonEmpty ||
          postSrc != preSrc || postVer != preVer ||
          cloneData.size != rewritten)
        sys.error(s"shallow-clone certificate failed: referenced $referenced " +
          s"of ${preSrc.size} files, ${cloneBytesAtClone.size} bytes-copied " +
          s"files at clone time, source ${if (postSrc == preSrc) "intact" else "MUTATED"} " +
          s"(ver $preVer -> $postVer), clone data ${cloneData.size} vs " +
          s"$rewritten rewrites — zero-copy or isolation broken")
      ()
    }
    s"$d/clone"
  }

  /** The two-writer-raced layout q_layout_concurrent plans from (r17) —
    * optimistic-concurrency conflict validation graded deterministically.
    * Build at v0, then two staged-commit races over the SAME snapshot:
    *
    *  - DISJOINT race: deletes A ([1996-01,1996-04)) and B
    *    ([1998-07,1998-10)) both stage against v0; their tombstone sets
    *    share no file (certified). A commits at v1; B's claim of v1 loses,
    *    validates A's commit part against its read set, finds no overlap,
    *    and retries blind to WIN v2 — both land, no conflict, exactly the
    *    concurrent-append/disjoint-maintenance law.
    *  - CONFLICTING race: deletes C ([1996-06,1996-12)) and D
    *    ([1996-09,1997-03)) both stage against v2; their candidate sets
    *    SHARE the files covering Sep–Nov 1996 (certified). C commits at
    *    v3; D's validated commit MUST throw CommitConflictException — its
    *    staged rewrite resurrects rows C deleted from the shared files —
    *    and D's staged adds are certified cleaned up (vacuum finds 0
    *    orphans). D then re-plans against v3 via
    *    deleteManifestedSerializable and commits at v4.
    *
    * Certificate: disjoint pair certified file-disjoint and BOTH
    * committed; conflicting pair certified file-overlapping, the loser's
    * first commit THREW, zero orphans after its cleanup, final version
    * == 4. The graded read then plans the full span from the final
    * manifest; its hash match against the oracle (all delete predicates
    * re-applied serially) proves the race resolved to the serial
    * execution — no lost update, no resurrected rows. At 100 TB this is
    * the first thing a multi-team lakehouse hits: two maintenance jobs on
    * one table, correctness decided at the version rename. */
  def stagedManifestConcurrentLayout(s: SparkSession, dir: String): String =
    Tables.stagedFixture(s, s"$dir/lineitem.parquet",
      "lineitem-manifest-concurrent", dir, "v1") { d =>
      import graft.sources.Layout
      def ts(x: String) = lit(x).cast("timestamp")
      Layout.writeManifested(Tables.lineitem(s, dir), d, "l_shipdate",
        numFiles = 12)
      // Disjoint race: both planned at v0.
      val pA = Layout.stageDelete(s, d, "l_shipdate",
        ts("1996-01-01"), ts("1996-04-01"), numFiles = 2).get
      val pB = Layout.stageDelete(s, d, "l_shipdate",
        ts("1998-07-01"), ts("1998-10-01"), numFiles = 2).get
      if ((pA.removedFiles & pB.removedFiles).nonEmpty)
        sys.error("concurrent certificate failed: disjoint-race deletes " +
          "share a file — widen the range gap vs the clustering width")
      Layout.commitStaged(s, d, pA)
      Layout.commitStaged(s, d, pB) // must validate-and-retry, not throw
      // Conflicting race: both planned at v2.
      val pC = Layout.stageDelete(s, d, "l_shipdate",
        ts("1996-06-01"), ts("1996-12-01"), numFiles = 2).get
      val pD = Layout.stageDelete(s, d, "l_shipdate",
        ts("1996-09-01"), ts("1997-03-01"), numFiles = 2).get
      if ((pC.removedFiles & pD.removedFiles).isEmpty)
        sys.error("concurrent certificate failed: conflicting-race deletes " +
          "share no file — ranges must overlap the same clustered files")
      Layout.commitStaged(s, d, pC)
      val conflicted =
        try { Layout.commitStaged(s, d, pD); false }
        catch { case _: Layout.CommitConflictException => true }
      if (!conflicted)
        sys.error("concurrent certificate failed: the conflicting commit " +
          "did not throw — a lost update was committed silently")
      val orphans = Layout.vacuumManifested(s, d)
      if (orphans != 0)
        sys.error(s"concurrent certificate failed: $orphans orphan(s) " +
          "after the conflicted loser's cleanup — staged adds leaked")
      Layout.deleteManifestedSerializable(s, d, "l_shipdate",
        ts("1996-09-01"), ts("1997-03-01"), numFiles = 2)
      val finalVer = Layout.manifestVersion(s, d)
      if (finalVer != 4L)
        sys.error(s"concurrent certificate failed: final version $finalVer " +
          "!= 4 (v0 build, v1/v2 disjoint pair, v3 winner, v4 re-planned loser)")
      ()
    }

  /** The renamed layout q_layout_rename plans from (r17): full lineitem
    * at v0, then l_extendedprice → l_price as a METADATA-ONLY rename
    * commit at v1 (Layout.renameColumn — column mapping, zero data bytes
    * rewritten). Certificate: the data file set is (name, length,
    * mtime)-IDENTICAL across the rename — a rename that touched any byte
    * fails loudly — and the manifest gained exactly one 'rename' row. */
  def stagedManifestRenameLayout(s: SparkSession, dir: String): String =
    Tables.stagedFixture(s, s"$dir/lineitem.parquet",
      "lineitem-manifest-rename", dir, "v1") { d =>
      import org.apache.hadoop.fs.Path
      val fs = new Path(d).getFileSystem(s.sparkContext.hadoopConfiguration)
      graft.sources.Layout.writeManifested(
        Tables.lineitem(s, dir), d, "l_shipdate", numFiles = 12)
      def fileSigs = fs.listStatus(new Path(s"$d/data"))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).toSet
      val pre = fileSigs
      graft.sources.Layout.renameColumn(s, d, "l_extendedprice", "l_price")
      val renameRows = s.read.parquet(s"$d/manifest")
        .filter(col("op") === "rename").count()
      if (fileSigs != pre || renameRows != 1L)
        sys.error(s"rename certificate failed: data files " +
          s"${if (fileSigs == pre) "identical" else "CHANGED"}, " +
          s"$renameRows rename row(s) — the rename was not metadata-only")
      ()
    }

  /** The deletion-vector layout q_layout_dv plans from (r17): full
    * lineitem at v0, then a MERGE-ON-READ positional delete of H1 1997
    * (Layout.deleteManifestedDV) at v1 — positions recorded in a DV
    * artifact, ZERO data files rewritten. Certificate: the data file set
    * is (name, length, mtime)-IDENTICAL across the delete, the DV
    * artifact exists, and its position count equals the predicate's
    * matching rows exactly. */
  def stagedManifestDvLayout(s: SparkSession, dir: String): String =
    Tables.stagedFixture(s, s"$dir/lineitem.parquet",
      "lineitem-manifest-dv", dir, "v1") { d =>
      import org.apache.hadoop.fs.Path
      val fs = new Path(d).getFileSystem(s.sparkContext.hadoopConfiguration)
      val li = Tables.lineitem(s, dir)
      graft.sources.Layout.writeManifested(li, d, "l_shipdate", numFiles = 12)
      def fileSigs = fs.listStatus(new Path(s"$d/data"))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).toSet
      val pre = fileSigs
      val lo = lit("1997-01-01").cast("timestamp")
      val hi = lit("1997-07-01").cast("timestamp")
      val (files, positions) =
        graft.sources.Layout.deleteManifestedDV(s, d, "l_shipdate", lo, hi)
      val expected = li
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi).count()
      if (fileSigs != pre || files < 1 || positions != expected)
        sys.error(s"DV certificate failed: data files " +
          s"${if (fileSigs == pre) "identical" else "CHANGED"}, $files DV'd " +
          s"file(s), $positions positions vs $expected matching rows — " +
          "the delete rewrote data or missed/over-deleted positions")
      ()
    }

  /** The constraint-guarded layout q_layout_constraint plans from (r17):
    * base = lineitem slices %5 ∉ {3,4} at v0; a VIOLATING append (the
    * %5==3 slice with quantity negated) must be REJECTED atomically —
    * certificate: ConstraintViolationException thrown, snapshot version
    * unmoved, zero orphan bytes staged — then the clean %5==4 slice
    * commits normally. Final table = everything except the rejected
    * batch, provable by the oracle's predicate. */
  def stagedManifestConstraintLayout(s: SparkSession, dir: String): String =
    Tables.stagedFixture(s, s"$dir/lineitem.parquet",
      "lineitem-manifest-constraint", dir, "v1") { d =>
      import graft.sources.Layout
      val li = Tables.lineitem(s, dir)
      val check = col("l_quantity") > 0
      Layout.writeManifested(
        li.filter(!(col("l_orderkey") % 5).isin(3, 4)), d, "l_shipdate", 12)
      val preVer = Layout.manifestVersion(s, d)
      val rejected =
        try {
          Layout.appendManifestedChecked(
            li.filter(col("l_orderkey") % 5 === 3)
              .withColumn("l_quantity", -col("l_quantity")),
            d, "l_shipdate", 4, check, "l_quantity > 0")
          false
        } catch { case _: Layout.ConstraintViolationException => true }
      val orphans = Layout.vacuumManifested(s, d)
      if (!rejected || Layout.manifestVersion(s, d) != preVer || orphans != 0)
        sys.error(s"constraint certificate failed: rejected=$rejected, " +
          s"version ${Layout.manifestVersion(s, d)} vs $preVer, " +
          s"$orphans orphan(s) — the violating batch was not rejected " +
          "atomically")
      Layout.appendManifestedChecked(
        li.filter(col("l_orderkey") % 5 === 4),
        d, "l_shipdate", 4, check, "l_quantity > 0")
      ()
    }

  /** The 2-D-manifested hilbert-clustered layout q_layout_skipping plans
    * from (r17), staged once per lineitem snapshot. */
  def staged2DManifestLayout(s: SparkSession, dir: String): String =
    Tables.stagedFixture(s, s"$dir/lineitem.parquet",
      "lineitem-manifest-2d", dir, "v1") { d =>
      graft.sources.Layout.writeManifested2D(
        Tables.lineitem(s, dir), d, "l_partkey", "l_suppkey", numFiles = 16)
    }

  /** The bloom-indexed layout q_layout_bloom_index plans from (r17): full
    * lineitem clustered by l_shipdate at v0 (so orderkey min/max envelopes
    * are useless), then the per-file bloom sidecar over l_orderkey built
    * in one pass. Certificate: the sidecar covers every live file and no
    * file exceeds the 2048-word geometry. */
  def stagedBloomLayout(s: SparkSession, dir: String): String =
    Tables.stagedFixture(s, s"$dir/lineitem.parquet",
      "lineitem-manifest-bloom", dir, "v3") { d => // v3: geometry + coverage markers
      import graft.sources.Layout
      Layout.writeManifested(Tables.lineitem(s, dir), d, "l_shipdate",
        numFiles = 12)
      Layout.buildBloomIndex(s, d, "l_orderkey")
      val idx = s.read.parquet(s"$d/bloomidx")
        .groupBy(col("file_path")).agg(count(lit(1)).as("n_words"),
          max(col("word_idx")).as("max_widx"))
      val liveFiles = s.read.parquet(s"$d/manifest")
        .filter(col("op") === "add").count()
      val covered = idx.count()
      val maxWidx = idx.agg(max(col("max_widx"))).head().getLong(0)
      if (covered != liveFiles || maxWidx >= Layout.BloomWords)
        sys.error(s"bloom certificate failed: $covered of $liveFiles files " +
          s"covered, max word_idx $maxWidx vs geometry ${Layout.BloomWords} — " +
          "the sidecar is incomplete or out of bounds")
      ()
    }

  /** The write-audit-published layout q_layout_wap plans from (r17): base
    * = lineitem %3 ≠ 2 at v0; a BAD batch (the %3==2 slice, quantities
    * negated) stages on branch wap-bad, fails audit, aborts — certified:
    * version unmoved, zero orphans, main rows unchanged; the GOOD %3==2
    * slice stages on wap-good — certified invisible on main, visible on
    * the branch — passes audit, publishes at exactly version+1, and the
    * refs dir is empty after. Final table = full lineitem. */
  def stagedWapLayout(s: SparkSession, dir: String): String =
    Tables.stagedFixture(s, s"$dir/lineitem.parquet",
      "lineitem-manifest-wap", dir, "v1") { d =>
      import graft.sources.Layout
      val li = Tables.lineitem(s, dir)
      val lo = lit("1900-01-01").cast("timestamp")
      val hi = lit("2100-01-01").cast("timestamp")
      def mainRows = Layout.manifestPrunedRead(s, d, lo, hi).count()
      Layout.writeManifested(li.filter(col("l_orderkey") % 3 =!= 2), d,
        "l_shipdate", numFiles = 12)
      val preVer = Layout.manifestVersion(s, d)
      val rows0 = mainRows
      // BAD batch: stage → audit fails on the O(batch) ref read → abort.
      Layout.wapStage(li.filter(col("l_orderkey") % 3 === 2)
        .withColumn("l_quantity", -col("l_quantity")), d, "l_shipdate", 4,
        "wap-bad")
      val badMin = Layout.wapRefRead(s, d, "wap-bad")
        .agg(min(col("l_quantity"))).head().getAs[Number](0).doubleValue()
      if (badMin >= 0)
        sys.error("wap certificate failed: the bad batch passed its audit")
      val aborted = Layout.wapAbort(s, d, "wap-bad")
      val orphans = Layout.vacuumManifested(s, d)
      if (aborted < 1 || orphans != 0 ||
          Layout.manifestVersion(s, d) != preVer || mainRows != rows0)
        sys.error(s"wap certificate failed: abort removed $aborted file(s), " +
          s"$orphans orphan(s) remained, version " +
          s"${Layout.manifestVersion(s, d)} vs $preVer — the failed audit " +
          "leaked state onto main")
      // GOOD batch: stage → invisible on main, visible on branch → audit
      // passes → publish atomically at version+1.
      Layout.wapStage(li.filter(col("l_orderkey") % 3 === 2), d,
        "l_shipdate", 4, "wap-good")
      val branchRows = Layout.wapBranchRead(s, d, "wap-good").count()
      val goodMin = Layout.wapRefRead(s, d, "wap-good")
        .agg(min(col("l_quantity"))).head().getAs[Number](0).doubleValue()
      val total = li.count()
      if (mainRows != rows0 || branchRows != total || goodMin <= 0)
        sys.error(s"wap certificate failed: main ${mainRows} vs $rows0 " +
          s"(staged batch visible on main), branch $branchRows vs $total — " +
          "branch isolation broken")
      val pubVer = Layout.wapPublish(s, d, "wap-good")
      val refsLeft = {
        import org.apache.hadoop.fs.Path
        val p = new Path(s"$d/refs")
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.listStatus(p).length else 0
      }
      if (pubVer != preVer + 1 || mainRows != total || refsLeft != 0)
        sys.error(s"wap certificate failed: published at v$pubVer " +
          s"(expected ${preVer + 1}), main $mainRows vs $total, " +
          s"$refsLeft ref(s) left — publish was not atomic or not complete")
      ()
    }

  /** The spec-evolved orders layout q_layout_partition_evolve plans from
    * (r18 batch): epoch 0 = pre-1997 orders partitioned by year; epoch 1
    * = the rest partitioned by year/month. Certificate: a mid-range plan
    * prunes strictly in BOTH epochs and skipped directories hold zero
    * in-range rows. */
  def stagedSpecEvolveLayout(s: SparkSession, dir: String): String =
    Tables.stagedFixture(s, s"$dir/orders.parquet",
      "orders-spec-evolve", dir, "v1") { d =>
      import graft.sources.Layout
      val o = Tables.orders(s, dir)
      val cut = lit("1997-01-01").cast("timestamp")
      Layout.writeSpecEpoch(
        o.filter(col("o_orderdate") < cut)
          .withColumn("year", year(col("o_orderdate"))),
        d, specId = 0, partCols = Seq("year"))
      Layout.writeSpecEpoch(
        o.filter(col("o_orderdate") >= cut)
          .withColumn("year", year(col("o_orderdate")))
          .withColumn("month", month(col("o_orderdate"))),
        d, specId = 1, partCols = Seq("year", "month"))
      val (kept, total) = Layout.specPlan(s, d, 199606, 199802)
      val keptFine = kept.count(_.contains("month="))
      val keptCoarse = kept.size - keptFine
      if (kept.isEmpty || kept.size >= total || keptCoarse < 1 || keptFine < 1)
        sys.error(s"spec-evolve certificate failed: kept ${kept.size} of " +
          s"$total leaf dirs ($keptCoarse coarse, $keptFine fine) — pruning " +
          "inert or an epoch missing from the plan")
      // Soundness: every skipped directory holds zero in-range rows.
      val all = Layout.specPlan(s, d, 190001, 210012)._1
      val skipped = all.filterNot(kept.toSet)
      val lo = lit("1996-06-01").cast("timestamp")
      val hi = lit("1998-03-01").cast("timestamp")
      val leaked = s.read.parquet(skipped: _*)
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi).count()
      if (leaked != 0)
        sys.error(s"spec-evolve certificate failed: $leaked in-range row(s) " +
          "in skipped directories — spec-aware pruning is unsound")
      ()
    }

  /** The day-partitioned events layout q_agg_incremental refreshes over,
    * staged once per events snapshot (same warmup rationale as
    * [[stagedManifestLayout]]). */
  def stagedEventsByDay(s: SparkSession, dir: String): String = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
    Tables.stagedFixture(s, s"$dir/events.parquet",
      "events-by-day", dir, "v1") { d =>
      graft.sources.Layout.writePartitioned(ev, d, "day")
    }
  }
}
