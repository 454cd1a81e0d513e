package graft

/** DuckDB-runnable ANSI SQL oracle per declared query key (SURVEY.md §2).
  *
  * Dialect-parity rules baked into every string (SURVEY.md §2.9):
  *  - money sums: `CAST(sum(CAST(x AS DECIMAL(38,10))) AS DOUBLE)` — exact,
  *    partition-order independent, mirrors graft.functions.Det.dsum;
  *  - every query ends in a total ORDER BY with unique-key tiebreak and
  *    explicit NULLS FIRST/LAST (Spark and DuckDB defaults differ);
  *  - ratio-like floats rounded (4–6 dp) on BOTH sides;
  *  - DuckDB lists are 1-indexed where Spark arrays are 0-indexed;
  *  - integer-ish derived outputs cast to BIGINT on both sides.
  */
object Oracle {

  /** Exact decimal money sum, as double (oracle twin of Det.dsum): rounded
    * decimal → exact scaled integer → one correctly-rounded double division.
    * (A direct DECIMAL→DOUBLE cast is NOT portable: DuckDB double-rounds via
    * `hugeint * 1e-10`, Spark rounds correctly via BigDecimal.) */
  private def dsum(x: String, scale: Int = 2): String = {
    val p = math.pow(10, scale).toLong
    s"CAST(round(sum(CAST($x AS DECIMAL(38,10))), $scale) * $p AS BIGINT) / $p.0"
  }

  private val scanSpecs = Seq(
    "region" -> "r_regionkey", "nation" -> "n_nationkey",
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey", "events" -> "event_id",
    "documents" -> "doc_id", "embeddings" -> "vec_id")

  val relational: Map[String, String] = Map(
    "q_scan_parquet" ->
      (scanSpecs.map { case (t, k) =>
        s"SELECT '$t' AS table_name, count(*) AS n_rows, CAST(min($k) AS BIGINT) AS min_key, CAST(max($k) AS BIGINT) AS max_key FROM $t"
      }.mkString("", " UNION ALL ", " ORDER BY table_name")),

    "q_scan_events_ns" ->
      """SELECT event_type, count(*) AS n, min(ts) AS min_ts, max(ts) AS max_ts
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q_source_orc" ->
      """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents GROUP BY source ORDER BY source""",

    // The Spark side serializes features as DOUBLE and Java's Double
    // round trip is the identity, so the parsed values equal the widened
    // source values exactly — the oracle reads them straight from parquet.
    // label arrives as INT through the CSV schema, so cast it here too.
    "q_source_csv" ->
      s"""WITH src AS (SELECT CAST(label AS INTEGER) AS label,
                              CAST(embedding[1] AS DOUBLE) AS f0
                       FROM embeddings ORDER BY vec_id LIMIT 200)
          SELECT label, count(*) AS n, ${davg("f0")} AS mean_f0
          FROM src GROUP BY label ORDER BY label""",

    // Plain aggregate over the source table: the Spark side's fragment →
    // compact → read-back chain must be content-preserving.
    "q_layout_compact" ->
      """SELECT lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM documents GROUP BY lang ORDER BY lang""",

    // Plain filtered SQL over the source table: the Spark side's partitioned
    // write + pruned read-back must be a lossless round trip.
    "q_layout_prune" ->
      """SELECT lang, source, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM documents WHERE lang IN ('en', 'de')
         GROUP BY 1, 2 ORDER BY lang, source""",

    // The oracle rebuilds the same deterministic changeset from customer and
    // applies MERGE semantics the declarative way: latest change per key via
    // row_number, full outer join against the base, deletes filtered, change
    // payload preferred. Raw IEEE double adds — no rounding needed.
    "q_merge_upsert" ->
      """WITH chg AS (
           SELECT c_custkey AS k, 1 AS seq, 'U' AS op, c_name, c_nationkey,
                  c_acctbal + 100.0 AS c_acctbal, c_mktsegment
             FROM customer WHERE c_custkey % 10 IN (1, 2)
           UNION ALL
           SELECT c_custkey, 2, 'U', c_name, c_nationkey,
                  c_acctbal + 300.0, c_mktsegment
             FROM customer WHERE c_custkey % 10 = 1
           UNION ALL
           SELECT c_custkey, 1, 'D', NULL, NULL, NULL, NULL
             FROM customer WHERE c_custkey % 10 = 7
           UNION ALL
           SELECT CAST(c_custkey + 10000000 AS BIGINT), 1, 'U',
                  'ins_' || CAST(c_custkey AS VARCHAR), c_nationkey,
                  0.0, c_mktsegment
             FROM customer WHERE c_custkey % 10 = 5),
         latest AS (
           SELECT * FROM (
             SELECT chg.*,
                    row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
             FROM chg) t WHERE rn = 1)
         SELECT CAST(COALESCE(l.k, c.c_custkey) AS BIGINT) AS c_custkey,
                CASE WHEN l.k IS NULL THEN c.c_name ELSE l.c_name END AS c_name,
                CAST(CASE WHEN l.k IS NULL THEN c.c_nationkey
                          ELSE l.c_nationkey END AS INTEGER) AS c_nationkey,
                CASE WHEN l.k IS NULL THEN c.c_acctbal
                     ELSE l.c_acctbal END AS c_acctbal,
                CASE WHEN l.k IS NULL THEN c.c_mktsegment
                     ELSE l.c_mktsegment END AS c_mktsegment
         FROM customer c FULL OUTER JOIN latest l ON c.c_custkey = l.k
         WHERE l.op IS NULL OR l.op <> 'D'
         ORDER BY c_custkey""",
    // Streaming CDC apply: the tick-by-tick fold must equal the one-shot
    // relational rebuild — the SAME merge reconstruction as q_merge_upsert
    // (the graded difference is the incremental path, certified at runtime
    // by the two committed versions + mid-differs-from-final checks).
    "q_stream_cdc_apply" ->
      """WITH chg AS (
           SELECT c_custkey AS k, 1 AS seq, 'U' AS op, c_name, c_nationkey,
                  c_acctbal + 100.0 AS c_acctbal, c_mktsegment
             FROM customer WHERE c_custkey % 10 IN (1, 2)
           UNION ALL
           SELECT c_custkey, 2, 'U', c_name, c_nationkey,
                  c_acctbal + 300.0, c_mktsegment
             FROM customer WHERE c_custkey % 10 = 1
           UNION ALL
           SELECT c_custkey, 1, 'D', NULL, NULL, NULL, NULL
             FROM customer WHERE c_custkey % 10 = 7
           UNION ALL
           SELECT CAST(c_custkey + 10000000 AS BIGINT), 1, 'U',
                  'ins_' || CAST(c_custkey AS VARCHAR), c_nationkey,
                  0.0, c_mktsegment
             FROM customer WHERE c_custkey % 10 = 5),
         latest AS (
           SELECT * FROM (
             SELECT chg.*,
                    row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
             FROM chg) t WHERE rn = 1)
         SELECT CAST(COALESCE(l.k, c.c_custkey) AS BIGINT) AS c_custkey,
                CASE WHEN l.k IS NULL THEN c.c_name ELSE l.c_name END AS c_name,
                CAST(CASE WHEN l.k IS NULL THEN c.c_nationkey
                          ELSE l.c_nationkey END AS INTEGER) AS c_nationkey,
                CASE WHEN l.k IS NULL THEN c.c_acctbal
                     ELSE l.c_acctbal END AS c_acctbal,
                CASE WHEN l.k IS NULL THEN c.c_mktsegment
                     ELSE l.c_mktsegment END AS c_mktsegment
         FROM customer c FULL OUTER JOIN latest l ON c.c_custkey = l.k
         WHERE l.op IS NULL OR l.op <> 'D'
         ORDER BY c_custkey""",

    // The CHANGE FEED the same fold applies: the identical latest-per-key
    // reduction classified against the base by join — absent key + 'U' =
    // insert, present + 'D' = delete (null post-image), present + 'U' =
    // update; a delete on an absent key emits nothing. Latest-wins means
    // at most one feed row per key, so ORDER BY key is total.
    "q_merge_cdf" ->
      """WITH chg AS (
           SELECT c_custkey AS k, 1 AS seq, 'U' AS op, c_name, c_nationkey,
                  c_acctbal + 100.0 AS c_acctbal, c_mktsegment
             FROM customer WHERE c_custkey % 10 IN (1, 2)
           UNION ALL
           SELECT c_custkey, 2, 'U', c_name, c_nationkey,
                  c_acctbal + 300.0, c_mktsegment
             FROM customer WHERE c_custkey % 10 = 1
           UNION ALL
           SELECT c_custkey, 1, 'D', NULL, NULL, NULL, NULL
             FROM customer WHERE c_custkey % 10 = 7
           UNION ALL
           SELECT CAST(c_custkey + 10000000 AS BIGINT), 1, 'U',
                  'ins_' || CAST(c_custkey AS VARCHAR), c_nationkey,
                  0.0, c_mktsegment
             FROM customer WHERE c_custkey % 10 = 5),
         latest AS (
           SELECT * FROM (
             SELECT chg.*,
                    row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
             FROM chg) t WHERE rn = 1)
         SELECT CAST(l.k AS BIGINT) AS c_custkey,
                CASE WHEN c.c_custkey IS NULL THEN 'insert'
                     WHEN l.op = 'D' THEN 'delete'
                     ELSE 'update' END AS change_type,
                c.c_name AS old_c_name,
                CAST(c.c_nationkey AS INTEGER) AS old_c_nationkey,
                c.c_acctbal AS old_c_acctbal,
                c.c_mktsegment AS old_c_mktsegment,
                CASE WHEN l.op = 'D' THEN NULL ELSE l.c_name END AS new_c_name,
                CAST(CASE WHEN l.op = 'D' THEN NULL
                          ELSE l.c_nationkey END AS INTEGER) AS new_c_nationkey,
                CASE WHEN l.op = 'D' THEN NULL ELSE l.c_acctbal END AS new_c_acctbal,
                CASE WHEN l.op = 'D' THEN NULL
                     ELSE l.c_mktsegment END AS new_c_mktsegment
         FROM latest l LEFT JOIN customer c ON c.c_custkey = l.k
         WHERE NOT (l.op = 'D' AND c.c_custkey IS NULL)
         ORDER BY c_custkey""",

    // The MV-rewrite key's oracle is deliberately the plain from-scratch
    // aggregate: the rewrite must be INVISIBLE in results (it only changes
    // the plan — PlanShapeSpec proves the aggregate was served from the
    // rollup scan). A rollup holding stale/wrong partials breaks the hash.
    "q_agg_rollup_rewrite" ->
      s"""SELECT c_mktsegment, count(*) AS n_customers,
                 ${dsum("c_acctbal")} AS acctbal_total
          FROM customer GROUP BY 1 ORDER BY 1""",

    // Feed-driven view maintenance must land on the SAME rollup a
    // from-scratch aggregate over the merged snapshot produces — so the
    // oracle recomputes: the identical latest-per-key merge, then the
    // per-segment count + exact decimal sum. A maintenance fold that
    // misses a delta (a moved segment, a delete, a superseded update)
    // breaks the hash.
    "q_agg_view_maintain" ->
      s"""WITH chg AS (
           SELECT c_custkey AS k, 1 AS seq, 'U' AS op, c_name, c_nationkey,
                  c_acctbal + 100.0 AS c_acctbal, c_mktsegment
             FROM customer WHERE c_custkey % 10 IN (1, 2)
           UNION ALL
           SELECT c_custkey, 2, 'U', c_name, c_nationkey,
                  c_acctbal + 300.0, c_mktsegment
             FROM customer WHERE c_custkey % 10 = 1
           UNION ALL
           SELECT c_custkey, 1, 'D', NULL, NULL, NULL, NULL
             FROM customer WHERE c_custkey % 10 = 7
           UNION ALL
           SELECT CAST(c_custkey + 10000000 AS BIGINT), 1, 'U',
                  'ins_' || CAST(c_custkey AS VARCHAR), c_nationkey,
                  0.0, c_mktsegment
             FROM customer WHERE c_custkey % 10 = 5),
         latest AS (
           SELECT * FROM (
             SELECT chg.*,
                    row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
             FROM chg) t WHERE rn = 1),
         merged AS (
           SELECT CASE WHEN l.k IS NULL THEN c.c_mktsegment
                       ELSE l.c_mktsegment END AS seg,
                  CASE WHEN l.k IS NULL THEN c.c_acctbal
                       ELSE l.c_acctbal END AS bal
           FROM customer c FULL OUTER JOIN latest l ON c.c_custkey = l.k
           WHERE l.op IS NULL OR l.op <> 'D')
         SELECT seg AS c_mktsegment, count(*) AS n_customers,
                ${dsum("bal")} AS acctbal_total
         FROM merged GROUP BY 1 ORDER BY 1""",

    // Join-view maintenance must land on the SAME rollup a from-scratch
    // join + aggregate over the merged state produces: final segment per
    // customer (the %10==2 moves applied), ALL orders (base ∪ the arriving
    // batch = the whole table). A fold that misses a leg — a move's base
    // history, an arriving order, the ΔO×ΔC overlap double-count — breaks
    // the hash.
    "q_join_view_maintain" ->
      s"""SELECT CASE WHEN c_custkey % 10 = 2 THEN 'REASSIGNED'
                      ELSE c_mktsegment END AS c_mktsegment,
                 count(*) AS n_orders, ${dsum("o_totalprice")} AS revenue
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY 1 ORDER BY 1""",

    // Same deterministic change-history construction as q_merge_upsert's
    // changeset, expanded to versions by the identical LEAD window; 'D'
    // rows contribute interval closure only.
    "q_scd2_snapshot" ->
      """WITH chg AS (
           SELECT c_custkey AS k, 0 AS seq, 'U' AS op, c_acctbal, c_mktsegment
             FROM customer
           UNION ALL
           SELECT c_custkey, 1, 'U', c_acctbal + 100.0, c_mktsegment
             FROM customer WHERE c_custkey % 10 IN (1, 2)
           UNION ALL
           SELECT c_custkey, 2, 'U', c_acctbal + 300.0, c_mktsegment
             FROM customer WHERE c_custkey % 10 = 1
           UNION ALL
           SELECT c_custkey, 3, 'D', NULL, NULL
             FROM customer WHERE c_custkey % 10 = 7
           UNION ALL
           SELECT c_custkey, 4, 'U', 0.0, c_mktsegment
             FROM customer WHERE c_custkey % 10 = 7 AND c_custkey % 3 = 1),
         v AS (SELECT chg.*,
                      lead(seq) OVER (PARTITION BY k ORDER BY seq) AS valid_to
               FROM chg)
         SELECT CAST(k AS BIGINT) AS c_custkey,
                CAST(seq AS INTEGER) AS valid_from,
                CAST(valid_to AS INTEGER) AS valid_to,
                valid_to IS NULL AS is_current,
                c_acctbal, c_mktsegment
         FROM v WHERE op = 'U'
         ORDER BY c_custkey, valid_from""",

    // The oracle KNOWS NOTHING of the incremental fold: it rebuilds the
    // dimension from scratch over the concatenated epoch-1 + epoch-2 log
    // with the identical LEAD window — so the hash match proves
    // refresh-per-tick (Scd.refreshType2) == backfill (Scd.buildType2).
    "q_scd2_merge" ->
      """WITH chg AS (
           SELECT c_custkey AS k, 0 AS seq, 'U' AS op, c_acctbal, c_mktsegment
             FROM customer
           UNION ALL
           SELECT c_custkey, 1, 'U', c_acctbal + 100.0, c_mktsegment
             FROM customer WHERE c_custkey % 10 IN (1, 2)
           UNION ALL
           SELECT c_custkey, 2, 'U', c_acctbal + 300.0, c_mktsegment
             FROM customer WHERE c_custkey % 10 = 1
           UNION ALL
           SELECT c_custkey, 3, 'D', NULL, NULL
             FROM customer WHERE c_custkey % 10 = 7
           UNION ALL
           SELECT c_custkey, 4, 'U', 0.0, c_mktsegment
             FROM customer WHERE c_custkey % 10 = 7 AND c_custkey % 3 = 1
           UNION ALL
           SELECT c_custkey, 5, 'U', c_acctbal + 500.0, c_mktsegment
             FROM customer WHERE c_custkey % 10 IN (2, 3)
           UNION ALL
           SELECT c_custkey, 6, 'D', NULL, NULL
             FROM customer WHERE c_custkey % 10 = 2 AND c_custkey % 3 = 0
           UNION ALL
           SELECT c_custkey, 5, 'U', 0.5, c_mktsegment
             FROM customer WHERE c_custkey % 10 = 7 AND c_custkey % 3 = 2
           UNION ALL
           SELECT CAST(c_custkey + 20000000 AS BIGINT), 5, 'U',
                  0.0, c_mktsegment
             FROM customer WHERE c_custkey % 10 = 4),
         v AS (SELECT chg.*,
                      lead(seq) OVER (PARTITION BY k ORDER BY seq) AS valid_to
               FROM chg)
         SELECT CAST(k AS BIGINT) AS c_custkey,
                CAST(seq AS INTEGER) AS valid_from,
                CAST(valid_to AS INTEGER) AS valid_to,
                valid_to IS NULL AS is_current,
                c_acctbal, c_mktsegment
         FROM v WHERE op = 'U'
         ORDER BY c_custkey, valid_from""",

    // AS-OF consumption of the Type-2 dimension: the oracle rebuilds the
    // full-epoch dimension with the proven LEAD window and applies the
    // identical equi-key + interval predicate; the inner join IS the
    // point-in-time existence check (deleted-as-of keys drop).
    "q_scd2_asof" ->
      s"""WITH chg AS (
           SELECT c_custkey AS k, 0 AS seq, 'U' AS op, c_acctbal, c_mktsegment
             FROM customer
           UNION ALL
           SELECT c_custkey, 1, 'U', c_acctbal + 100.0, c_mktsegment
             FROM customer WHERE c_custkey % 10 IN (1, 2)
           UNION ALL
           SELECT c_custkey, 2, 'U', c_acctbal + 300.0, c_mktsegment
             FROM customer WHERE c_custkey % 10 = 1
           UNION ALL
           SELECT c_custkey, 3, 'D', NULL, NULL
             FROM customer WHERE c_custkey % 10 = 7
           UNION ALL
           SELECT c_custkey, 4, 'U', 0.0, c_mktsegment
             FROM customer WHERE c_custkey % 10 = 7 AND c_custkey % 3 = 1
           UNION ALL
           SELECT c_custkey, 5, 'U', c_acctbal + 500.0, c_mktsegment
             FROM customer WHERE c_custkey % 10 IN (2, 3)
           UNION ALL
           SELECT c_custkey, 6, 'D', NULL, NULL
             FROM customer WHERE c_custkey % 10 = 2 AND c_custkey % 3 = 0
           UNION ALL
           SELECT c_custkey, 5, 'U', 0.5, c_mktsegment
             FROM customer WHERE c_custkey % 10 = 7 AND c_custkey % 3 = 2
           UNION ALL
           SELECT CAST(c_custkey + 20000000 AS BIGINT), 5, 'U',
                  0.0, c_mktsegment
             FROM customer WHERE c_custkey % 10 = 4),
         v AS (SELECT chg.*,
                      lead(seq) OVER (PARTITION BY k ORDER BY seq) AS valid_to
               FROM chg),
         dim AS (SELECT k, seq AS valid_from, valid_to, c_acctbal,
                        c_mktsegment
                 FROM v WHERE op = 'U')
         SELECT CAST(o.o_orderkey % 7 AS INTEGER) AS as_of, d.c_mktsegment,
                count(*) AS n_orders, ${dsum("d.c_acctbal")} AS bal
         FROM orders o JOIN dim d
           ON o.o_custkey = d.k
          AND d.valid_from <= o.o_orderkey % 7
          AND (d.valid_to IS NULL OR o.o_orderkey % 7 < d.valid_to)
         GROUP BY 1, 2 ORDER BY as_of, c_mktsegment""",

    // Bucketed write + catalog read-back are lossless (bucketing only fixes
    // WHERE rows land, never what they are), so the oracle is the plain
    // join aggregate over the source tables.
    "q_layout_bucketed" ->
      s"""SELECT c_mktsegment, o_orderstatus, count(*) AS n_orders,
                 ${dsum("o_totalprice")} AS spend
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY 1, 2 ORDER BY c_mktsegment, o_orderstatus""",

    // The manifest-planned read (file subset from per-file min/max stats)
    // plus the re-applied predicate is lossless, so the oracle is the plain
    // range aggregate over the source table.
    "q_layout_manifest" ->
      s"""SELECT l_returnflag, count(*) AS n,
                 ${dsum("l_extendedprice")} AS revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate < TIMESTAMP '1998-01-01'
          GROUP BY 1 ORDER BY l_returnflag""",

    // The incremental append (base % 7 != 3 built, % 7 == 3 appended as
    // new files + one new manifest part) is lossless over base ∪ batch =
    // the whole table, so the oracle is the plain range aggregate — any
    // row lost, duplicated, or mis-manifested by the append breaks the
    // hash.
    "q_layout_manifest_append" ->
      s"""SELECT l_linestatus, count(*) AS n,
                 ${dsum("l_extendedprice")} AS revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1997-01-01'
          GROUP BY 1 ORDER BY l_linestatus""",

    // Cross-table atomic commit: base (% 10 < 6) plus the PUBLISHED txn A
    // (% 10 in 6..7) must be visible in BOTH layouts; the crashed txns B
    // (% 10 == 8, committed to both but never published) and C (% 10 ==
    // 9, committed to documents only) in NEITHER. The oracle rebuilds the
    // all-or-nothing visibility by predicate — a half-visible transaction
    // on either side changes a cohort row and breaks the hash.
    "q_layout_txn" ->
      """WITH d AS (SELECT * FROM documents WHERE doc_id % 10 <= 7),
              v AS (SELECT * FROM embeddings WHERE vec_id % 10 <= 7),
              dd AS (SELECT doc_id % 10 AS cohort, count(*) AS n_docs,
                            CAST(sum(n_chars) AS BIGINT) AS sum_chars
                     FROM d GROUP BY 1),
              vv AS (SELECT vec_id % 10 AS cohort, count(*) AS n_vecs
                     FROM v GROUP BY 1)
         SELECT dd.cohort AS cohort, n_docs, sum_chars, n_vecs
         FROM dd JOIN vv ON dd.cohort = vv.cohort
         ORDER BY cohort""",

    // AS OF v0 over the two-generation layout must see ONLY the base
    // generation (l_orderkey % 7 != 3 — the pre-append snapshot), so the
    // oracle rebuilds that subset by predicate. A version filter that
    // leaks any appended (% 7 == 3) file's rows breaks the hash.
    "q_layout_timetravel" ->
      s"""SELECT l_returnflag, count(*) AS n,
                 ${dsum("l_extendedprice")} AS revenue
          FROM lineitem
          WHERE l_orderkey % 7 <> 3
            AND l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1997-01-01'
          GROUP BY 1 ORDER BY l_returnflag""",

    // Copy-on-write DELETE of H1 1997, then a planned read over a WIDER
    // range: the result must see rewritten survivors on both flanks of
    // the hole and zero deleted rows — the oracle re-applies the deletion
    // by predicate. A delete that loses survivor rows during the rewrite,
    // leaks deleted rows, or mis-tombstones a file breaks the hash.
    "q_layout_delete" ->
      s"""SELECT l_returnflag, count(*) AS n,
                 ${dsum("l_extendedprice")} AS revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-07-01'
            AND l_shipdate < TIMESTAMP '1998-07-01'
            AND NOT (l_shipdate >= TIMESTAMP '1997-01-01'
                     AND l_shipdate < TIMESTAMP '1997-07-01')
          GROUP BY 1 ORDER BY l_returnflag""",

    // Copy-on-write UPDATE restates H2 1998 prices (x1.1, one IEEE double
    // multiply — bit-identical in both engines); the graded read spans
    // updated and untouched halves of 1998, so a rewrite that touches an
    // out-of-range row, misses an in-range one, or loses a boundary file's
    // passthrough rows breaks the hash.
    "q_layout_update" ->
      s"""SELECT l_returnflag, count(*) AS n,
                 ${dsum("CASE WHEN l_shipdate >= TIMESTAMP '1998-07-01' AND l_shipdate < TIMESTAMP '1999-01-01' THEN l_extendedprice * CAST(1.1 AS DOUBLE) ELSE l_extendedprice END")} AS revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1998-01-01'
            AND l_shipdate < TIMESTAMP '1999-01-01'
          GROUP BY 1 ORDER BY l_returnflag""",

    // Four per-tick appends then ONE compaction commit; compaction is
    // lossless over the live set, so the oracle is the plain range
    // aggregate over the whole table — any row lost or duplicated by the
    // rewrite (or a tombstoned file still read) breaks the hash.
    "q_layout_optimize" ->
      s"""SELECT l_linestatus, count(*) AS n,
                 ${dsum("l_extendedprice")} AS revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate < TIMESTAMP '1998-01-01'
          GROUP BY 1 ORDER BY l_linestatus""",

    // ANALYZE twin: the same canonical BIGINT encodings; DuckDB computes
    // each column block over the shared scan.
    "q_layout_analyze" ->
      """SELECT 'l_orderkey' AS column_name, count(*) AS n_rows,
                count(l_orderkey) AS n_nonnull, count(DISTINCT l_orderkey) AS ndv,
                CAST(min(l_orderkey) AS BIGINT) AS min_v, CAST(max(l_orderkey) AS BIGINT) AS max_v
         FROM lineitem
         UNION ALL
         SELECT 'l_partkey' AS column_name, count(*) AS n_rows,
                count(l_partkey) AS n_nonnull, count(DISTINCT l_partkey) AS ndv,
                CAST(min(l_partkey) AS BIGINT) AS min_v, CAST(max(l_partkey) AS BIGINT) AS max_v
         FROM lineitem
         UNION ALL
         SELECT 'l_suppkey' AS column_name, count(*) AS n_rows,
                count(l_suppkey) AS n_nonnull, count(DISTINCT l_suppkey) AS ndv,
                CAST(min(l_suppkey) AS BIGINT) AS min_v, CAST(max(l_suppkey) AS BIGINT) AS max_v
         FROM lineitem
         UNION ALL
         SELECT 'l_quantity' AS column_name, count(*) AS n_rows,
                count(CAST(l_quantity AS BIGINT)) AS n_nonnull, count(DISTINCT CAST(l_quantity AS BIGINT)) AS ndv,
                CAST(min(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_v, CAST(max(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_v
         FROM lineitem
         UNION ALL
         SELECT 'l_price_cents' AS column_name, count(*) AS n_rows,
                count(CAST(round(l_extendedprice * 100) AS BIGINT)) AS n_nonnull, count(DISTINCT CAST(round(l_extendedprice * 100) AS BIGINT)) AS ndv,
                CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS min_v, CAST(max(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS max_v
         FROM lineitem
         UNION ALL
         SELECT 'l_shipdate_us' AS column_name, count(*) AS n_rows,
                count(epoch_us(l_shipdate)) AS n_nonnull, count(DISTINCT epoch_us(l_shipdate)) AS ndv,
                CAST(min(epoch_us(l_shipdate)) AS BIGINT) AS min_v, CAST(max(epoch_us(l_shipdate)) AS BIGINT) AS max_v
         FROM lineitem
         ORDER BY column_name""",

    // Shallow clone: inherited source files serve the flanks, the clone's
    // own rewrites serve the boundaries; the hash match proves zero-copy
    // inheritance and copy-on-write isolation at once.
    "q_layout_clone" ->
      s"""SELECT l_returnflag, count(*) AS n,
                 ${dsum("l_extendedprice")} AS revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-10-01'
            AND l_shipdate < TIMESTAMP '1997-10-01'
            AND NOT (l_shipdate >= TIMESTAMP '1997-01-01'
                     AND l_shipdate < TIMESTAMP '1997-07-01')
          GROUP BY 1 ORDER BY l_returnflag""",

    // Hilbert clustering is placement-only: the oracle is the lossless
    // round-trip aggregate (count + decimal revenue + exact key sums and
    // bounds) — any row lost, duplicated, or mutated by the clustered
    // rewrite breaks the hash; the curve itself is spec-pinned.
    "q_layout_hilbert" ->
      s"""SELECT count(*) AS n, ${dsum("l_extendedprice")} AS revenue,
                 CAST(sum(CAST(l_partkey AS BIGINT)) AS BIGINT) AS sum_pk,
                 CAST(sum(CAST(l_suppkey AS BIGINT)) AS BIGINT) AS sum_sk,
                 min(CAST(l_partkey AS BIGINT)) AS min_pk,
                 max(CAST(l_partkey AS BIGINT)) AS max_pk,
                 min(CAST(l_suppkey AS BIGINT)) AS min_sk,
                 max(CAST(l_suppkey AS BIGINT)) AS max_sk
          FROM lineitem""",

    // CHECK-constraint twin: the violating batch (the %5==3 slice with
    // negated quantities) was rejected atomically, so the final table is
    // everything except that slice — an accepted bad row would flip
    // sum_qty's sign contribution and break the hash loudly.
    "q_layout_constraint" ->
      s"""SELECT l_returnflag, count(*) AS n,
                 ${dsum("l_extendedprice")} AS revenue,
                 ${dsum("l_quantity")} AS sum_qty
          FROM lineitem
          WHERE l_orderkey % 5 <> 3
          GROUP BY 1 ORDER BY l_returnflag""",

    // 2-D data-skipping twin: the Spark side plans the box from the
    // two-column manifest and re-applies the predicate; the oracle is the
    // plain box aggregate with the same integer-division bounds.
    "q_layout_skipping" ->
      s"""WITH b AS (SELECT max(l_partkey) // 4 AS a_lo,
                            max(l_partkey) // 2 AS a_hi,
                            max(l_suppkey) // 4 AS b_lo,
                            max(l_suppkey) // 2 AS b_hi
                     FROM lineitem)
          SELECT l_returnflag, count(*) AS n,
                 ${dsum("l_extendedprice")} AS revenue
          FROM lineitem, b
          WHERE l_partkey >= a_lo AND l_partkey <= a_hi
            AND l_suppkey >= b_lo AND l_suppkey <= b_hi
          GROUP BY 1 ORDER BY l_returnflag""",

    // Bloom-index twin: the probe keys are data-derived the same way on
    // both sides (min, max, largest key <= domain midpoint; the absent
    // max+1 probe matches nothing in either engine), so the plain IN
    // aggregate proves the bloom pruning never dropped a probe row.
    "q_layout_bloom_index" ->
      s"""WITH b AS (SELECT min(l_orderkey) AS k_min, max(l_orderkey) AS k_max
                     FROM lineitem),
              m AS (SELECT max(l_orderkey) AS k_mid
                    FROM lineitem, b
                    WHERE l_orderkey <= (k_min + k_max) // 2)
          SELECT l_orderkey, count(*) AS n,
                 ${dsum("l_quantity")} AS sum_qty,
                 ${dsum("l_extendedprice")} AS revenue
          FROM lineitem, b, m
          WHERE l_orderkey IN (k_min, k_mid, k_max)
          GROUP BY l_orderkey ORDER BY l_orderkey""",

    // Write-audit-publish twin: the published table must be EXACTLY base
    // ∪ the good batch = full lineitem — a torn publish (missing batch
    // rows) or a leaked bad batch (negated quantities) flips the hash.
    "q_layout_wap" ->
      s"""SELECT l_returnflag, count(*) AS n,
                 ${dsum("l_extendedprice")} AS revenue,
                 ${dsum("l_quantity")} AS sum_qty
          FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",

    // Deletion-vector twin: same spanning read as q_layout_delete, but the
    // Spark side applies the delete at READ time from the positional
    // vectors — the hash match proves MOR ≡ the predicate semantics.
    "q_layout_dv" ->
      s"""SELECT l_returnflag, count(*) AS n,
                 ${dsum("l_extendedprice")} AS revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-07-01'
            AND l_shipdate < TIMESTAMP '1998-07-01'
            AND NOT (l_shipdate >= TIMESTAMP '1997-01-01'
                     AND l_shipdate < TIMESTAMP '1997-07-01')
          GROUP BY 1 ORDER BY l_returnflag""",

    // Column-mapping rename twin: the oracle reads the renamed projection
    // straight from the source — the Spark side must serve the same rows
    // under the NEW name from byte-unchanged physical files.
    "q_layout_rename" ->
      s"""SELECT l_returnflag, count(*) AS n,
                 ${dsum("l_extendedprice")} AS revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1997-01-01'
          GROUP BY 1 ORDER BY l_returnflag""",

    // CBO twin: stats change the Spark plan (broadcast flip, join
    // reorder), never the rows — the oracle is the plain 3-table join
    // aggregate with the same decimal-exact revenue idiom.
    "q_layout_cbo" ->
      """SELECT o_orderpriority, count(*) AS n,
                CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(38,10))), 2)
                     * 100 AS BIGINT) / CAST(100 AS DOUBLE) AS revenue
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         WHERE c.c_mktsegment = 'BUILDING' AND c.c_acctbal < 2000
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",

    // Histogram-CBO twin: same contract as q_layout_cbo — the
    // equi-height histogram changes the PLAN (the broadcast the
    // interpolation estimate wrongly allows), never the rows; the skewed
    // column is derived inline by the same multiplication-only
    // expression the staged fixture uses (bit-equal in both engines,
    // unlike pow()).
    "q_layout_cbo_hist" ->
      """SELECT o_orderpriority, count(*) AS n,
                CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(38,10))), 2)
                     * 100 AS BIGINT) / CAST(100 AS DOUBLE) AS revenue
         FROM orders o
         JOIN (SELECT c_custkey AS sk_key,
                      c_acctbal * c_acctbal * c_acctbal * c_acctbal AS sk_val
               FROM customer) s ON o.o_custkey = s.sk_key
         WHERE s.sk_val <= 1e12
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",

    // Incremental-histogram twin: after the base ANALYZE plus two
    // analyzed-and-MERGED append batches, the maintained table holds the
    // full customer set — stats change the PLAN (PlanShapeSpec pins the
    // flip), never the rows, so the oracle is the same full-set join
    // aggregate as q_layout_cbo_hist's.
    "q_layout_cbo_incr" ->
      """SELECT o_orderpriority, count(*) AS n,
                CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(38,10))), 2)
                     * 100 AS BIGINT) / CAST(100 AS DOUBLE) AS revenue
         FROM orders o
         JOIN (SELECT c_custkey AS sk_key,
                      c_acctbal * c_acctbal * c_acctbal * c_acctbal AS sk_val
               FROM customer) s ON o.o_custkey = s.sk_key
         WHERE s.sk_val <= 1e12
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",

    // Two raced delete pairs (disjoint: both commit; conflicting: loser
    // throws, re-plans, commits) must resolve to the SERIAL execution —
    // the oracle re-applies all four delete predicates; any resurrected
    // row from a stale staged rewrite breaks the hash.
    "q_layout_concurrent" ->
      s"""SELECT l_returnflag, count(*) AS n,
                 ${dsum("l_extendedprice")} AS revenue
          FROM lineitem
          WHERE NOT (l_shipdate >= TIMESTAMP '1996-01-01'
                     AND l_shipdate < TIMESTAMP '1996-04-01')
            AND NOT (l_shipdate >= TIMESTAMP '1998-07-01'
                     AND l_shipdate < TIMESTAMP '1998-10-01')
            AND NOT (l_shipdate >= TIMESTAMP '1996-06-01'
                     AND l_shipdate < TIMESTAMP '1996-12-01')
            AND NOT (l_shipdate >= TIMESTAMP '1996-09-01'
                     AND l_shipdate < TIMESTAMP '1997-03-01')
          GROUP BY 1 ORDER BY l_returnflag""",

    // GC passes (orphan vacuum + retention expiry) physically deleted the
    // planted orphan and the delete-tombstoned originals at staging time;
    // the graded read spans the delete hole, so the hash match proves GC
    // removed only dead bytes.
    "q_layout_vacuum" ->
      s"""SELECT l_linestatus, count(*) AS n,
                 ${dsum("l_extendedprice")} AS revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1995-07-01'
            AND l_shipdate < TIMESTAMP '1996-12-01'
            AND NOT (l_shipdate >= TIMESTAMP '1996-01-01'
                     AND l_shipdate < TIMESTAMP '1996-07-01')
          GROUP BY 1 ORDER BY l_linestatus""",

    // The Spark side's scale → morton → z-clustered write → read-back chain
    // is lossless and integer-exact, so the oracle recomputes the same
    // z-buckets straight from the source: min-max scale to 16 bits with
    // floor division, then the 4-step magic-number bit spread (masks
    // 0x00FF00FF / 0x0F0F0F0F / 0x33333333 / 0x55555555) on each column,
    // interleave, and bucket by z >> 26. All BIGINT, bit-for-bit.
    "q_layout_zorder" ->
      """WITH b AS (SELECT min(l_partkey) AS pk_min, max(l_partkey) AS pk_max,
                           min(l_suppkey) AS sk_min, max(l_suppkey) AS sk_max
                    FROM lineitem),
          s AS (SELECT l_partkey AS pk, l_suppkey AS sk,
                       ((CAST(l_partkey AS BIGINT) - pk_min) * 65535)
                         // greatest(pk_max - pk_min, 1) AS px,
                       ((CAST(l_suppkey AS BIGINT) - sk_min) * 65535)
                         // greatest(sk_max - sk_min, 1) AS sx
                FROM lineitem, b),
          p0 AS (SELECT pk, sk, (px & 65535) AS x, (sx & 65535) AS y FROM s),
          p1 AS (SELECT pk, sk, ((x | (x << 8)) & 16711935) AS x,
                                ((y | (y << 8)) & 16711935) AS y FROM p0),
          p2 AS (SELECT pk, sk, ((x | (x << 4)) & 252645135) AS x,
                                ((y | (y << 4)) & 252645135) AS y FROM p1),
          p3 AS (SELECT pk, sk, ((x | (x << 2)) & 858993459) AS x,
                                ((y | (y << 2)) & 858993459) AS y FROM p2),
          p4 AS (SELECT pk, sk, ((x | (x << 1)) & 1431655765) AS x,
                                ((y | (y << 1)) & 1431655765) AS y FROM p3),
          z AS (SELECT pk, sk, (x | (y << 1)) AS zv FROM p4)
          SELECT zv // 67108864 AS zbucket, count(*) AS n,
                 CAST(min(pk) AS BIGINT) AS min_pk, CAST(max(pk) AS BIGINT) AS max_pk,
                 CAST(min(sk) AS BIGINT) AS min_sk, CAST(max(sk) AS BIGINT) AS max_sk
          FROM z GROUP BY 1 ORDER BY zbucket""",

    "q_subquery_scalar" ->
      """SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS bal
         FROM customer c
         WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                            WHERE c2.c_nationkey = c.c_nationkey)
         ORDER BY c_custkey""",

    "q_fuzzy_match" ->
      """SELECT levenshtein(a.c_name, b.c_name) AS dist,
                count(*) AS n_pairs, min(a.c_custkey) AS min_a, max(b.c_custkey) AS max_b
         FROM customer a JOIN customer b
           ON a.c_custkey // 10 = b.c_custkey // 10 AND a.c_custkey < b.c_custkey
         WHERE levenshtein(a.c_name, b.c_name) <= 2
         GROUP BY 1 ORDER BY dist""",

    // Relational twin of the one-shuffle cohort matrix: distinct
    // (user, day) pairs, per-user min day as the cohort, exact counts per
    // (cohort, offset). CAST(ts AS DATE) == Spark to_date under the UTC
    // session zone.
    "q_retention_cohorts" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
              c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY user_id)
         SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
                CAST(date_diff('day', cohort_day, day) AS BIGINT) AS day_offset,
                CAST(count(*) AS BIGINT) AS n_users
         FROM d JOIN c USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // Lambda twin of the array-algebra funnel: same strict-after +
    // 24 h-window chain resolution over per-user micro lists (list()
    // FILTER mirrors collect_list's null-skipping; len(list_filter) > 0
    // mirrors Spark's exists), integer micros end-to-end. Depth is the
    // window_funnel max-chain contract: 3 whenever ANY qualifying view
    // completes (t2c), not only the earliest.
    "q_funnel_steps" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
              a AS (SELECT user_id,
                           min(CASE WHEN event_type = 'click' THEN us END) AS t1,
                           list(us) FILTER (WHERE event_type = 'view' AND us IS NOT NULL) AS vs,
                           list(us) FILTER (WHERE event_type = 'purchase' AND us IS NOT NULL) AS ps
                    FROM e GROUP BY user_id),
              b AS (SELECT user_id, t1, ps,
                           list_filter(vs, v -> v > t1 AND v <= t1 + 86400000000) AS vq
                    FROM a WHERE t1 IS NOT NULL),
              c AS (SELECT user_id, t1, ps, vq,
                           list_min(list_filter(vq, v ->
                             len(list_filter(ps, p -> p > v AND p <= v + 86400000000)) > 0)) AS t2c
                    FROM b),
              d AS (SELECT user_id, t1, t2c,
                           coalesce(t2c, list_min(vq)) AS t2,
                           list_min(list_filter(ps, p -> p > t2c AND p <= t2c + 86400000000)) AS t3
                    FROM c)
         SELECT user_id,
                CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) AS depth,
                t1, t2, t3
         FROM d ORDER BY user_id""",

    // Window twin of the one-shuffle batch sessionizer: same 30-min gap
    // flag (lag), same running-sum session index, same per-session integer
    // aggregates. epoch_us == Spark unix_micros; count(DISTINCT) per
    // session group is engine-portable (exact integers end-to-end).
    "q_sessionize_gap" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
              g AS (SELECT *,
                           CASE WHEN lag(us) OVER w IS NULL
                                  OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
                    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
              s AS (SELECT *,
                           sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                             ROWS UNBOUNDED PRECEDING) AS session_idx
                    FROM g)
         SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
                min(us) AS session_start, max(us) AS session_end,
                count(*) AS n_events,
                max(us) - min(us) AS duration_us,
                CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
         FROM s GROUP BY user_id, session_idx
         ORDER BY user_id, session_idx""",

    // Sequence-mining twin: the same 30-minute session boundary as
    // q_sessionize_gap, pairs via one lag window, top-20 under the
    // (count DESC, pair ASC) total order.
    "q_events_sequence" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
                    FROM events),
              g AS (SELECT event_type,
                           lag(us) OVER w AS prev_us,
                           lag(event_type) OVER w AS prev_type,
                           us
                    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
         SELECT prev_type, event_type AS next_type, count(*) AS n
         FROM g
         WHERE prev_us IS NOT NULL AND us - prev_us <= 1800000000
         GROUP BY 1, 2
         ORDER BY n DESC, prev_type, next_type LIMIT 20""",

    "q_pivot_events" ->
      """SELECT user_id,
                count(*) FILTER (WHERE event_type = 'click') AS click,
                count(*) FILTER (WHERE event_type = 'error') AS error,
                count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                count(*) FILTER (WHERE event_type = 'signup') AS signup,
                count(*) FILTER (WHERE event_type = 'view') AS view
         FROM events GROUP BY user_id ORDER BY user_id""",

    "q_unpivot_measures" ->
      s"""SELECT metric, count(*) AS n, ${dsum("value", 6)} AS sum_value
          FROM (SELECT 'l_quantity' AS metric, CAST(l_quantity AS DOUBLE) AS value FROM lineitem
                UNION ALL
                SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem
                UNION ALL
                SELECT 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem) t
          GROUP BY metric ORDER BY metric""",

    // The Spark side round-trips (doc_id, lang, n_chars) through JSONL and
    // the JSON datasource parser; integral/string fields are lossless, so
    // the aggregate equals the same aggregate over the source table.
    "q_source_jsonl" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents GROUP BY lang ORDER BY lang""",

    // Twin of the mergeSchema evolution read: the generation split
    // rebuilt from the source — gen1 rows (even keys) have no status
    // column on disk and must surface as 'unknown'.
    "q_layout_evolve" ->
      s"""WITH u AS (SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus
                                 ELSE 'unknown' END AS status,
                            o_totalprice
                     FROM orders)
          SELECT status, count(*) AS n_orders, ${dsum("o_totalprice")} AS spend
          FROM u GROUP BY status ORDER BY status""",

    // Twin of the PERMISSIVE quarantine read: the oracle classifies from
    // the CLEAN source with the same planted-corruption rule, so a hash
    // match proves the parser quarantined exactly the planted lines.
    // '_quarantine' (0x5f) sorts before every lowercase lang code in both
    // engines' binary collation.
    "q_source_malformed" ->
      """WITH c AS (SELECT CASE WHEN doc_id % 7 = 3 THEN '_quarantine' ELSE lang END AS bucket,
                           CASE WHEN doc_id % 7 = 3 THEN NULL ELSE n_chars END AS n_chars
                    FROM documents)
         SELECT bucket, count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM c GROUP BY bucket ORDER BY bucket""",

    "q_proj_compute" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                round(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax), 2) AS charge,
                l_returnflag || '|' || l_linestatus AS flag
         FROM lineitem
         ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey LIMIT 100""",

    "q_filter_pred" ->
      """SELECT p_partkey, p_name, p_type, p_size, p_retailprice
         FROM part
         WHERE p_type LIKE 'PROMO%' AND p_size BETWEEN 10 AND 40
           AND (p_size IN (11, 13, 17, 19, 23) OR p_retailprice > 950.0)
           AND NOT (p_partkey % 7 = 0)
         ORDER BY p_partkey""",

    "q_filter_null" ->
      """SELECT c_custkey,
                b.n_big IS NULL AS no_big_order,
                coalesce(b.n_big, 0) AS n_big_orders,
                nullif(c_mktsegment, 'BUILDING') IS NULL AS is_building
         FROM customer c
         LEFT JOIN (SELECT o_custkey, count(*) AS n_big FROM orders
                    WHERE o_totalprice > 400000.0 GROUP BY o_custkey) b
           ON c.c_custkey = b.o_custkey
         ORDER BY c_custkey""",

    "q_join_inner" ->
      s"""SELECT c_custkey, c_name, ${dsum("o_totalprice")} AS spend, count(*) AS n_orders
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY c_custkey, c_name
          ORDER BY spend DESC, c_custkey LIMIT 10""",

    // Plain equi-join SQL: the Spark side's salting must be answer-invariant.
    // The Bloom prefilter is semantically invisible (false positives are
    // removed by the real join, false negatives impossible), so the oracle
    // is the plain three-table join aggregate.
    "q_join_bloom" ->
      s"""SELECT l_returnflag, count(*) AS n_items,
                 ${dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          WHERE c_mktsegment = 'BUILDING'
          GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_join_skewed" ->
      s"""WITH f AS (SELECT CAST(CASE WHEN o_orderkey % 4 <> 0 THEN 1
                                      ELSE o_custkey END AS BIGINT) AS skew_key,
                            o_totalprice
                     FROM orders)
          SELECT skew_key, c_name, c_mktsegment,
                 count(*) AS n_orders, ${dsum("o_totalprice")} AS spend
          FROM f JOIN customer ON skew_key = c_custkey
          GROUP BY 1, 2, 3 ORDER BY skew_key""",

    "q_join_multiway" ->
      s"""SELECT r_name,
                 ${dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
                 count(*) AS n_lines
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY r_name ORDER BY r_name""",

    "q_join_left" ->
      s"""SELECT c_custkey, count(o_orderkey) AS n_big,
                 coalesce(${dsum("o_totalprice")}, 0.0) AS big_spend
          FROM customer
          LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000.0) o
            ON c_custkey = o_custkey
          GROUP BY c_custkey ORDER BY c_custkey""",

    "q_join_semi" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
         ORDER BY c_custkey""",

    "q_join_anti" ->
      """SELECT p_partkey, p_name, p_type FROM part
         WHERE NOT EXISTS (SELECT 1 FROM lineitem
                           WHERE l_partkey = p_partkey
                             AND l_shipdate >= TIMESTAMP '2001-06-01')
         ORDER BY p_partkey""",

    "q_join_theta" ->
      """SELECT p_partkey, l_orderkey, l_linenumber, l_partkey, l_suppkey,
                l_extendedprice, p_retailprice
         FROM part, lineitem
         WHERE p_size >= 48 AND l_quantity <= 5.0
           AND l_extendedprice BETWEEN p_retailprice - 25.0 AND p_retailprice + 25.0
         ORDER BY p_partkey, l_orderkey, l_linenumber, l_partkey, l_suppkey""",

    // Point-in-interval range join: DuckDB plans the raw inequality pair
    // (IEJoin); the Spark side runs the day-bucketed equi-join decomposition
    // — same pairs by construction.
    "q_join_range" ->
      s"""WITH w AS (SELECT o_orderpriority AS w_priority,
                            date_diff('day', DATE '1970-01-01',
                                      CAST(o_orderdate AS DATE)) AS s_day
                     FROM orders WHERE o_totalprice > 470000),
               p AS (SELECT l_extendedprice,
                            date_diff('day', DATE '1970-01-01',
                                      CAST(l_shipdate AS DATE)) AS p_day
                     FROM lineitem)
          SELECT w_priority, count(*) AS n_pairs,
                 ${dsum("l_extendedprice")} AS sum_price
          FROM p JOIN w ON p.p_day >= w.s_day AND p.p_day < w.s_day + 2
          GROUP BY 1 ORDER BY 1""",

    "q_agg_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
                 ${dsum("l_quantity")} AS sum_qty,
                 ${dsum("l_extendedprice")} AS sum_base_price,
                 ${dsum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
                 ${dsum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
                 round(${dsum("l_quantity")} / count(*), 6) AS avg_qty,
                 round(${dsum("l_extendedprice")} / count(*), 6) AS avg_price,
                 round(${dsum("l_discount", 6)} / count(*), 6) AS avg_disc,
                 count(*) AS count_order
          FROM lineitem
          WHERE l_shipdate <= TIMESTAMP '2000-09-02'
          GROUP BY l_returnflag, l_linestatus
          ORDER BY l_returnflag, l_linestatus""",

    "q_agg_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
                count(DISTINCT l_suppkey) AS n_supps,
                count(DISTINCT (l_partkey, l_suppkey)) AS n_part_supp,
                count(*) AS n_rows
         FROM lineitem""",

    "q_agg_groupingsets" ->
      s"""SELECT n_name, c_mktsegment,
                 CAST(grouping(n_name) AS BIGINT) AS g_nation,
                 CAST(grouping(c_mktsegment) AS BIGINT) AS g_segment,
                 count(*) AS n_cust,
                 ${dsum("c_acctbal")} AS sum_bal
          FROM customer JOIN nation ON c_nationkey = n_nationkey
          GROUP BY GROUPING SETS ((n_name, c_mktsegment), (n_name), ())
          ORDER BY g_nation, g_segment, n_name ASC NULLS FIRST,
                   c_mktsegment ASC NULLS FIRST""",

    "q_agg_stats" ->
      """SELECT l_returnflag, count(*) AS n,
                round(stddev_samp(l_quantity), 4) AS sd_qty,
                round(var_samp(l_quantity), 4) AS var_qty,
                round(covar_pop(l_quantity, l_discount), 6) AS cov_qd,
                round(corr(l_extendedprice, l_quantity), 6) AS corr_pq,
                round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
                round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    // Twin of the one-aggregate histogram: the bin index is the same IEEE
    // division + floor on the raw double in both engines; no data-dependent
    // edges, so no pre-pass.
    "q_agg_histogram" ->
      s"""SELECT o_orderstatus,
                 CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bin,
                 CAST(floor(o_totalprice / 25000.0) AS BIGINT) * 25000 AS bin_lo,
                 (CAST(floor(o_totalprice / 25000.0) AS BIGINT) + 1) * 25000 AS bin_hi,
                 count(*) AS n_orders, ${dsum("o_totalprice")} AS sum_price
          FROM orders GROUP BY 1, 2 ORDER BY 1, 2""",

    // Twin of the two-pass z-score quarantine: the 5-row model (mean/std
    // from exact decimal Σv/Σv², rounded once) joins back and the flag +
    // z are single IEEE ops on identical rounded inputs.
    // Welch twin: exact integer power sums in cents (HUGEINT mirrors the
    // Spark side's DECIMAL(38,0)), then the SAME left-associated double
    // epilogue for means/variances/t/dof.
    "q_stats_ttest" ->
      """WITH b AS (
           SELECT l_returnflag = 'A' AS isa,
                  CAST(round(l_extendedprice * 100) AS BIGINT) AS c
           FROM lineitem WHERE l_returnflag IN ('A', 'R')),
              s AS (
           SELECT CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                  CAST(sum(CASE WHEN isa THEN 0 ELSE 1 END) AS BIGINT) AS n_r,
                  sum(CASE WHEN isa THEN CAST(c AS HUGEINT) ELSE 0 END) AS s1a,
                  sum(CASE WHEN isa THEN CAST(0 AS HUGEINT) ELSE c END) AS s1r,
                  sum(CASE WHEN isa THEN CAST(c * c AS HUGEINT) ELSE 0 END) AS s2a,
                  sum(CASE WHEN isa THEN CAST(0 AS HUGEINT) ELSE c * c END) AS s2r
           FROM b),
              e AS (
           SELECT n_a, n_r,
                  CAST(n_a AS DOUBLE) AS na, CAST(n_r AS DOUBLE) AS nr,
                  CAST(s1a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
                  CAST(s1r AS DOUBLE) / CAST(n_r AS DOUBLE) AS mr,
                  CAST(s2a AS DOUBLE) / CAST(n_a AS DOUBLE) AS r2a,
                  CAST(s2r AS DOUBLE) / CAST(n_r AS DOUBLE) AS r2r
           FROM s),
              v AS (
           SELECT n_a, n_r, ma, mr, na, nr,
                  (r2a - ma * ma) * (na / (na - 1.0)) AS va,
                  (r2r - mr * mr) * (nr / (nr - 1.0)) AS vr
           FROM e),
              w AS (
           SELECT n_a, n_r, ma, mr, va, vr, na, nr,
                  va / na AS sea, vr / nr AS ser
           FROM v)
         SELECT n_a, n_r, round(ma, 6) AS mean_a, round(mr, 6) AS mean_r,
                round(va, 4) AS var_a, round(vr, 4) AS var_r,
                round((ma - mr) / sqrt(sea + ser), 6) AS t_stat,
                round((sea + ser) * (sea + ser)
                      / (sea * sea / (na - 1.0) + ser * ser / (nr - 1.0)), 4) AS welch_dof
         FROM w""",

    // Chi-square twin: integer contingency cells, the same fixed-order
    // expected/contribution doubles, and the total as an exact decimal
    // window sum over the ROUNDED contributions (Det.dsumOver's twin) so
    // cell order can never change the statistic.
    "q_stats_chisq" ->
      """WITH c AS (SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
              rt AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rt FROM c GROUP BY 1),
              ct AS (SELECT source, CAST(sum(o) AS BIGINT) AS ct FROM c GROUP BY 1),
              n AS (SELECT count(*) AS n_tot FROM documents),
              x AS (SELECT lang, source, o,
                           CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                             / CAST(n_tot AS DOUBLE) AS e
                    FROM c JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN n),
              y AS (SELECT lang, source, o, e,
                           round((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e, 6) AS contrib
                    FROM x)
         SELECT lang, source, o, round(e, 6) AS e, contrib,
                CAST(round(sum(CAST(contrib AS DECIMAL(38,10))) OVER (), 6) * 1000000 AS BIGINT) / 1000000.0 AS chi2
         FROM y ORDER BY lang, source""",

    // Co-occurrence twin: the preference link (k·ntypes > total — exact
    // integer cross-multiplication) and both similarity ratios recomputed
    // through the same double expressions.
    "q_graph_cooccur" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS k FROM events GROUP BY 1, 2),
              u AS (SELECT user_id, CAST(sum(k) AS BIGINT) AS tot,
                           count(*) AS ntypes FROM c GROUP BY 1),
              ut AS (SELECT c.user_id, c.event_type
                     FROM c JOIN u USING (user_id) WHERE c.k * u.ntypes > u.tot),
              cnt AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
              p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                           count(*) AS n_both
                    FROM ut a JOIN ut b
                      ON a.user_id = b.user_id AND a.event_type < b.event_type
                    GROUP BY 1, 2)
         SELECT type_a, type_b, ca.n AS n_a, cb.n AS n_b, n_both,
                round(CAST(n_both AS DOUBLE)
                      / sqrt(CAST(ca.n AS DOUBLE) * CAST(cb.n AS DOUBLE)), 6) AS cosine,
                round(CAST(n_both AS DOUBLE)
                      / CAST(ca.n + cb.n - n_both AS DOUBLE), 6) AS jaccard
         FROM p JOIN cnt ca ON type_a = ca.event_type
                JOIN cnt cb ON type_b = cb.event_type
         ORDER BY type_a, type_b""",

    // Incremental-stats twin: the from-scratch aggregate the manifest
    // partials must merge to exactly. n_commits is structurally determined
    // by the fixture (build v0 + append v1) — a literal, not a scan.
    "q_layout_stats_merge" ->
      """SELECT count(*) AS n_rows, CAST(2 AS BIGINT) AS n_commits,
                epoch_us(min(l_shipdate)) AS min_us,
                epoch_us(max(l_shipdate)) AS max_us
         FROM lineitem""",

    // Change-point twin: exact integer cents through the cross-multiplied
    // cumulative deviation (HUGEINT mirrors DECIMAL(38,0)); the argmax
    // carries the earliest-day tiebreak.
    "q_events_changepoint" ->
      """WITH daily AS (SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                               CAST(round(sum(CAST(value AS DECIMAL(38,10))), 2) * 100 AS BIGINT) AS v_cents
                        FROM events GROUP BY 1),
              i AS (SELECT day, v_cents,
                           CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
                           sum(CAST(v_cents AS HUGEINT)) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS s_t,
                           count(*) OVER () AS n_days,
                           sum(CAST(v_cents AS HUGEINT)) OVER () AS total
                    FROM daily),
              d AS (SELECT day, t, v_cents, abs(s_t * n_days - t * total) AS dev FROM i),
              r AS (SELECT *, row_number() OVER (ORDER BY dev DESC, day) AS best FROM d)
         SELECT day, t, v_cents, CAST(dev AS DOUBLE) AS dev,
                CAST(best = 1 AS BIGINT) AS is_changepoint
         FROM r ORDER BY day""",

    // Forecast-backtest twin: the trailing window and the MAE both run
    // through the exact decimal window-sum recipe (Det.dsumOver's twin),
    // so neither engine's window partial-sum order can leak in.
    "q_events_forecast" ->
      s"""WITH daily AS (SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                                ${dsum("value")} AS v
                         FROM events GROUP BY 1),
              f AS (SELECT day, v,
                           count(v) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n_prev,
                           CAST(round(sum(CAST(v AS DECIMAL(38,10)))
                                  OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING), 6) * 1000000 AS BIGINT) / 1000000.0 AS tsum
                    FROM daily),
              g AS (SELECT day, v, n_prev, round(tsum / 7.0, 6) AS forecast FROM f),
              h AS (SELECT day, v, forecast, round(abs(v - forecast), 6) AS abs_err
                    FROM g WHERE n_prev = 7)
         SELECT day, v, forecast, abs_err,
                round(CAST(round(sum(CAST(abs_err AS DECIMAL(38,10))) OVER (), 6) * 1000000 AS BIGINT) / 1000000.0
                      / CAST(count(*) OVER () AS DOUBLE), 6) AS mae
         FROM h ORDER BY day""",

    // Spec-evolution twin: the plain filtered aggregate — epoch routing
    // and per-spec pruning must be invisible to the result.
    "q_layout_partition_evolve" ->
      s"""SELECT o_orderpriority, count(*) AS n,
                 ${dsum("o_totalprice")} AS revenue
          FROM orders
          WHERE o_orderdate >= TIMESTAMP '1996-06-01'
            AND o_orderdate < TIMESTAMP '1998-03-01'
          GROUP BY 1 ORDER BY o_orderpriority""",

    "q_stats_outliers" ->
      s"""WITH m AS (SELECT event_type, count(*) AS n_grp,
                            ${dsum("value", 6)} AS s1, ${dsum("value * value", 4)} AS s2
                     FROM events GROUP BY event_type),
               s AS (SELECT event_type,
                            round(s1 / n_grp, 6) AS mean,
                            round(sqrt((s2 - s1 * s1 / n_grp) / (n_grp - 1)), 6) AS std
                     FROM m)
          SELECT e.event_type, e.event_id, e.value,
                 round((e.value - s.mean) / s.std, 4) AS z
          FROM events e JOIN s USING (event_type)
          WHERE abs(e.value - s.mean) > 2.5 * s.std
          ORDER BY e.event_type, e.event_id""",

    // Twin of the full-outer reconciliation: same subset filter, same
    // per-customer rollup, same three-way side classification.
    "q_join_full" ->
      s"""WITH cust AS (SELECT c_custkey, c_acctbal FROM customer
                        WHERE c_custkey % 3 <> 0),
               o AS (SELECT o_custkey, count(*) AS n_orders,
                            ${dsum("o_totalprice")} AS spend
                     FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey),
               j AS (SELECT CASE WHEN c.c_custkey IS NULL THEN 'order_only'
                                 WHEN o.o_custkey IS NULL THEN 'customer_only'
                                 ELSE 'both' END AS side,
                            coalesce(o.n_orders, 0) AS n_orders,
                            coalesce(o.spend, 0.0) AS spend,
                            coalesce(c.c_acctbal, 0.0) AS bal
                     FROM cust c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey)
          SELECT side, count(*) AS n_keys,
                 CAST(sum(n_orders) AS BIGINT) AS sum_orders,
                 ${dsum("spend")} AS sum_spend, ${dsum("bal")} AS sum_bal
          FROM j GROUP BY side ORDER BY side""",

    // Twin of the constraint audit: the same eight checks as plain
    // aggregates/joins. All-integer outputs.
    // Bitmap-distinct twin: plain COUNT(DISTINCT) — the hash match proves
    // the bitmap-word aggregation EXACT, not approximate.
    "q_agg_bitmap" ->
      """SELECT event_type, count(*) AS n_events,
                count(DISTINCT user_id) AS n_distinct_users,
                count(DISTINCT user_id // 64) AS n_buckets
         FROM events GROUP BY 1 ORDER BY event_type""",

    // PSI drift twin: identical bin grid (types x 0..9 via
    // generate_series), add-one smoothing, the same IEEE term dag on exact
    // integer counts, 6dp-rounded terms summed on the decimal path.
    "q_quality_drift" ->
      s"""WITH ev AS (SELECT event_type,
                             CASE WHEN ts < TIMESTAMP '2024-01-16'
                                  THEN 'ref' ELSE 'cur' END AS period,
                             least(CAST(floor(value / 50.0) AS BIGINT), 9) AS bin
                      FROM events),
              c AS (SELECT event_type, period, bin, count(*) AS cnt
                    FROM ev GROUP BY 1, 2, 3),
              grid AS (SELECT event_type, bin
                       FROM (SELECT DISTINCT event_type FROM events)
                       CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bin)),
              f AS (SELECT g.event_type, g.bin,
                           coalesce(r.cnt, 0) AS cr, coalesce(u.cnt, 0) AS cu
                    FROM grid g
                    LEFT JOIN c r ON r.event_type = g.event_type
                                 AND r.bin = g.bin AND r.period = 'ref'
                    LEFT JOIN c u ON u.event_type = g.event_type
                                 AND u.bin = g.bin AND u.period = 'cur'),
              t AS (SELECT event_type, CAST(sum(cr) AS BIGINT) AS n_ref,
                           CAST(sum(cu) AS BIGINT) AS n_cur
                    FROM f GROUP BY 1),
              terms AS (SELECT f.event_type, t.n_ref, t.n_cur,
                               round(((CAST(cr AS DOUBLE) + 1.0) / (CAST(n_ref AS DOUBLE) + 10.0)
                                      - (CAST(cu AS DOUBLE) + 1.0) / (CAST(n_cur AS DOUBLE) + 10.0))
                                     * ln(((CAST(cr AS DOUBLE) + 1.0) / (CAST(n_ref AS DOUBLE) + 10.0))
                                          / ((CAST(cu AS DOUBLE) + 1.0) / (CAST(n_cur AS DOUBLE) + 10.0))), 6) AS term
                        FROM f JOIN t ON f.event_type = t.event_type),
              psi AS (SELECT event_type, n_ref, n_cur,
                             ${dsum("term", 6)} AS psi
                      FROM terms GROUP BY 1, 2, 3)
         SELECT event_type, n_ref, n_cur, psi,
                CAST(CASE WHEN psi > 0.1 THEN 1 ELSE 0 END AS BIGINT) AS drifted
         FROM psi ORDER BY event_type""",

    // Embedding-drift twin: the same PSI fold over a deterministic
    // sign-grid quantizer (sign bits of dims 0-2 -> 8 cells), ref = the
    // corpus, cur = the same corpus re-embedded with a planted model
    // change on label-0 content (dim 0 + 10). Same-rows design: unchanged
    // labels give PSI exactly 0; only the planted label crosses 0.1.
    "q_quality_drift_embed" ->
      s"""WITH stacked AS (
              SELECT label, 'ref' AS period,
                     (CASE WHEN CAST(embedding[1] AS DOUBLE) > 0 THEN 4 ELSE 0 END
                    + CASE WHEN CAST(embedding[2] AS DOUBLE) > 0 THEN 2 ELSE 0 END
                    + CASE WHEN CAST(embedding[3] AS DOUBLE) > 0 THEN 1 ELSE 0 END) AS cell
              FROM embeddings
              UNION ALL
              SELECT label, 'cur' AS period,
                     (CASE WHEN CAST(embedding[1] AS DOUBLE)
                                + CASE WHEN label = 0 THEN 10.0 ELSE 0.0 END > 0
                           THEN 4 ELSE 0 END
                    + CASE WHEN CAST(embedding[2] AS DOUBLE) > 0 THEN 2 ELSE 0 END
                    + CASE WHEN CAST(embedding[3] AS DOUBLE) > 0 THEN 1 ELSE 0 END) AS cell
              FROM embeddings),
              c AS (SELECT label, period, cell, count(*) AS cnt
                    FROM stacked GROUP BY 1, 2, 3),
              grid AS (SELECT label, cell
                       FROM (SELECT DISTINCT label FROM embeddings)
                       CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS cell)),
              f AS (SELECT g.label, g.cell,
                           coalesce(r.cnt, 0) AS cr, coalesce(u.cnt, 0) AS cu
                    FROM grid g
                    LEFT JOIN c r ON r.label = g.label
                                 AND r.cell = g.cell AND r.period = 'ref'
                    LEFT JOIN c u ON u.label = g.label
                                 AND u.cell = g.cell AND u.period = 'cur'),
              t AS (SELECT label, CAST(sum(cr) AS BIGINT) AS n_ref,
                           CAST(sum(cu) AS BIGINT) AS n_cur
                    FROM f GROUP BY 1),
              terms AS (SELECT f.label, t.n_ref, t.n_cur,
                               round(((CAST(cr AS DOUBLE) + 1.0) / (CAST(n_ref AS DOUBLE) + 8.0)
                                      - (CAST(cu AS DOUBLE) + 1.0) / (CAST(n_cur AS DOUBLE) + 8.0))
                                     * ln(((CAST(cr AS DOUBLE) + 1.0) / (CAST(n_ref AS DOUBLE) + 8.0))
                                          / ((CAST(cu AS DOUBLE) + 1.0) / (CAST(n_cur AS DOUBLE) + 8.0))), 6) AS term
                        FROM f JOIN t ON f.label = t.label),
              psi AS (SELECT label, n_ref, n_cur,
                             ${dsum("term", 6)} AS psi
                      FROM terms GROUP BY 1, 2, 3)
         SELECT label, n_ref, n_cur, psi,
                CAST(CASE WHEN psi > 0.1 THEN 1 ELSE 0 END AS BIGINT) AS drifted
         FROM psi ORDER BY label""",

    "q_quality_constraints" ->
      """SELECT 'pk_unique' AS check_name, 'customer' AS table_name,
                count(*) AS n_checked,
                count(*) - count(DISTINCT c_custkey) AS n_violations FROM customer
         UNION ALL
         SELECT 'pk_unique', 'orders', count(*),
                count(*) - count(DISTINCT o_orderkey) FROM orders
         UNION ALL
         SELECT 'fk_customer', 'orders', count(*),
                count(*) FILTER (WHERE c.c_custkey IS NULL)
         FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
         UNION ALL
         SELECT 'fk_orders', 'lineitem', count(*),
                count(*) FILTER (WHERE o.o_orderkey IS NULL)
         FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
         UNION ALL
         SELECT 'fk_embeddings', 'documents', count(*),
                count(*) FILTER (WHERE e.vec_id IS NULL)
         FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
         UNION ALL
         SELECT 'not_null_name', 'customer', count(*),
                count(*) FILTER (WHERE c_name IS NULL) FROM customer
         UNION ALL
         SELECT 'range_quantity', 'lineitem', count(*),
                count(*) FILTER (WHERE l_quantity < 1.0 OR l_quantity > 50.0) FROM lineitem
         UNION ALL
         SELECT 'domain_status', 'orders', count(*),
                count(*) FILTER (WHERE o_orderstatus NOT IN ('F', 'O', 'P')) FROM orders
         ORDER BY check_name, table_name""",

    // Unrolled twin of the Spark-side PageRank driver loop (the
    // q_ml_logreg_converged pattern, generated from the SAME iteration
    // count / damping): integer edge weights, per-iteration contribution
    // sums through the dsum decimal path, rank update in the same IEEE
    // association order (damping cast to DOUBLE — a bare 0.85 literal
    // would run the update in DuckDB DECIMAL arithmetic and diverge).
    "q_graph_pagerank" -> {
      import graft.queries.Relational.{pagerankDamp, pagerankIters}
      val dmp = s"CAST($pagerankDamp AS DOUBLE)"
      val steps = (1 to pagerankIters).map { k =>
        s"""s_$k AS (SELECT e.dst AS nat, ${dsum("r.rank * e.w / e.outw", 10)} AS s
                     FROM e JOIN r_${k - 1} r ON e.src = r.nat GROUP BY e.dst),
            r_$k AS (SELECT r0.nat,
                            (1.0 - $dmp) / nn.n + $dmp * coalesce(s_$k.s, 0.0) AS rank
                     FROM r_0 r0 LEFT JOIN s_$k ON r0.nat = s_$k.nat CROSS JOIN nn)"""
      }.mkString(",\n            ")
      s"""WITH e0 AS (SELECT CAST(s_nationkey AS BIGINT) AS src,
                             CAST(c_nationkey AS BIGINT) AS dst, count(*) AS w
                      FROM lineitem
                      JOIN orders ON l_orderkey = o_orderkey
                      JOIN supplier ON l_suppkey = s_suppkey
                      JOIN customer ON o_custkey = c_custkey
                      GROUP BY 1, 2),
              o AS (SELECT src, sum(w) AS outw FROM e0 GROUP BY src),
              e AS (SELECT e0.src, e0.dst, e0.w, o.outw FROM e0 JOIN o USING (src)),
              nn AS (SELECT count(*) AS n FROM nation),
              r_0 AS (SELECT CAST(n_nationkey AS BIGINT) AS nat,
                             CAST(1.0 AS DOUBLE) / nn.n AS rank
                      FROM nation CROSS JOIN nn),
              $steps
         SELECT r.nat AS n_nationkey, n.n_name, round(r.rank, 6) AS pagerank
         FROM r_$pagerankIters r JOIN nation n ON r.nat = CAST(n.n_nationkey AS BIGINT)
         ORDER BY n_nationkey"""
    },

    // REAL recursive-CTE twin of the loop-based BFS: UNION-dedup recursion
    // over (node, hops) states with a hop bound (UNION ALL would enumerate
    // paths — 3^25 of them), min(hops) per node == level-synchronous BFS.
    // Same rank-based top-3 pruning (row_number, same tiebreak).
    // The SQL-surface keys: the statement IS the oracle — the identical
    // text runs in both engines (graft.queries.Relational).
    "q_sql_tpch" -> graft.queries.Relational.tpchQ5OracleSql,
    "q_sql_correlated" -> graft.queries.Relational.correlatedOracleSql,
    "q_sql_recursive" -> graft.queries.Relational.recursiveOracleSql,
    "q_sql_lateral" -> graft.queries.Relational.lateralOracleSql,

    // SQL-text DML family: the engine runs real MERGE/UPDATE/DELETE
    // statements against the v2 catalog table; the oracle REBUILDS each
    // statement's semantics relationally over the same orders seed.
    "q_sql_merge" ->
      """WITH seed AS (SELECT o_orderkey, o_custkey, o_totalprice, 'base' AS status
                       FROM orders WHERE o_orderkey % 3 <> 0),
              src AS (SELECT o_orderkey, o_custkey, o_totalprice * 1.1 AS price
                      FROM orders WHERE o_orderkey % 2 = 0),
              kept AS (SELECT t.o_orderkey, t.o_custkey,
                              CASE WHEN s.o_orderkey IS NOT NULL THEN s.price
                                   ELSE t.o_totalprice END AS o_totalprice,
                              CASE WHEN s.o_orderkey IS NOT NULL THEN 'upd'
                                   ELSE t.status END AS status
                       FROM seed t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
                       WHERE s.o_orderkey IS NULL OR s.price <= 400000.0),
              ins AS (SELECT s.o_orderkey, s.o_custkey, s.price AS o_totalprice,
                             'ins' AS status
                      FROM src s LEFT JOIN seed t ON s.o_orderkey = t.o_orderkey
                      WHERE t.o_orderkey IS NULL)
         SELECT * FROM kept UNION ALL SELECT * FROM ins ORDER BY o_orderkey""",

    // Merge-on-read twin: the same relational rebuild composed with the
    // layered UPDATE's CASE — the engine's event-log replay must agree.
    "q_sql_merge_delta" ->
      """WITH seed AS (SELECT o_orderkey, o_custkey, o_totalprice, 'base' AS status
                       FROM orders WHERE o_orderkey % 4 <> 0),
              src AS (SELECT o_orderkey, o_custkey, o_totalprice * 1.2 AS price
                      FROM orders WHERE o_orderkey % 5 = 0),
              kept AS (SELECT t.o_orderkey, t.o_custkey,
                              CASE WHEN s.o_orderkey IS NOT NULL THEN s.price
                                   ELSE t.o_totalprice END AS o_totalprice,
                              CASE WHEN s.o_orderkey IS NOT NULL THEN 'upd'
                                   ELSE t.status END AS status
                       FROM seed t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
                       WHERE s.o_orderkey IS NULL OR s.price <= 300000.0),
              ins AS (SELECT s.o_orderkey, s.o_custkey, s.price AS o_totalprice,
                             'ins' AS status
                      FROM src s LEFT JOIN seed t ON s.o_orderkey = t.o_orderkey
                      WHERE t.o_orderkey IS NULL),
              merged AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
         SELECT o_orderkey, o_custkey, o_totalprice,
                CASE WHEN o_custkey % 9 = 0 THEN 'flag' ELSE status END AS status
         FROM merged ORDER BY o_orderkey""",

    "q_sql_update" ->
      """SELECT o_orderkey, o_custkey,
                CASE WHEN o_custkey % 10 = 0 THEN o_totalprice * 0.9
                     ELSE o_totalprice END AS o_totalprice,
                CASE WHEN o_custkey % 10 = 0 THEN 'disc' ELSE 'base' END AS status
         FROM orders ORDER BY o_orderkey""",

    "q_sql_delete" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, 'base' AS status
         FROM orders WHERE NOT (o_totalprice < 50000.0 OR o_custkey % 7 = 0)
         ORDER BY o_orderkey""",

    // PIVOT rebuilt as conditional aggregates (DuckDB's own PIVOT syntax
    // differs — the relational rebuild is the portable twin); count is
    // integer, max an order-independent exact double.
    "q_sql_pivot" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
                count(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END) AS f_n,
                max(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END) AS f_mx,
                count(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END) AS o_n,
                max(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END) AS o_mx,
                count(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END) AS p_n,
                max(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END) AS p_mx
         FROM orders GROUP BY 1 ORDER BY yr""",

    // CTAS + INSERT INTO rebuilt as the UNION ALL of the two SELECTs.
    "q_sql_ctas" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, 'ctas' AS status
         FROM orders WHERE o_orderkey % 6 = 1
         UNION ALL
         SELECT o_orderkey, o_custkey, o_totalprice * 2.0, 'ins' AS status
         FROM orders WHERE o_orderkey % 6 = 2
         ORDER BY o_orderkey""",

    // Triangles: same distinct-pair edge aggregation, canonical a<b
    // undirected edges, two-hop join + closing-edge check, per-member
    // counts; nations in no triangle report 0.
    "q_graph_triangles" ->
      """WITH e0 AS (SELECT CAST(s_nationkey AS BIGINT) AS src,
                            CAST(c_nationkey AS BIGINT) AS dst
                     FROM lineitem l
                     JOIN orders o ON l.l_orderkey = o.o_orderkey
                     JOIN supplier s ON l.l_suppkey = s.s_suppkey
                     JOIN customer c ON o.o_custkey = c.c_custkey
                     GROUP BY 1, 2),
          und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                  FROM e0 WHERE src <> dst),
          tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                  FROM und e1
                  JOIN und e2 ON e2.a = e1.b
                  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
          members AS (SELECT x AS n FROM tri
                      UNION ALL SELECT y FROM tri
                      UNION ALL SELECT z FROM tri),
          cnt AS (SELECT n, count(*) AS n_triangles FROM members GROUP BY 1)
          SELECT CAST(nn.n_nationkey AS BIGINT) AS n_nationkey, nn.n_name,
                 CAST(coalesce(cnt.n_triangles, 0) AS BIGINT) AS n_triangles
          FROM nation nn LEFT JOIN cnt ON CAST(nn.n_nationkey AS BIGINT) = cnt.n
          ORDER BY 1""",

    "q_graph_reachability" ->
      """WITH RECURSIVE e0 AS (SELECT CAST(s_nationkey AS BIGINT) AS src,
                                      CAST(c_nationkey AS BIGINT) AS dst, count(*) AS w
                               FROM lineitem
                               JOIN orders ON l_orderkey = o_orderkey
                               JOIN supplier ON l_suppkey = s_suppkey
                               JOIN customer ON o_custkey = c_custkey
                               GROUP BY 1, 2),
              rk AS (SELECT src, dst,
                            row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
                     FROM e0),
              t3 AS (SELECT src, dst FROM rk WHERE rn <= 3),
              seed AS (SELECT CAST(s_nationkey AS BIGINT) AS nat FROM supplier
                       ORDER BY s_suppkey LIMIT 1),
              bfs AS (SELECT nat, CAST(0 AS BIGINT) AS hops FROM seed
                      UNION
                      SELECT t3.dst, bfs.hops + 1
                      FROM bfs JOIN t3 ON bfs.nat = t3.src WHERE bfs.hops < 25)
         SELECT b.nat AS n_nationkey, n.n_name, min(b.hops) AS hops
         FROM bfs b JOIN nation n ON b.nat = CAST(n.n_nationkey AS BIGINT)
         GROUP BY 1, 2 ORDER BY 1""",

    // Weighted SSSP twin: same pruned graph with cost = 1 + w mod 5;
    // recursion states are (node, cost) pairs deduped by UNION, pruned at
    // cost >= 125 (a simple path in a 25-node graph with costs <= 5 costs
    // <= 120, so no shortest path is pruned and the state space is finite).
    "q_graph_sssp" ->
      """WITH RECURSIVE e0 AS (SELECT CAST(s_nationkey AS BIGINT) AS src,
                                      CAST(c_nationkey AS BIGINT) AS dst, count(*) AS w
                               FROM lineitem
                               JOIN orders ON l_orderkey = o_orderkey
                               JOIN supplier ON l_suppkey = s_suppkey
                               JOIN customer ON o_custkey = c_custkey
                               GROUP BY 1, 2),
              rk AS (SELECT src, dst, 1 + w % 5 AS cost,
                            row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
                     FROM e0),
              t3 AS (SELECT src, dst, cost FROM rk WHERE rn <= 3),
              seed AS (SELECT CAST(s_nationkey AS BIGINT) AS nat FROM supplier
                       ORDER BY s_suppkey LIMIT 1),
              sssp AS (SELECT nat, CAST(0 AS BIGINT) AS cost FROM seed
                       UNION
                       SELECT t3.dst, sssp.cost + t3.cost
                       FROM sssp JOIN t3 ON sssp.nat = t3.src WHERE sssp.cost < 125)
         SELECT p.nat AS n_nationkey, n.n_name, min(p.cost) AS min_cost
         FROM sssp p JOIN nation n ON p.nat = CAST(n.n_nationkey AS BIGINT)
         GROUP BY 1, 2 ORDER BY 1""",

    // Densify twin: the same planted-gap aggregate joined onto a
    // generate_series calendar spine from the global bounds.
    "q_events_densify" ->
      s"""WITH src AS (SELECT event_type, date_trunc('day', ts) AS day, value
                       FROM events WHERE day(ts) % 3 <> 0),
              daily AS (SELECT event_type, day, count(*) AS n,
                               ${dsum("value", 6)} AS sum_value
                        FROM src GROUP BY 1, 2),
              b AS (SELECT date_trunc('day', min(ts)) AS lo,
                           date_trunc('day', max(ts)) AS hi FROM events),
              spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
                        FROM b),
              types AS (SELECT DISTINCT event_type FROM events)
         SELECT t.event_type, s.day,
                coalesce(d.n, 0) AS n,
                coalesce(d.sum_value, 0.0) AS sum_value,
                CAST(CASE WHEN d.n IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
         FROM types t CROSS JOIN spine s
         LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = s.day
         ORDER BY t.event_type, s.day""",

    // Markov twin: the same lag pairing over the (ts, event_id) total
    // order; probabilities are rounded ratios of exact integer counts.
    "q_events_markov" ->
      """WITH p AS (SELECT lag(event_type) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id) AS prev_type,
                           event_type
                    FROM events),
              c AS (SELECT prev_type, event_type, count(*) AS n
                    FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2),
              t AS (SELECT prev_type, event_type, n,
                           sum(n) OVER (PARTITION BY prev_type) AS n_prev
                    FROM c)
         SELECT prev_type, event_type, CAST(n AS BIGINT) AS n,
                round(CAST(n AS DOUBLE) / CAST(n_prev AS DOUBLE), 6) AS p
         FROM t ORDER BY prev_type, event_type""",

    // Nearest as-of twin: DuckDB ASOF JOIN is backward-only, so the
    // oracle mirrors the merge-scan construction — paired IGNORE-NULLS
    // carries in both directions over the same (t, is_probe, event_id)
    // total order, nearer side picked in integer micros (ties backward).
    "q_join_asof_nearest" ->
      """WITH b AS (SELECT user_id, epoch_us(ts) AS t,
                           CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS is_probe,
                           event_id
                    FROM events WHERE event_type IN ('click', 'purchase')),
              c AS (SELECT *,
                      last_value(CASE WHEN is_probe = 0 THEN t END IGNORE NULLS)
                        OVER wb AS bt,
                      last_value(CASE WHEN is_probe = 0 THEN event_id END IGNORE NULLS)
                        OVER wb AS bid,
                      first_value(CASE WHEN is_probe = 0 THEN t END IGNORE NULLS)
                        OVER wf AS ft,
                      first_value(CASE WHEN is_probe = 0 THEN event_id END IGNORE NULLS)
                        OVER wf AS fid
                    FROM b
                    WINDOW wb AS (PARTITION BY user_id ORDER BY t, is_probe, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                           wf AS (PARTITION BY user_id ORDER BY t, is_probe, event_id
                                  ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
         SELECT event_id, user_id,
                CASE WHEN bt IS NULL THEN fid WHEN ft IS NULL THEN bid
                     WHEN t - bt <= ft - t THEN bid ELSE fid END AS click_id,
                CASE WHEN bt IS NULL THEN t - ft WHEN ft IS NULL THEN t - bt
                     WHEN t - bt <= ft - t THEN t - bt ELSE t - ft END AS signed_diff_us
         FROM c
         WHERE is_probe = 1 AND (bt IS NOT NULL OR ft IS NOT NULL)
         ORDER BY event_id""",

    // RFM twin: identical per-user metrics, the population's exact
    // interpolated quintile edges (quantile_cont ≡ Spark percentile), and
    // strict-comparison threshold scoring.
    "q_events_rfm" ->
      s"""WITH g AS (SELECT max(epoch_us(ts)) AS mx FROM events),
               u AS (SELECT user_id,
                            (g.mx - max(epoch_us(ts))) // 3600000000 AS rec_hours,
                            count(*) AS freq, ${dsum("value", 2)} AS monetary
                     FROM events, g GROUP BY user_id, g.mx),
               q AS (SELECT quantile_cont(rec_hours, [0.2, 0.4, 0.6, 0.8]) AS re,
                            quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS fe,
                            quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS me
                     FROM u)
          SELECT user_id, rec_hours, freq, monetary,
                 CAST(1 + CAST(rec_hours < re[1] AS INT) + CAST(rec_hours < re[2] AS INT)
                        + CAST(rec_hours < re[3] AS INT) + CAST(rec_hours < re[4] AS INT)
                      AS BIGINT) AS r_score,
                 CAST(1 + CAST(freq > fe[1] AS INT) + CAST(freq > fe[2] AS INT)
                        + CAST(freq > fe[3] AS INT) + CAST(freq > fe[4] AS INT)
                      AS BIGINT) AS f_score,
                 CAST(1 + CAST(monetary > me[1] AS INT) + CAST(monetary > me[2] AS INT)
                        + CAST(monetary > me[3] AS INT) + CAST(monetary > me[4] AS INT)
                      AS BIGINT) AS m_score,
                 CAST((1 + CAST(rec_hours < re[1] AS INT) + CAST(rec_hours < re[2] AS INT)
                         + CAST(rec_hours < re[3] AS INT) + CAST(rec_hours < re[4] AS INT)) * 100
                      + (1 + CAST(freq > fe[1] AS INT) + CAST(freq > fe[2] AS INT)
                           + CAST(freq > fe[3] AS INT) + CAST(freq > fe[4] AS INT)) * 10
                      + (1 + CAST(monetary > me[1] AS INT) + CAST(monetary > me[2] AS INT)
                           + CAST(monetary > me[3] AS INT) + CAST(monetary > me[4] AS INT))
                      AS BIGINT) AS rfm_code
          FROM u, q ORDER BY user_id""",

    // Last-touch attribution twin: two IGNORE-NULLS carries (ts + type) —
    // non-null together by construction, so they mirror the Spark side's
    // single struct carry; frame ends at 1 PRECEDING in both.
    "q_events_attribution" ->
      s"""WITH t AS (SELECT user_id, ts, event_id, event_type, value,
                 last_value(CASE WHEN event_type IN ('click', 'view')
                                 THEN ts END IGNORE NULLS) OVER w AS lt_ts,
                 last_value(CASE WHEN event_type IN ('click', 'view')
                                 THEN event_type END IGNORE NULLS) OVER w AS lt_type
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
          SELECT CASE WHEN lt_ts IS NULL OR lt_ts < ts - INTERVAL 24 HOUR
                      THEN 'direct' ELSE lt_type END AS channel,
                 count(*) AS n_conversions, ${dsum("value", 6)} AS sum_value
          FROM t WHERE event_type = 'purchase'
          GROUP BY 1 ORDER BY 1""",

    // Argmax twin: the window greatest-row-per-group form — the reference
    // the one-aggregate struct-max replaces at scale.
    "q_agg_argmax" ->
      """SELECT c_mktsegment, n_customers, top_acctbal, top_custkey
         FROM (SELECT c_mktsegment, c_acctbal AS top_acctbal,
                      c_custkey AS top_custkey,
                      count(*) OVER (PARTITION BY c_mktsegment) AS n_customers,
                      row_number() OVER (PARTITION BY c_mktsegment
                        ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
               FROM customer)
         WHERE rn = 1 ORDER BY c_mktsegment""",

    // Sequence-pattern twin: the same total-order journey string via
    // ordered string_agg; non-overlapping match counts agree between
    // Java regex and RE2 for this class-only pattern.
    "q_events_pattern" ->
      """WITH j AS (SELECT user_id, count(*) AS n_events,
                           string_agg(substring(event_type, 1, 1), ''
                                      ORDER BY ts, event_id) AS journey
                    FROM events GROUP BY user_id)
         SELECT user_id, n_events,
                CAST(len(regexp_extract_all(journey, 'v[ces]*cp')) AS BIGINT) AS n_funnels,
                regexp_extract(journey, 'v[ces]*cp') AS first_funnel
         FROM j ORDER BY user_id""",

    // Twin of the trailing-window spike detector: mean/std/z derived from
    // the same exact integer frame sums in the same IEEE op order — never
    // an engine-internal stddev accumulation.
    "q_events_anomaly" ->
      """WITH daily AS (SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                               count(*) AS n
                        FROM events GROUP BY 1, 2),
              sc AS (SELECT *, sum(n) OVER w AS s1, sum(n * n) OVER w AS s2,
                            count(*) OVER w AS cnt
                     FROM daily
                     WINDOW w AS (PARTITION BY event_type ORDER BY day
                                  ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
         SELECT event_type, day, n,
                round(CAST(s1 AS DOUBLE) / cnt, 4) AS trailing_mean,
                CASE WHEN sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / cnt) / (cnt - 1)) = 0.0
                     THEN NULL
                     ELSE round((n - CAST(s1 AS DOUBLE) / cnt) /
                          sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / cnt) / (cnt - 1)), 4)
                END AS z,
                CAST(CASE WHEN (n - CAST(s1 AS DOUBLE) / cnt) >
                               3.0 * sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / cnt) / (cnt - 1))
                          THEN 1 ELSE 0 END AS BIGINT) AS is_spike
         FROM sc WHERE cnt = 7
         ORDER BY event_type, day""",

    "q_agg_median" ->
      """SELECT o_orderstatus, count(*) AS n,
                round(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
                round(quantile_cont(o_totalprice, 0.9), 2) AS p90_price
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    // Winsorized mean twin: exact interpolated band edges (quantile_cont ≡
    // Spark percentile — the q_agg_median-proven pairing), pure-selection
    // clamp, decimal-path mean.
    "q_stats_winsorize" ->
      s"""WITH q AS (SELECT o_orderstatus,
                            quantile_cont(o_totalprice, 0.05) AS p05,
                            quantile_cont(o_totalprice, 0.95) AS p95
                     FROM orders GROUP BY 1)
          SELECT o.o_orderstatus, count(*) AS n,
                 round(max(q.p05), 2) AS p05, round(max(q.p95), 2) AS p95,
                 round(${dsum("greatest(q.p05, least(q.p95, o.o_totalprice))", 6)}
                       / count(*), 6) AS winsor_mean
          FROM orders o JOIN q USING (o_orderstatus)
          GROUP BY 1 ORDER BY 1""",

    // Per-group top-k twin: the same window rank the WindowGroupLimit
    // plan optimizes — identical (revenue desc, partkey) total order.
    "q_agg_topk_group" ->
      s"""SELECT p_brand, p_partkey, revenue, rn
          FROM (SELECT p_brand, p_partkey, revenue,
                       row_number() OVER (PARTITION BY p_brand
                         ORDER BY revenue DESC, p_partkey) AS rn
                FROM (SELECT p_brand, p_partkey,
                             ${dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
                      FROM lineitem JOIN part ON l_partkey = p_partkey
                      GROUP BY 1, 2))
          WHERE rn <= 3 ORDER BY p_brand, rn""",

    // XML round trip is lossless (shortest round-trippable double repr),
    // so the oracle aggregates the parquet source directly.
    "q_source_xml" ->
      s"""SELECT c_mktsegment, count(*) AS n, ${dsum("c_acctbal")} AS sum_bal
          FROM customer GROUP BY 1 ORDER BY 1""",

    "q_set_except_all" ->
      """SELECT l_partkey, count(*) AS n
         FROM (SELECT l_partkey FROM lineitem
               EXCEPT ALL
               SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R')
         GROUP BY 1 ORDER BY 1""",

    "q_set_intersect_all" ->
      """SELECT l_partkey, count(*) AS n
         FROM (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
               INTERSECT ALL
               SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A')
         GROUP BY 1 ORDER BY 1""",

    // Funnel latency twin: first view, first purchase at-or-after it.
    "q_funnel_latency" ->
      """WITH v AS (SELECT user_id, min(epoch_us(ts)) AS v_us
                    FROM events WHERE event_type = 'view' GROUP BY 1),
              p AS (SELECT e.user_id, min(v.v_us) AS first_view_us,
                           min(epoch_us(e.ts)) AS p_us
                    FROM events e JOIN v USING (user_id)
                    WHERE e.event_type = 'purchase'
                      AND epoch_us(e.ts) >= v.v_us
                    GROUP BY 1)
         SELECT user_id, first_view_us,
                p_us - first_view_us AS latency_us
         FROM p ORDER BY user_id""",

    // Mode twin: the tie rule (most frequent, SMALLEST quantity on ties)
    // is spelled as count + rank in both engines — neither side's native
    // mode() is used, because its tie choice is unspecified.
    "q_agg_mode" ->
      """WITH c AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS mode_qty,
                           count(*) AS n_mode
                    FROM lineitem GROUP BY 1, 2),
              r AS (SELECT *, row_number() OVER
                      (PARTITION BY l_returnflag
                       ORDER BY n_mode DESC, mode_qty) AS rn
                    FROM c)
         SELECT l_returnflag, mode_qty, n_mode
         FROM r WHERE rn = 1 ORDER BY l_returnflag""",

    // Higher moments twin: exact integer power sums (quantity is
    // integral; DuckDB's sum(BIGINT) widens to HUGEINT), then the SAME
    // left-associated IEEE double epilogue as the Spark side.
    "q_agg_moments" ->
      """WITH s AS (SELECT l_returnflag, count(*) AS n,
                           sum(CAST(l_quantity AS BIGINT)) AS s1,
                           sum(CAST(l_quantity AS BIGINT)
                               * CAST(l_quantity AS BIGINT)) AS s2,
                           sum(CAST(l_quantity AS BIGINT)
                               * CAST(l_quantity AS BIGINT)
                               * CAST(l_quantity AS BIGINT)) AS s3,
                           sum(CAST(l_quantity AS BIGINT)
                               * CAST(l_quantity AS BIGINT)
                               * CAST(l_quantity AS BIGINT)
                               * CAST(l_quantity AS BIGINT)) AS s4
                    FROM lineitem GROUP BY 1),
              e AS (SELECT l_returnflag, n,
                           CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                           CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
                           CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
                           CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
                    FROM s),
              m AS (SELECT l_returnflag, n, mean,
                           r2 - mean * mean AS m2v,
                           r3 - 3.0 * mean * r2
                              + 2.0 * mean * mean * mean AS m3v,
                           r4 - 4.0 * mean * r3
                              + 6.0 * mean * mean * r2
                              - 3.0 * mean * mean * mean * mean AS m4v
                    FROM e)
         SELECT l_returnflag, n, round(mean, 6) AS mean_qty,
                round(m2v, 6) AS m2,
                round(CASE WHEN m2v > 0
                           THEN m3v / (m2v * sqrt(m2v)) END, 6) AS skewness,
                round(CASE WHEN m2v > 0
                           THEN m4v / (m2v * m2v) - 3.0 END, 6) AS kurtosis
         FROM m ORDER BY l_returnflag""",

    // Interval-overlap twin: raw inequality pair (DuckDB IEJoin) over the
    // same unordered k1 < k2 pairs.
    "q_join_interval_overlap" ->
      """WITH w AS (SELECT o_orderkey AS k, o_orderpriority AS prio,
                           date_diff('day', DATE '1970-01-01',
                                     CAST(o_orderdate AS DATE)) AS sd
                    FROM orders WHERE o_totalprice > 480000)
         SELECT a.prio AS prio1, b.prio AS prio2, count(*) AS n_overlaps
         FROM w a JOIN w b
           ON a.k < b.k AND a.sd < b.sd + 2 AND b.sd < a.sd + 2
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // percent_rank/cume_dist twin: the unique (value, event_id) ordering
    // makes both exact integer ratios.
    "q_window_cume" ->
      """SELECT user_id, event_id, value,
                round(percent_rank() OVER w, 6) AS pct_rank,
                round(cume_dist() OVER w, 6) AS cume
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
         ORDER BY user_id, event_id""",

    // Weighted median: smallest price whose cumulative quantity-weight
    // reaches half the total — the crossing test (2·cum ≥ total) runs in
    // exact DECIMAL(38,10) on both engines, so no halving and no float
    // cumsum can diverge.
    "q_agg_weighted_median" ->
      s"""WITH pw AS (SELECT l_returnflag, l_extendedprice AS price,
                             sum(CAST(l_quantity AS DECIMAL(38,10))) AS w
                      FROM lineitem GROUP BY 1, 2),
               c AS (SELECT l_returnflag, price,
                            sum(w) OVER (PARTITION BY l_returnflag ORDER BY price
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
                            sum(w) OVER (PARTITION BY l_returnflag) AS tw
                     FROM pw),
               med AS (SELECT l_returnflag, min(price) AS wmedian_price
                       FROM c WHERE cw * 2 >= tw GROUP BY 1),
               st AS (SELECT l_returnflag, count(*) AS n_items,
                             ${dsum("l_quantity", 6)} AS total_qty
                      FROM lineitem GROUP BY 1)
          SELECT st.l_returnflag, st.n_items, st.total_qty, med.wmedian_price
          FROM st JOIN med USING (l_returnflag) ORDER BY l_returnflag""",

    "q_sort_multi" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
                nullif(c_mktsegment, 'BUILDING') AS seg_or_null
         FROM customer
         ORDER BY seg_or_null ASC NULLS LAST, c_acctbal DESC, c_custkey
         LIMIT 200""",

    "q_topk" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                round(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax), 2) AS charge
         FROM lineitem
         ORDER BY charge DESC, l_orderkey, l_linenumber, l_partkey, l_suppkey
         LIMIT 20""",

    "q_set_union" ->
      """SELECT DISTINCT src, c_custkey FROM (
           SELECT 'building' AS src, c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
           UNION ALL
           SELECT 'rich' AS src, c_custkey FROM customer WHERE c_acctbal > 5000.0
           UNION ALL
           SELECT 'rich' AS src, c_custkey FROM customer WHERE c_acctbal > 7000.0)
         ORDER BY src, c_custkey""",

    "q_set_intersect" ->
      """SELECT p_partkey FROM (
           SELECT p_partkey FROM part WHERE p_size > 25
           INTERSECT
           SELECT l_partkey FROM lineitem)
         ORDER BY p_partkey""",

    "q_set_except" ->
      """SELECT c_custkey FROM (
           SELECT c_custkey FROM customer
           EXCEPT
           SELECT o_custkey FROM orders WHERE year(o_orderdate) = 2001)
         ORDER BY c_custkey""")

  /** dsum as a window aggregate — same recipe OVER a frame. */
  private def dsumOver(x: String, over: String, scale: Int = 2): String = {
    val p = math.pow(10, scale).toLong
    s"CAST(round(sum(CAST($x AS DECIMAL(38,10))) OVER $over, $scale) * $p AS BIGINT) / $p.0"
  }

  /** The q_ml_gbdt_converged twin, GENERATED from the Spark side's own
    * feature schedule (one CTE block per boosting round) so the two
    * engines can never drift in round count or feature order. Per round:
    * decimal residual histogram → triangle prefix → fin-rounded split
    * stats → 4-dp gain with (gain DESC, sb) argmax → residual update via
    * the same IEEE CASE expression; the loss chain NESTS
    * round(loss − gain, 4) exactly as the driver's iterative r4 does
    * (association matters at the 4th decimal). */
  private def gbdtConvergedSql: String = {
    val q = "l_quantity"; val d = "l_discount"; val y = "l_extendedprice"
    val feats = graft.queries.MlSuffStats.gbdtConvRounds
    def fin(x: String) = s"CAST(round($x, 6) * 1000000 AS BIGINT) / 1000000.0"
    val sb = new StringBuilder
    sb ++= s"""WITH resid_0 AS (
        SELECT CAST(floor($y / 4096.0) AS BIGINT) AS bin1,
               CAST(floor($d * 100.0) AS BIGINT) AS bin2,
               CAST($q AS DOUBLE) AS r
        FROM lineitem)"""
    for ((f, i) <- feats.zipWithIndex) {
      val t = i + 1
      sb ++= s""",
        bins_$t AS (SELECT $f AS b, count(*) AS n,
                           sum(CAST(r AS DECIMAL(38,10))) AS sv,
                           sum(CAST(r * r AS DECIMAL(38,10))) AS qv
                    FROM resid_${t - 1} GROUP BY 1),
        tot_$t AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot,
                          sum(sv) AS s_tot, sum(qv) AS q_tot FROM bins_$t),
        cum_$t AS (SELECT c.b AS sb, CAST(sum(x.n) AS BIGINT) AS nl,
                          sum(x.sv) AS sl, sum(x.qv) AS ql
                   FROM bins_$t c JOIN bins_$t x ON x.b <= c.b GROUP BY 1),
        g_$t AS (SELECT sb, nl, n_tot - nl AS nr,
                        ${fin("sl")} AS sl_d, ${fin("s_tot - sl")} AS sr_d,
                        ${fin("ql")} AS ql_d, ${fin("q_tot - ql")} AS qr_d,
                        ${fin("s_tot")} AS st_d, ${fin("q_tot")} AS qt_d, n_tot
                 FROM cum_$t CROSS JOIN tot_$t WHERE n_tot - nl > 0),
        gg_$t AS (SELECT sb, nl, nr, sl_d, sr_d,
                         CAST(round((qt_d - st_d * st_d / CAST(n_tot AS DOUBLE))
                             - (ql_d - sl_d * sl_d / CAST(nl AS DOUBLE))
                             - (qr_d - sr_d * sr_d / CAST(nr AS DOUBLE)), 4)
                           * 10000 AS BIGINT) AS gain4,
                         CAST(round(qt_d - st_d * st_d / CAST(n_tot AS DOUBLE), 6)
                           * 1000000 AS BIGINT) AS lp6
                  FROM g_$t),
        best_$t AS (SELECT sb AS split_$t,
                           sl_d / CAST(nl AS DOUBLE) AS mu_l_$t,
                           sr_d / CAST(nr AS DOUBLE) AS mu_r_$t,
                           gain4 AS gain4_$t, lp6 AS lp6_$t
                    FROM gg_$t
                    QUALIFY row_number() OVER (ORDER BY gain4 DESC, sb) = 1),
        resid_$t AS (SELECT bin1, bin2,
                            r - CASE WHEN $f <= split_$t
                                     THEN mu_l_$t ELSE mu_r_$t END AS r
                     FROM resid_${t - 1} CROSS JOIN best_$t)"""
    }
    // The loss chain lives in SCALED-BIGINT space (loss6 = lp6 − 100·Σ
    // gain4) so no double subtraction ever crosses a rounding boundary,
    // and the ANCHOR rounds at 6 dp: the parent SSE qt − st²/n lands on
    // the 5e-5 grid whenever st² is divisible by 3 (n = 60000·SF has one
    // factor of 3), which is EXACTLY a 4-dp tie — where Spark's
    // shortest-repr HALF_UP and DuckDB's exact-binary rounding disagree;
    // at 6 dp those grid points sit ON the output grid, tie-free. The
    // final division by 1e6 is one IEEE op in both engines.
    val rows = feats.zipWithIndex.map { case (f, i) =>
      val t = i + 1
      val lossExpr = "(lp6_1 - " +
        (1 to t).map(j => s"100 * gain4_$j").mkString(" - ") + ") / 1000000.0"
      val from = (1 to t).map(j => s"best_$j").mkString(", ")
      s"""SELECT $t AS round, '$f' AS feature, split_$t AS split_bin,
                 round(mu_l_$t, 6) AS mu_left, round(mu_r_$t, 6) AS mu_right,
                 gain4_$t / 10000.0 AS gain, $lossExpr AS loss
          FROM $from"""
    }
    sb ++= s"\nSELECT * FROM (${rows.mkString("\nUNION ALL\n")}) ORDER BY round"
    sb.toString
  }

  val windows: Map[String, String] = Map(
    // Rolling exact distinct: the oracle states the SEMANTICS directly
    // (trailing-7-day distinct users per type, for days the type has);
    // the Spark side's dedupe-then-explode decomposition must reproduce it
    // exactly.
    "q_window_distinct" ->
      """WITH d AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id
                    FROM events),
          days AS (SELECT DISTINCT event_type, day FROM d)
          SELECT days.event_type, strftime(days.day, '%Y-%m-%d') AS day,
                 count(DISTINCT d.user_id) AS u7d
          FROM days JOIN d ON d.event_type = days.event_type
                          AND d.day BETWEEN days.day - 6 AND days.day
          GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn, rnk, drnk FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
             rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk,
             dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS drnk
           FROM orders)
         WHERE rn <= 3 ORDER BY o_custkey, rn""",

    "q_window_running" ->
      s"""SELECT o_custkey, o_orderkey, o_orderdate,
                 ${dsumOver("o_totalprice",
                   "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")} AS running_spend
          FROM orders
          ORDER BY o_custkey, o_orderdate, o_orderkey""",

    "q_window_lag" ->
      """SELECT event_id, user_id, ts,
                epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS gap_us,
                epoch_us(lead(ts, 1) OVER w) - epoch_us(ts) AS next_us,
                first_value(event_id) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_event,
                last_value(event_id) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_event
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY event_id""",

    "q_window_range" ->
      s"""SELECT o_orderstatus, o_orderkey, price_cents,
                 count(*) OVER w AS n_band,
                 ${dsumOver("o_totalprice", "w")} AS band_spend
          FROM (SELECT *, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
                FROM orders)
          WINDOW w AS (PARTITION BY o_orderstatus ORDER BY price_cents
                       RANGE BETWEEN 500000 PRECEDING AND 500000 FOLLOWING)
          ORDER BY o_orderstatus, price_cents, o_orderkey""",

    "q_window_ntile" ->
      """SELECT c_custkey, c_acctbal,
                CAST(ntile(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS quartile,
                round(percent_rank() OVER (ORDER BY c_acctbal DESC), 6) AS pct_rank
         FROM customer
         ORDER BY c_custkey""")

  val functions: Map[String, String] = Map(
    "q_str_funcs" ->
      """SELECT c_custkey,
                upper(c_name) AS up_name,
                lower(c_mktsegment) AS lo_seg,
                substring(c_name, 10, 4) AS sub_name,
                trim('  ' || c_mktsegment || '  ') AS trimmed,
                CAST(length(c_name) AS BIGINT) AS name_len,
                regexp_replace(c_name, 'Customer#', 'C-') AS repl_name,
                concat_ws('/', c_mktsegment, c_name) AS joined,
                lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
                CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS extracted_id
         FROM customer ORDER BY c_custkey""",

    "q_date_funcs" ->
      """SELECT o_orderkey,
                CAST(year(o_orderdate) AS BIGINT) AS yr,
                CAST(month(o_orderdate) AS BIGINT) AS mo,
                CAST(day(o_orderdate) AS BIGINT) AS dom,
                date_trunc('month', o_orderdate) AS month_start,
                o_orderdate + INTERVAL 3 DAY AS plus3d,
                CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT) AS days_to_2002,
                CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end
         FROM orders ORDER BY o_orderkey""",

    "q_math_funcs" ->
      """SELECT p_partkey,
                round(p_retailprice, 1) AS r1,
                CAST(floor(p_retailprice) AS BIGINT) AS fl,
                CAST(ceil(p_retailprice) AS BIGINT) AS ce,
                CAST(abs(25 - p_size) AS BIGINT) AS ab,
                round(sqrt(p_retailprice), 6) AS sq,
                round(ln(p_retailprice), 6) AS lg,
                round(exp(CAST(p_size AS DOUBLE) / 10.0), 6) AS ex,
                pow(CAST(p_size AS DOUBLE), 2) AS pw,
                CAST(p_partkey % 97 AS BIGINT) AS md,
                CAST(sign(CAST(p_size AS DOUBLE) - 25.0) AS BIGINT) AS sg
         FROM part ORDER BY p_partkey""",

    "q_array_funcs" ->
      """SELECT vec_id,
                CAST(length(embedding) AS BIGINT) AS dim,
                round(CAST(embedding[1] AS DOUBLE), 6) AS h0,
                round(CAST(embedding[2] AS DOUBLE), 6) AS h1,
                round(CAST(embedding[3] AS DOUBLE), 6) AS h2,
                round(CAST(embedding[4] AS DOUBLE), 6) AS h3,
                round(sqrt(list_aggregate(
                  list_transform(embedding[1:4],
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 6) AS l2_head4
         FROM embeddings ORDER BY vec_id""",

    "q_json_funcs" ->
      s"""SELECT CAST(json_extract_string(props, '$$.k') AS BIGINT) % 10 AS k_mod,
                 count(*) AS n,
                 ${dsum("value", 6)} AS sum_value
          FROM events GROUP BY k_mod ORDER BY k_mod""",

    "q_explode_tokens" ->
      """SELECT token, count(*) AS n FROM (
           SELECT unnest(string_split_regex(lower(text), '\s+')) AS token
           FROM documents)
         WHERE token <> ''
         GROUP BY token ORDER BY n DESC, token LIMIT 20""",

    // The Spark side never shuffles the vocabulary (Misra-Gries candidates
    // + exact recount, certificate-checked); the from-scratch full groupBy
    // IS the exactness claim.
    "q_agg_heavyhitters" ->
      """SELECT token, count(*) AS n FROM (
           SELECT unnest(string_split_regex(lower(text), '\s+')) AS token
           FROM documents)
         WHERE token <> ''
         GROUP BY token ORDER BY n DESC, token LIMIT 10""",

    // The map itself is checked through its sorted-entry JSON serialization:
    // Spark to_json over a key-sorted map == DuckDB's ordered string_agg
    // (event_type values are plain identifiers, so no JSON escaping differs).
    "q_map_funcs" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS n
                    FROM events GROUP BY 1, 2)
         SELECT user_id, count(*) AS n_types,
                '{' || string_agg('"' || event_type || '":' || n, ','
                                  ORDER BY event_type) || '}' AS type_counts_json,
                CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN n END), 0)
                     AS BIGINT) AS n_click,
                CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN n END), 0)
                     AS BIGINT) AS n_purchase
         FROM c GROUP BY user_id ORDER BY user_id""")

  /** Oracle twin of Det.davg: exact decimal mean, rounded. */
  private def davg(x: String, scale: Int = 6): String =
    s"round(${dsum(x, scale)} / count(*), $scale)"

  val mlStats: Map[String, String] = {
    val q = "l_quantity"; val d = "l_discount"; val y = "l_extendedprice"
    Map(
      "q_ml_linreg_normal" ->
        s"""SELECT count(*) AS n,
                   ${dsum(q)} AS s_q, ${dsum(d, 4)} AS s_d,
                   ${dsum(s"$q * $q")} AS s_qq, ${dsum(s"$q * $d", 4)} AS s_qd,
                   ${dsum(s"$d * $d", 6)} AS s_dd, ${dsum(y)} AS s_y,
                   ${dsum(s"$q * $y")} AS s_qy, ${dsum(s"$d * $y", 4)} AS s_dy
            FROM lineitem""",

      // Same weight expression / association order as the Spark side; every
      // input column is a parquet DOUBLE, so w is the same IEEE double in
      // both engines before the per-row decimal cast.
      "q_ml_wls" ->
        s"""WITH t AS (
              SELECT CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + $q) AS w,
                     $q AS q, $d AS d, $y AS y
              FROM lineitem)
            SELECT count(*) AS n,
                   ${dsum("w", 4)} AS s_w,
                   ${dsum("w * q", 4)} AS s_wq, ${dsum("w * d", 4)} AS s_wd,
                   ${dsum("w * q * q", 4)} AS s_wqq, ${dsum("w * q * d", 4)} AS s_wqd,
                   ${dsum("w * d * d", 6)} AS s_wdd,
                   ${dsum("w * y")} AS s_wy, ${dsum("w * q * y")} AS s_wqy,
                   ${dsum("w * d * y", 4)} AS s_wdy
            FROM t""",

      // Histogram best-split: per-bin sums are EXACT BIGINTs (quantity is
      // integral), prefix stats come from the same triangle self-join the
      // Spark side uses (no float window sums), and the gain algebra is the
      // identical IEEE double expression.
      "q_ml_tree_split" ->
        s"""WITH bins AS (
              SELECT CAST(floor($y / 4096.0) AS BIGINT) AS bin, count(*) AS n,
                     CAST(sum(CAST($q AS DECIMAL(38,10))) AS BIGINT) AS s,
                     CAST(sum(CAST($q * $q AS DECIMAL(38,10))) AS BIGINT) AS sq
              FROM lineitem GROUP BY 1),
            tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot, CAST(sum(s) AS BIGINT) AS s_tot,
                           CAST(sum(sq) AS BIGINT) AS q_tot FROM bins),
            cum AS (SELECT c.bin AS split_bin, CAST(sum(b.n) AS BIGINT) AS nl,
                           CAST(sum(b.s) AS BIGINT) AS sl, CAST(sum(b.sq) AS BIGINT) AS ql
                    FROM bins c JOIN bins b ON b.bin <= c.bin GROUP BY 1),
            sp AS (SELECT split_bin, nl, n_tot - nl AS nr, sl, s_tot - sl AS sr,
                          ql, q_tot - ql AS qr, n_tot, s_tot, q_tot
                   FROM cum CROSS JOIN tot WHERE n_tot - nl > 0),
            gn AS (SELECT split_bin, nl AS n_left, nr AS n_right,
                          round((CAST(q_tot AS DOUBLE) - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / CAST(n_tot AS DOUBLE))
                              - (CAST(ql AS DOUBLE) - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE))
                              - (CAST(qr AS DOUBLE) - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE)), 4) AS gain
                   FROM sp)
            SELECT split_bin, n_left, n_right, gain,
                   row_number() OVER (ORDER BY gain DESC, split_bin) = 1 AS is_best
            FROM gn ORDER BY split_bin""",

      // Boosting round: round 1 restates the tree-split CTEs (exact-BIGINT
      // histogram, triangle prefix, argmax); leaf means are one IEEE
      // division from exact integers; the residual is identical per-row
      // double arithmetic; round 2's residual sums ride the decimal path
      // and convert post-merge by the same round-scale dance as the Spark
      // side's `fin`.
      // K-round boosting twin: one CTE block per round of the Spark
      // side's driver loop (the SQL is GENERATED from the same feature
      // schedule — graft.queries.MlSuffStats.gbdtConvRounds — so the two
      // can never drift in round count or feature order). Residual sums
      // ride the decimal path, post-merge via the identical fin dance;
      // the loss chain nests round(loss − gain, 4) per round exactly as
      // the driver does.
      "q_ml_gbdt_converged" -> gbdtConvergedSql,

      "q_ml_gbdt_round" ->
        s"""WITH rws AS (
              SELECT CAST(floor($y / 4096.0) AS BIGINT) AS bin1,
                     CAST(floor($d * 100.0) AS BIGINT) AS bin2, $q AS yy
              FROM lineitem),
            bins1 AS (SELECT bin1, count(*) AS n,
                             CAST(sum(CAST(yy AS DECIMAL(38,10))) AS BIGINT) AS sv,
                             CAST(sum(CAST(yy * yy AS DECIMAL(38,10))) AS BIGINT) AS qv
                      FROM rws GROUP BY 1),
            tot1 AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot, CAST(sum(sv) AS BIGINT) AS s_tot,
                            CAST(sum(qv) AS BIGINT) AS q_tot FROM bins1),
            cum1 AS (SELECT c.bin1 AS sb, CAST(sum(b.n) AS BIGINT) AS nl,
                            CAST(sum(b.sv) AS BIGINT) AS sl, CAST(sum(b.qv) AS BIGINT) AS ql
                     FROM bins1 c JOIN bins1 b ON b.bin1 <= c.bin1 GROUP BY 1),
            g1 AS (SELECT sb, nl, n_tot - nl AS nr, sl, s_tot - sl AS sr,
                          ql, q_tot - ql AS qr, n_tot, s_tot, q_tot
                   FROM cum1 CROSS JOIN tot1 WHERE n_tot - nl > 0),
            r1 AS (SELECT g1.*, row_number() OVER (ORDER BY
                     round((CAST(q_tot AS DOUBLE) - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / CAST(n_tot AS DOUBLE))
                         - (CAST(ql AS DOUBLE) - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE))
                         - (CAST(qr AS DOUBLE) - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE)), 4) DESC, sb) AS rn
                   FROM g1),
            best1 AS (SELECT sb AS r1_split,
                             CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE) AS mu_l,
                             CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE) AS mu_r
                      FROM r1 WHERE rn = 1),
            res AS (SELECT bin2,
                           yy - CASE WHEN bin1 <= r1_split THEN mu_l ELSE mu_r END AS r
                    FROM rws CROSS JOIN best1),
            bins2 AS (SELECT bin2, count(*) AS n,
                             sum(CAST(r AS DECIMAL(38,10))) AS sv,
                             sum(CAST(r * r AS DECIMAL(38,10))) AS qv
                      FROM res GROUP BY 1),
            tot2 AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot, sum(sv) AS s_tot,
                            sum(qv) AS q_tot FROM bins2),
            cum2 AS (SELECT c.bin2 AS split_bin, CAST(sum(b.n) AS BIGINT) AS nl,
                            sum(b.sv) AS sl, sum(b.qv) AS ql
                     FROM bins2 c JOIN bins2 b ON b.bin2 <= c.bin2 GROUP BY 1),
            g2 AS (SELECT split_bin, nl, n_tot - nl AS nr,
                          CAST(round(sl, 6) * 1000000 AS BIGINT) / 1000000.0 AS sl_d,
                          CAST(round(s_tot - sl, 6) * 1000000 AS BIGINT) / 1000000.0 AS sr_d,
                          CAST(round(ql, 6) * 1000000 AS BIGINT) / 1000000.0 AS ql_d,
                          CAST(round(q_tot - ql, 6) * 1000000 AS BIGINT) / 1000000.0 AS qr_d,
                          CAST(round(s_tot, 6) * 1000000 AS BIGINT) / 1000000.0 AS st_d,
                          CAST(round(q_tot, 6) * 1000000 AS BIGINT) / 1000000.0 AS qt_d,
                          n_tot
                   FROM cum2 CROSS JOIN tot2 WHERE n_tot - nl > 0),
            g3 AS (SELECT split_bin, nl AS n_left, nr AS n_right,
                          round((qt_d - st_d * st_d / CAST(n_tot AS DOUBLE))
                              - (ql_d - sl_d * sl_d / CAST(nl AS DOUBLE))
                              - (qr_d - sr_d * sr_d / CAST(nr AS DOUBLE)), 4) AS gain
                   FROM g2)
            SELECT split_bin, n_left, n_right, gain,
                   row_number() OVER (ORDER BY gain DESC, split_bin) = 1 AS is_best,
                   r1_split, round(mu_l, 6) AS r1_mu_left, round(mu_r, 6) AS r1_mu_right
            FROM g3 CROSS JOIN best1 ORDER BY split_bin""",

      // Ridge path: SAME base sufficient statistics (same dsum scales) as
      // q_ml_linreg_normal, then the identical centered-moment + 2x2 Cramer
      // double algebra, association order matched term by term.
      "q_ml_ridge_path" ->
        s"""WITH stats AS (
              SELECT CAST(count(*) AS DOUBLE) AS n,
                     ${dsum(q)} AS s_q, ${dsum(d, 4)} AS s_d,
                     ${dsum(s"$q * $q")} AS s_qq, ${dsum(s"$q * $d", 4)} AS s_qd,
                     ${dsum(s"$d * $d", 6)} AS s_dd, ${dsum(y)} AS s_y,
                     ${dsum(s"$q * $y")} AS s_qy, ${dsum(s"$d * $y", 4)} AS s_dy
              FROM lineitem),
            lam AS (SELECT CAST(unnest([0.0, 1.0, 100.0, 10000.0, 1000000.0])
                                AS DOUBLE) AS lambda),
            c AS (SELECT lambda, n, s_q, s_d, s_y,
                         s_qq - s_q * s_q / n AS cqq, s_qd - s_q * s_d / n AS cqd,
                         s_dd - s_d * s_d / n AS cdd, s_qy - s_q * s_y / n AS cqy,
                         s_dy - s_d * s_y / n AS cdy
                  FROM stats CROSS JOIN lam),
            sol AS (SELECT lambda, n, s_q, s_d, s_y, cqd, cqy, cdy,
                           (cqq + lambda) * (cdd + lambda) - cqd * cqd AS det,
                           (cdd + lambda) * cqy - cqd * cdy AS num1,
                           (cqq + lambda) * cdy - cqd * cqy AS num2
                    FROM c),
            b AS (SELECT lambda, num1 / det AS b1, num2 / det AS b2, n, s_q, s_d, s_y
                  FROM sol)
            SELECT lambda, round(s_y / n - b1 * (s_q / n) - b2 * (s_d / n), 6) AS b0,
                   round(b1, 6) AS b1, round(b2, 6) AS b2
            FROM b ORDER BY lambda""",

      // K-fold twin: the same leave-one-fold-out sufficient-stats algebra
      // (train = total - fold, all exact scale-2 decimals on doubles),
      // coefficients rounded to 6 dp BEFORE the scoring pass.
      "q_ml_kfold" ->
        s"""WITH li AS (SELECT l_orderkey % 5 AS fold, l_quantity AS x,
                               l_extendedprice AS y
                        FROM lineitem),
                f AS (SELECT fold, count(*) AS n_f,
                             ${dsum("x")} AS sx_f, ${dsum("y")} AS sy_f,
                             ${dsum("x * x")} AS sxx_f, ${dsum("x * y")} AS sxy_f
                      FROM li GROUP BY 1),
                t AS (SELECT CAST(sum(n_f) AS BIGINT) AS n_all,
                             ${dsum("sx_f")} AS sx, ${dsum("sy_f")} AS sy,
                             ${dsum("sxx_f")} AS sxx, ${dsum("sxy_f")} AS sxy
                      FROM f),
                c AS (SELECT fold, n_all - n_f AS n_train, n_f AS n_val,
                             CAST(n_all - n_f AS DOUBLE) AS nt,
                             sx - sx_f AS sxt, sy - sy_f AS syt,
                             sxx - sxx_f AS sxxt, sxy - sxy_f AS sxyt
                      FROM f, t),
                k AS (SELECT fold, n_train, n_val,
                             round((nt * sxyt - sxt * syt)
                                   / (nt * sxxt - sxt * sxt), 6) AS slope,
                             round((syt - (nt * sxyt - sxt * syt)
                                          / (nt * sxxt - sxt * sxt) * sxt) / nt, 6) AS intercept
                      FROM c),
                sc AS (SELECT li.fold, k.n_train, k.n_val, k.slope, k.intercept,
                              y - (k.intercept + k.slope * x) AS r
                       FROM li JOIN k ON li.fold = k.fold)
            SELECT fold, n_train, n_val, slope, intercept,
                   round(${dsum("r * r")} / CAST(n_val AS DOUBLE), 4) AS val_mse
            FROM sc GROUP BY 1, 2, 3, 4, 5 ORDER BY fold""",

      // ROC twin: the calibration binning, cumulative TP/FP via exact
      // integer window sums descending over the <=10 bin rows, TPR/FPR as
      // rounded ratios of exact integers.
      "q_ml_eval_roc" ->
        s"""WITH r AS (SELECT CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE) AS score,
                              CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS pos
                       FROM embeddings),
                b AS (SELECT CAST(floor((score + 1.0) * 5.0) AS BIGINT) AS bin,
                             count(*) AS n, CAST(sum(pos) AS BIGINT) AS n_pos
                      FROM r GROUP BY 1),
                c AS (SELECT bin, n, n_pos,
                             CAST(sum(n_pos) OVER w AS BIGINT) AS cum_tp,
                             CAST(sum(n) OVER w AS BIGINT) AS cum_n
                      FROM b
                      WINDOW w AS (ORDER BY bin DESC
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
                t AS (SELECT CAST(sum(n) AS BIGINT) AS n_all,
                             CAST(sum(n_pos) AS BIGINT) AS p_all FROM b)
            SELECT bin, n, n_pos, cum_tp, cum_n - cum_tp AS cum_fp,
                   round(CAST(cum_tp AS DOUBLE) / CAST(p_all AS DOUBLE), 6) AS tpr,
                   round(CAST(cum_n - cum_tp AS DOUBLE)
                         / CAST(n_all - p_all AS DOUBLE), 6) AS fpr
            FROM c, t ORDER BY bin DESC""",

      // ALS half-step twin: per-user 2x2 normal equations solved in the
      // same IEEE dag from the same rounded decimal sums; the fixed item
      // factors are exact 2-decimal integer-mod embeddings.
      "q_ml_als_step" ->
        s"""WITH r AS (
              SELECT o_custkey AS user_id,
                     CAST((l_partkey % 101) - 50 AS DOUBLE) / 100.0 AS f1,
                     CAST((l_partkey % 89) - 44 AS DOUBLE) / 100.0 AS f2,
                     l_quantity AS r
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
            g AS (
              SELECT user_id, count(*) AS n,
                     ${dsum("f1 * f1", 6)} AS s11, ${dsum("f1 * f2", 6)} AS s12,
                     ${dsum("f2 * f2", 6)} AS s22,
                     ${dsum("f1 * r", 4)} AS b1, ${dsum("f2 * r", 4)} AS b2
              FROM r GROUP BY user_id),
            sol AS (
              SELECT user_id, n, s11, s12, s22, b1, b2,
                     0.1 * CAST(n AS DOUBLE) AS lam,
                     (s11 + 0.1 * CAST(n AS DOUBLE)) * (s22 + 0.1 * CAST(n AS DOUBLE))
                       - s12 * s12 AS det
              FROM g)
            SELECT user_id, n, round(s11, 6) AS s11, round(s12, 6) AS s12,
                   round(s22, 6) AS s22,
                   round(((s22 + lam) * b1 - s12 * b2) / det, 6) AS w1,
                   round(((s11 + lam) * b2 - s12 * b1) / det, 6) AS w2
            FROM sol ORDER BY user_id""",

      // AUC: the same per-distinct-score grouping + inclusive running
      // count, folded through the identical all-integer Mann-Whitney
      // identity INCLUDING the 6-dp HALF_UP rounding (r15:
      // round(x·10⁶/d) = (2·x·10⁶ + d) // (2·d) for non-negative x — the
      // double-division epilogue left the 2^53 mantissa past ~9e7 rows);
      // the only float op is the exact final auc₆/10⁶ division.
      "q_ml_eval_auc" ->
        """WITH r AS (SELECT CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE) AS score,
                             CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS pos
                      FROM embeddings),
            g AS (SELECT score, count(*) AS n_g, CAST(sum(pos) AS BIGINT) AS p_g
                  FROM r GROUP BY 1),
            c AS (SELECT score, n_g, p_g,
                         CAST(sum(n_g) OVER (ORDER BY score
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run
                  FROM g),
            t AS (SELECT CAST(sum(CAST(p_g AS DECIMAL(38,0))
                                  * CAST(2 * (run - n_g) + n_g + 1 AS DECIMAL(38,0))) AS HUGEINT) AS numer2,
                         CAST(sum(p_g) AS HUGEINT) AS np,
                         CAST(sum(n_g - p_g) AS HUGEINT) AS nn
                  FROM c)
            SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
                   CASE WHEN np = 0 OR nn = 0 THEN NULL
                        ELSE CAST((2 * (numer2 - np * (np + 1)) * 1000000 + 2 * np * nn)
                             // (4 * np * nn) AS BIGINT) / 1000000.0 END AS auc
            FROM t""",

      // Ranked-retrieval eval: the q_knn_bruteforce distance CTE widened to
      // 20 queries, metrics folded per query. Gains round to 6 dp before
      // the exact decimal sum (the dsum pattern inlined — per-QUERY sums,
      // not a global aggregate); nDCG's ideal prefix uses the same rounded
      // gain table via a list fold, so dcg/idcg divides exact decimals.
      "q_ml_eval_ranking" ->
        """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe, label AS qlabel
                      FROM embeddings WHERE vec_id BETWEEN 0 AND 19),
                c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
                d AS (SELECT qid, qlabel, vec_id AS nn_id, label,
                        sqrt(greatest(list_dot_product(e, e) + list_dot_product(qe, qe)
                                      - 2.0 * list_dot_product(e, qe), 0.0)) AS d
                      FROM c, q WHERE vec_id <> qid),
                r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d, nn_id) AS rn
                      FROM d),
                t AS (SELECT qid, qlabel, rn,
                             CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel
                      FROM r WHERE rn <= 10),
                lc AS (SELECT label, count(*) AS n_label FROM embeddings GROUP BY 1),
                pq AS (SELECT qid, qlabel,
                              CAST(sum(rel) AS BIGINT) AS hits,
                              CAST(round(sum(CAST(CASE WHEN rel = 1
                                  THEN round(1.0 / log2(rn + 1.0), 6) ELSE 0.0 END
                                  AS DECIMAL(38,10))), 6) * 1000000 AS BIGINT) / 1000000.0 AS dcg,
                              min(CASE WHEN rel = 1 THEN rn END) AS first_rel
                       FROM t GROUP BY 1, 2),
                n AS (SELECT pq.*, CAST(lc.n_label - 1 AS BIGINT) AS n_rel
                      FROM pq JOIN lc ON pq.qlabel = lc.label),
                f AS (SELECT qid, n_rel, hits, first_rel, dcg,
                             CAST(round(list_aggregate(list_transform(
                                 generate_series(1, least(10, n_rel)),
                                 i -> CAST(round(1.0 / log2(i + 1.0), 6) AS DECIMAL(38,10))),
                               'sum'), 6) * 1000000 AS BIGINT) / 1000000.0 AS idcg
                      FROM n)
           SELECT qid, n_rel, hits,
                  round(CAST(hits AS DOUBLE) / n_rel, 6) AS recall_at_10,
                  CASE WHEN first_rel IS NULL THEN 0.0
                       ELSE round(1.0 / first_rel, 6) END AS mrr_at_10,
                  round(dcg / idcg, 6) AS ndcg_at_10
           FROM f ORDER BY qid""",

      // Correlation matrix: same sufficient statistics (same dsum scales),
      // identical per-pair Pearson algebra — deliberately NOT the engines'
      // own corr() (their streaming float paths differ).
      "q_agg_corr" ->
        s"""WITH st AS (
              SELECT CAST(count(*) AS DOUBLE) AS n,
                     ${dsum(q)} AS s_q, ${dsum(d, 4)} AS s_d, ${dsum(y)} AS s_y,
                     ${dsum(s"$q * $q")} AS s_qq, ${dsum(s"$d * $d", 6)} AS s_dd,
                     ${dsum(s"$y * $y")} AS s_yy,
                     ${dsum(s"$q * $d", 4)} AS s_qd, ${dsum(s"$q * $y")} AS s_qy,
                     ${dsum(s"$d * $y", 4)} AS s_dy
              FROM lineitem),
            rr AS (SELECT
                     round((s_qd - s_q * s_d / n) / sqrt((s_qq - s_q * s_q / n) * (s_dd - s_d * s_d / n)), 6) AS rqd,
                     round((s_qy - s_q * s_y / n) / sqrt((s_qq - s_q * s_q / n) * (s_yy - s_y * s_y / n)), 6) AS rqy,
                     round((s_dy - s_d * s_y / n) / sqrt((s_dd - s_d * s_d / n) * (s_yy - s_y * s_y / n)), 6) AS rdy
                   FROM st)
            SELECT 'l_quantity' AS var_x, 'l_discount' AS var_y, rqd AS r FROM rr
            UNION ALL SELECT 'l_quantity', 'l_extendedprice', rqy FROM rr
            UNION ALL SELECT 'l_discount', 'l_extendedprice', rdy FROM rr
            ORDER BY var_x, var_y""",

      // Regression eval: same decimal-exact sufficient statistics, same
      // epilogue algebra (IEEE sqrt is correctly rounded — identical in
      // both engines).
      "q_ml_eval_regression" ->
        s"""WITH t AS (SELECT $y AS y, $y - $q * 1000.0 AS e FROM lineitem),
            st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                          ${dsum("abs(e)", 4)} AS sae, ${dsum("e * e")} AS sse,
                          ${dsum("y")} AS sy, ${dsum("y * y")} AS syy
                   FROM t)
            SELECT CAST(n AS BIGINT) AS n_rows,
                   round(sae / n, 6) AS mae,
                   round(sqrt(sse / n), 6) AS rmse,
                   round(1.0 - sse / (syy - sy * sy / n), 6) AS r2
            FROM st""",

      // Calibration bins: identical IEEE bin product, exact-decimal mean
      // score, integer positive rates.
      "q_ml_eval_calibration" ->
        s"""WITH r AS (SELECT CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE) AS score,
                              CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS pos
                       FROM embeddings)
            SELECT CAST(floor((score + 1.0) * 5.0) AS BIGINT) AS bin, count(*) AS n,
                   ${davg("score")} AS avg_score, CAST(sum(pos) AS BIGINT) AS n_pos,
                   round(CAST(sum(pos) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS pos_rate
            FROM r GROUP BY 1 ORDER BY 1""",

      // Eval metrics: argmax spelled as the same ordered >= chain
      // (first-max tie-break), counts folded over the 16-row confusion
      // matrix, ratios from exact BIGINTs.
      "q_ml_eval_confusion" ->
        """WITH p AS (
             SELECT CAST(label % 4 AS INT) AS truth,
                    CASE WHEN e0 >= e1 AND e0 >= e2 AND e0 >= e3 THEN 0
                         WHEN e1 >= e2 AND e1 >= e3 THEN 1
                         WHEN e2 >= e3 THEN 2 ELSE 3 END AS pred
             FROM (SELECT label,
                          CAST(embedding[1] AS DOUBLE) AS e0, CAST(embedding[2] AS DOUBLE) AS e1,
                          CAST(embedding[3] AS DOUBLE) AS e2, CAST(embedding[4] AS DOUBLE) AS e3
                   FROM embeddings)),
           m AS (SELECT truth, pred, count(*) AS n FROM p GROUP BY 1, 2),
           cls AS (SELECT unnest([0, 1, 2, 3]) AS class),
           agg AS (SELECT class,
                          CAST(sum(CASE WHEN truth = class AND pred = class THEN n ELSE 0 END) AS BIGINT) AS tp,
                          CAST(sum(CASE WHEN truth <> class AND pred = class THEN n ELSE 0 END) AS BIGINT) AS fp,
                          CAST(sum(CASE WHEN truth = class AND pred <> class THEN n ELSE 0 END) AS BIGINT) AS fn
                   FROM m CROSS JOIN cls GROUP BY 1)
           SELECT class, tp, fp, fn, tp + fn AS support,
                  CASE WHEN tp + fp = 0 THEN NULL
                       ELSE round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) END AS precision,
                  CASE WHEN tp + fn = 0 THEN NULL
                       ELSE round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) END AS recall,
                  CASE WHEN tp * 2 + fp + fn = 0 THEN NULL
                       ELSE round(CAST(tp * 2 AS DOUBLE) / CAST(tp * 2 + fp + fn AS DOUBLE), 6) END AS f1
           FROM agg ORDER BY class""",

      "q_ml_nb_train" ->
        s"""SELECT label, count(*) AS n,
                   ${davg("CAST(embedding[1] AS DOUBLE)")} AS m0,
                   ${davg("CAST(embedding[2] AS DOUBLE)")} AS m1,
                   ${davg("CAST(embedding[3] AS DOUBLE)")} AS m2,
                   ${davg("CAST(embedding[4] AS DOUBLE)")} AS m3,
                   round(var_samp(CAST(embedding[1] AS DOUBLE)), 6) AS v0,
                   round(var_samp(CAST(embedding[2] AS DOUBLE)), 6) AS v1,
                   round(var_samp(CAST(embedding[3] AS DOUBLE)), 6) AS v2,
                   round(var_samp(CAST(embedding[4] AS DOUBLE)), 6) AS v3
            FROM embeddings GROUP BY label ORDER BY label""",

      "q_ml_kmeans_step" -> {
        val cs = graft.queries.MlSuffStats.kmeansCentroids
        val ds = cs.zipWithIndex.map { case ((cx, cy), i) =>
          s"(e0 - ($cx)) * (e0 - ($cx)) + (e1 - ($cy)) * (e1 - ($cy)) AS d$i"
        }.mkString(", ")
        s"""WITH pts AS (SELECT CAST(embedding[1] AS DOUBLE) AS e0,
                                CAST(embedding[2] AS DOUBLE) AS e1 FROM embeddings),
                 d AS (SELECT e0, e1, $ds FROM pts),
                 a AS (SELECT e0, e1,
                         CAST(CASE WHEN d0 <= d1 AND d0 <= d2 AND d0 <= d3 THEN 0
                                   WHEN d1 <= d2 AND d1 <= d3 THEN 1
                                   WHEN d2 <= d3 THEN 2 ELSE 3 END AS BIGINT) AS cluster
                       FROM d)
            SELECT cluster, count(*) AS n,
                   ${davg("e0")} AS new_cx, ${davg("e1")} AS new_cy
            FROM a GROUP BY cluster ORDER BY cluster"""
      },

      "q_ml_gda_stats" ->
        s"""SELECT label, count(*) AS n,
                   ${davg("CAST(embedding[1] AS DOUBLE)")} AS m0,
                   ${davg("CAST(embedding[2] AS DOUBLE)")} AS m1,
                   round(var_pop(CAST(embedding[1] AS DOUBLE)), 6) AS s00,
                   round(covar_pop(CAST(embedding[1] AS DOUBLE), CAST(embedding[2] AS DOUBLE)), 6) AS s01,
                   round(var_pop(CAST(embedding[2] AS DOUBLE)), 6) AS s11
            FROM embeddings GROUP BY label ORDER BY label""",

      // Same left-associated arithmetic as the Spark side; dsum's
      // per-row DECIMAL(38,10) cast absorbs libm ulp differences.
      "q_ml_logreg_step" ->
        s"""WITH t AS (
              SELECT CAST(label % 2 AS DOUBLE) AS y,
                     CAST(embedding[1] AS DOUBLE) AS x0,
                     CAST(embedding[2] AS DOUBLE) AS x1,
                     CAST(embedding[3] AS DOUBLE) AS x2,
                     CAST(embedding[4] AS DOUBLE) AS x3
              FROM embeddings),
                 p AS (
              SELECT y, x0, x1, x2, x3,
                     1.0 / (1.0 + exp(-(x0 * 0.1 + x1 * (-0.2) + x2 * 0.05 + x3 * 0.15))) AS p
              FROM t)
            SELECT count(*) AS n,
                   ${dsum("(p - y) * x0", 6)} AS g0,
                   ${dsum("(p - y) * x1", 6)} AS g1,
                   ${dsum("(p - y) * x2", 6)} AS g2,
                   ${dsum("(p - y) * x3", 6)} AS g3,
                   ${dsum("-(y * ln(p) + (1.0 - y) * ln(1.0 - p))", 6)} AS loss
            FROM p""",

      // Hinge-subgradient twin: the margin is the SAME fixed-order double
      // expression in both engines (so the < 1 violator branch can never
      // disagree), and every sum runs the dsum decimal path. Weights come
      // from the shared MlSuffStats.svmW0 literal.
      "q_ml_svm_step" -> {
        val w = graft.queries.MlSuffStats.svmW0
        val z = (0 until 4).map(i => s"x$i * (${w(i)})").mkString(" + ")
        s"""WITH t AS (
              SELECT CASE WHEN label % 2 = 1 THEN CAST(1.0 AS DOUBLE)
                          ELSE CAST(-1.0 AS DOUBLE) END AS y,
                     CAST(embedding[1] AS DOUBLE) AS x0,
                     CAST(embedding[2] AS DOUBLE) AS x1,
                     CAST(embedding[3] AS DOUBLE) AS x2,
                     CAST(embedding[4] AS DOUBLE) AS x3
              FROM embeddings),
                 m AS (SELECT y, x0, x1, x2, x3, y * ($z) AS margin FROM t)
            SELECT count(*) AS n,
                   CAST(sum(CASE WHEN margin < 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_viol,
                   ${dsum("CASE WHEN margin < 1.0 THEN -y * x0 ELSE CAST(0.0 AS DOUBLE) END", 6)} AS g0,
                   ${dsum("CASE WHEN margin < 1.0 THEN -y * x1 ELSE CAST(0.0 AS DOUBLE) END", 6)} AS g1,
                   ${dsum("CASE WHEN margin < 1.0 THEN -y * x2 ELSE CAST(0.0 AS DOUBLE) END", 6)} AS g2,
                   ${dsum("CASE WHEN margin < 1.0 THEN -y * x3 ELSE CAST(0.0 AS DOUBLE) END", 6)} AS g3,
                   ${dsum("greatest(CAST(0.0 AS DOUBLE), 1.0 - margin)", 6)} AS hinge_loss
            FROM m"""
      },

      // Target-encoding twin: the q_ml_kfold leave-fold-out subtraction in
      // EXACT integer cents (per-row round(×100)→BIGINT — the portable
      // path; o_totalprice carries sub-cent precision, so a scale-2
      // decimal sum can straddle half-cent quantizer differences), then
      // one fixed-order double epilogue with m = 20.
      "q_ml_target_encode" ->
        """WITH o AS (SELECT o_orderpriority AS cat, o_orderkey % 5 AS fold,
                             CAST(round(o_totalprice * 100) AS BIGINT) AS yc
                      FROM orders),
               cf AS (SELECT cat, fold, count(*) AS n_cf,
                             sum(CAST(yc AS HUGEINT)) AS s_cf
                      FROM o GROUP BY 1, 2),
               c AS (SELECT cat, CAST(sum(n_cf) AS BIGINT) AS n_c,
                            sum(s_cf) AS s_c
                     FROM cf GROUP BY 1),
               g0 AS (SELECT fold, CAST(sum(n_cf) AS BIGINT) AS n_f,
                             sum(s_cf) AS s_f
                      FROM cf GROUP BY 1),
               ga AS (SELECT CAST(sum(n_cf) AS BIGINT) AS n_all,
                             sum(s_cf) AS s_all
                      FROM cf),
               g AS (SELECT fold, n_all - n_f AS n_oof, s_all - s_f AS s_oof
                     FROM g0, ga)
           SELECT cat, fold, n_c - n_cf AS n_train_cat,
                  round(CASE WHEN n_c - n_cf > 0
                             THEN CAST(s_c - s_cf AS DOUBLE) / CAST(n_c - n_cf AS DOUBLE) END, 6) AS oof_mean_cents,
                  round((CAST(s_c - s_cf AS DOUBLE)
                         + 20.0 * (CAST(s_oof AS DOUBLE) / CAST(n_oof AS DOUBLE)))
                        / (CAST(n_c - n_cf AS DOUBLE) + 20.0), 6) AS encoding_cents
           FROM cf JOIN c USING (cat) JOIN g USING (fold)
           ORDER BY cat, fold""",

      // WOE/IV twin: integer class counts, the same 0.5-smoothed share
      // ratios, and the total IV as an exact decimal window sum over the
      // ROUNDED contributions.
      "q_ml_woe_iv" ->
        """WITH d AS (SELECT source, lang = 'en' AS pos FROM documents),
               c AS (SELECT source,
                            CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
                            CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
                     FROM d GROUP BY 1),
               t AS (SELECT CAST(sum(n_pos) AS BIGINT) AS t_pos,
                            CAST(sum(n_neg) AS BIGINT) AS t_neg FROM c),
               w AS (SELECT source, n_pos, n_neg,
                            (CAST(n_pos AS DOUBLE) + 0.5) / CAST(t_pos AS DOUBLE) AS sp,
                            (CAST(n_neg AS DOUBLE) + 0.5) / CAST(t_neg AS DOUBLE) AS sn
                     FROM c, t),
               x AS (SELECT source, n_pos, n_neg, round(ln(sp / sn), 6) AS woe,
                            round((sp - sn) * ln(sp / sn), 6) AS iv_contrib FROM w)
           SELECT source, n_pos, n_neg, woe, iv_contrib,
                  CAST(round(sum(CAST(iv_contrib AS DECIMAL(38,10))) OVER (), 6) * 1000000 AS BIGINT) / 1000000.0 AS iv_total
           FROM x ORDER BY source""",

      // Chi2-selection twin: the q_ml_feature_hash md5 bucket recipe,
      // per-doc distinct presence, integer 2×2 cells, the same fixed-order
      // double formula, top-20 under (chi2 DESC, bucket).
      "q_ml_chi2_select" ->
        """WITH tok AS (SELECT doc_id, lang = 'en' AS pos,
                               unnest(string_split(text, ' ')) AS tok
                        FROM documents),
               pres AS (SELECT DISTINCT doc_id, pos,
                               CAST(concat('0x', substring(md5(tok), 1, 4)) AS BIGINT) % 64 AS bucket
                        FROM tok),
               t AS (SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
                            CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
                     FROM documents),
               bb AS (SELECT bucket,
                             CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS a,
                             CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS b
                      FROM pres GROUP BY 1),
               s AS (SELECT bucket, a, b,
                            CAST(a AS DOUBLE) AS ad, CAST(b AS DOUBLE) AS bd,
                            CAST(n_pos - a AS DOUBLE) AS cd, CAST(n_neg - b AS DOUBLE) AS dd,
                            CAST(n_pos + n_neg AS DOUBLE) AS n
                     FROM bb, t)
           SELECT bucket, a AS n_pos_present, b AS n_neg_present,
                  round(n * (ad * dd - bd * cd) * (ad * dd - bd * cd)
                        / ((ad + bd) * (cd + dd) * (ad + cd) * (bd + dd)), 6) AS chi2
           FROM s ORDER BY chi2 DESC, bucket LIMIT 20""",

      // Maximin-seeding twin: the unrolled per-seed argmax CTE chain —
      // identical fixed-order distance doubles, exact least(), vec_id
      // tiebreaks.
      "q_ml_kmeanspp" ->
        """WITH pts AS (SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS e0,
                               CAST(embedding[2] AS DOUBLE) AS e1 FROM embeddings),
               s1 AS (SELECT vec_id, e0, e1 FROM pts ORDER BY vec_id LIMIT 1),
               s2 AS (SELECT p.vec_id, p.e0, p.e1,
                             ((p.e0 - s1.e0) * (p.e0 - s1.e0) + (p.e1 - s1.e1) * (p.e1 - s1.e1)) AS d2
                      FROM pts p, s1 ORDER BY d2 DESC, p.vec_id LIMIT 1),
               s3 AS (SELECT p.vec_id, p.e0, p.e1,
                             least(((p.e0 - s1.e0) * (p.e0 - s1.e0) + (p.e1 - s1.e1) * (p.e1 - s1.e1)),
                                   ((p.e0 - s2.e0) * (p.e0 - s2.e0) + (p.e1 - s2.e1) * (p.e1 - s2.e1))) AS d2
                      FROM pts p, s1, s2 ORDER BY d2 DESC, p.vec_id LIMIT 1),
               s4 AS (SELECT p.vec_id, p.e0, p.e1,
                             least(((p.e0 - s1.e0) * (p.e0 - s1.e0) + (p.e1 - s1.e1) * (p.e1 - s1.e1)),
                                   ((p.e0 - s2.e0) * (p.e0 - s2.e0) + (p.e1 - s2.e1) * (p.e1 - s2.e1)),
                                   ((p.e0 - s3.e0) * (p.e0 - s3.e0) + (p.e1 - s3.e1) * (p.e1 - s3.e1))) AS d2
                      FROM pts p, s1, s2, s3 ORDER BY d2 DESC, p.vec_id LIMIT 1)
           SELECT CAST(1 AS BIGINT) AS seed_round, vec_id,
                  round(e0, 6) AS e0, round(e1, 6) AS e1, CAST(0.0 AS DOUBLE) AS d2 FROM s1
           UNION ALL SELECT 2, vec_id, round(e0, 6), round(e1, 6), round(d2, 6) FROM s2
           UNION ALL SELECT 3, vec_id, round(e0, 6), round(e1, 6), round(d2, 6) FROM s3
           UNION ALL SELECT 4, vec_id, round(e0, 6), round(e1, 6), round(d2, 6) FROM s4
           ORDER BY seed_round""",

      // AdaBoost-round twin: the 24-stump candidate grid regenerated from
      // the SAME MlSuffStats.adaThresholds literals; errors are exact
      // integer counts, so the argmin and α reproduce bit-for-bit.
      "q_ml_adaboost_round" -> {
        val thrs = graft.queries.MlSuffStats.adaThresholds
          .map(t => s"($t)").mkString(", ")
        s"""WITH cand AS (
              SELECT f, CAST(thr AS DOUBLE) AS thr, pol
              FROM (VALUES (0), (1), (2), (3)) feats(f)
              CROSS JOIN (VALUES $thrs) thrs(thr)
              CROSS JOIN (VALUES (1), (-1)) pols(pol)),
                 t AS (
              SELECT CASE WHEN label % 2 = 1 THEN 1 ELSE -1 END AS y,
                     CAST(embedding[1] AS DOUBLE) AS x0,
                     CAST(embedding[2] AS DOUBLE) AS x1,
                     CAST(embedding[3] AS DOUBLE) AS x2,
                     CAST(embedding[4] AS DOUBLE) AS x3
              FROM embeddings),
                 s AS (
              SELECT f, thr, pol, count(*) AS n,
                     CAST(sum(CASE WHEN (CASE WHEN (CASE f WHEN 0 THEN x0 WHEN 1 THEN x1
                                                        WHEN 2 THEN x2 ELSE x3 END) >= thr
                                         THEN pol ELSE -pol END) <> y
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_err
              FROM t CROSS JOIN cand GROUP BY 1, 2, 3),
                 r AS (
              SELECT f, thr, pol, n_err,
                     round(CAST(n_err AS DOUBLE) / CAST(n AS DOUBLE), 6) AS eps,
                     round(CASE WHEN n_err > 0 AND n_err < n
                                THEN 0.5 * ln(CAST(n - n_err AS DOUBLE) / CAST(n_err AS DOUBLE))
                           END, 6) AS alpha,
                     CAST(row_number() OVER (ORDER BY n_err, f, thr, pol) = 1 AS BIGINT) AS is_best
              FROM s)
            SELECT CAST(f AS BIGINT) AS f, thr, CAST(pol AS BIGINT) AS pol,
                   n_err, eps, alpha, is_best
            FROM r ORDER BY f, thr, pol"""
      },

      // Unrolled twin of the Spark-side driver loop, generated from the SAME
      // iteration count / lr / starting weights (MlSuffStats.logreg*).
      // Every gradient goes through the dsum decimal path (6 dp) and every
      // weight update is all-DOUBLE IEEE arithmetic in both engines, so the
      // weight sequence is reproduced bit-for-bit.
      "q_ml_logreg_converged" -> {
        import graft.queries.MlSuffStats.{logregIters, logregLr, logregW0}
        val sigma = "1.0 / (1.0 + exp(-(x0 * w0 + x1 * w1 + x2 * w2 + x3 * w3)))"
        val w0Cte = "w_0 AS (SELECT " + logregW0.zipWithIndex
          .map { case (v, i) => s"CAST($v AS DOUBLE) AS w$i" }.mkString(", ") + ")"
        val steps = (1 to logregIters).map { k =>
          s"""p_$k AS (SELECT t.*, $sigma AS p FROM t CROSS JOIN w_${k - 1}),
              g_$k AS (SELECT count(*) AS n, ${(0 until 4)
                .map(i => s"${dsum(s"(p - y) * x$i", 6)} AS g$i").mkString(", ")}
                       FROM p_$k),
              w_$k AS (SELECT ${(0 until 4)
                .map(i => s"w$i - $logregLr * (g$i / n) AS w$i").mkString(", ")}
                       FROM w_${k - 1} CROSS JOIN g_$k)"""
        }.mkString(",\n              ")
        s"""WITH t AS (
              SELECT CAST(label % 2 AS DOUBLE) AS y,
                     CAST(embedding[1] AS DOUBLE) AS x0,
                     CAST(embedding[2] AS DOUBLE) AS x1,
                     CAST(embedding[3] AS DOUBLE) AS x2,
                     CAST(embedding[4] AS DOUBLE) AS x3
              FROM embeddings),
              $w0Cte,
              $steps,
              p_fin AS (SELECT t.*, $sigma AS p FROM t CROSS JOIN w_$logregIters),
              fin AS (
                SELECT count(*) AS n, ${(0 until 4)
                  .map(i => s"${dsum(s"(p - y) * x$i", 6)} AS g$i").mkString(", ")},
                       ${dsum("-(y * ln(p) + (1.0 - y) * ln(1.0 - p))", 6)} AS loss
                FROM p_fin)
            SELECT n, w0, w1, w2, w3, g0, g1, g2, g3, loss
            FROM fin CROSS JOIN w_$logregIters"""
      },

      // Unrolled twin of the Spark-side Lloyd driver loop
      // (q_ml_logreg_converged pattern), generated from the SAME iteration
      // count / starting centroids. Assignment ties break through the same
      // `<=` cascade; coordinate sums go through the dsum decimal path, so
      // the centroid sequence reproduces bit-for-bit; an empty cluster
      // keeps its previous centroid (coalesce) exactly as the driver does.
      "q_ml_kmeans_converged" -> {
        import graft.queries.MlSuffStats.{kmeansCentroids, kmeansConvIters}
        def dists(prefix: String) = (0 until 4).map(i =>
          s"(e0 - ${prefix}c${i}x) * (e0 - ${prefix}c${i}x) + " +
            s"(e1 - ${prefix}c${i}y) * (e1 - ${prefix}c${i}y) AS d$i").mkString(", ")
        val assign =
          """CAST(CASE WHEN d0 <= d1 AND d0 <= d2 AND d0 <= d3 THEN 0
                       WHEN d1 <= d2 AND d1 <= d3 THEN 1
                       WHEN d2 <= d3 THEN 2 ELSE 3 END AS BIGINT)"""
        val w0Cte = "w_0 AS (SELECT " + kmeansCentroids.zipWithIndex.map {
          case ((cx, cy), i) =>
            s"CAST($cx AS DOUBLE) AS c${i}x, CAST($cy AS DOUBLE) AS c${i}y"
        }.mkString(", ") + ")"
        val steps = (1 to kmeansConvIters).map { k =>
          val update = (0 until 4).flatMap { i =>
            Seq(
              s"coalesce(max(CASE WHEN cluster = $i THEN s0 / n END), max(c${i}x)) AS c${i}x",
              s"coalesce(max(CASE WHEN cluster = $i THEN s1 / n END), max(c${i}y)) AS c${i}y")
          }.mkString(", ")
          s"""d_$k AS (SELECT e0, e1, ${dists("")} FROM t CROSS JOIN w_${k - 1}),
              a_$k AS (SELECT e0, e1, $assign AS cluster FROM d_$k),
              g_$k AS (SELECT cluster, count(*) AS n,
                              ${dsum("e0", 6)} AS s0, ${dsum("e1", 6)} AS s1
                       FROM a_$k GROUP BY cluster),
              w_$k AS (SELECT $update FROM g_$k CROSS JOIN w_${k - 1})"""
        }.mkString(",\n              ")
        s"""WITH t AS (SELECT CAST(embedding[1] AS DOUBLE) AS e0,
                              CAST(embedding[2] AS DOUBLE) AS e1 FROM embeddings),
              $w0Cte,
              $steps,
              d_fin AS (SELECT e0, e1, ${dists("")} FROM t CROSS JOIN w_$kmeansConvIters),
              a_fin AS (SELECT $assign AS cluster,
                               least(d0, d1, d2, d3) AS d2 FROM d_fin),
              fin AS (SELECT cluster, count(*) AS n, ${dsum("d2", 6)} AS wssq
                      FROM a_fin GROUP BY cluster)
            SELECT f.cluster, f.n,
                   CASE f.cluster WHEN 0 THEN c0x WHEN 1 THEN c1x
                                  WHEN 2 THEN c2x ELSE c3x END AS cx,
                   CASE f.cluster WHEN 0 THEN c0y WHEN 1 THEN c1y
                                  WHEN 2 THEN c2y ELSE c3y END AS cy,
                   f.wssq
            FROM fin f CROSS JOIN w_$kmeansConvIters ORDER BY f.cluster"""
      },

      // Unrolled twin of the Spark-side EM driver loop (q_ml_logreg_converged
      // pattern), generated from the SAME iteration count / initial params.
      // All M-step arithmetic is all-DOUBLE IEEE in both engines; Gaussian
      // exp/ln ulps are absorbed by the dsum decimal path per iteration.
      "q_ml_gmm_converged" -> {
        import graft.queries.MlSuffStats.{gmmIters, gmmInit}
        val g0 = "(exp((x - mu0) * (x - mu0) * (-0.5 / v0)) * (1.0 / sqrt(2 * pi() * v0)))"
        val g1 = "(exp((x - mu1) * (x - mu1) * (-0.5 / v1)) * (1.0 / sqrt(2 * pi() * v1)))"
        val p0e = s"($g0 * (1.0 - w1))"
        val p1e = s"($g1 * w1)"
        val r1e = s"($p1e / ($p0e + $p1e))"
        val w0Cte = {
          val (w1v, m0, m1, v0v, v1v) = gmmInit
          s"w_0 AS (SELECT CAST($w1v AS DOUBLE) AS w1, CAST($m0 AS DOUBLE) AS mu0, " +
            s"CAST($m1 AS DOUBLE) AS mu1, CAST($v0v AS DOUBLE) AS v0, CAST($v1v AS DOUBLE) AS v1)"
        }
        val nD = "CAST(n AS DOUBLE)"
        val steps = (1 to gmmIters).map { k =>
          s"""e_$k AS (SELECT x, $r1e AS r1 FROM t CROSS JOIN w_${k - 1}),
              a_$k AS (SELECT count(*) AS n, ${dsum("r1", 6)} AS n1,
                              ${dsum("(1.0 - r1) * x", 6)} AS s0, ${dsum("r1 * x", 6)} AS s1,
                              ${dsum("(1.0 - r1) * x * x", 6)} AS q0, ${dsum("r1 * x * x", 6)} AS q1
                       FROM e_$k),
              w_$k AS (SELECT n1 / $nD AS w1,
                              s0 / ($nD - n1) AS mu0, s1 / n1 AS mu1,
                              greatest(q0 / ($nD - n1) - (s0 / ($nD - n1)) * (s0 / ($nD - n1)), 1e-9) AS v0,
                              greatest(q1 / n1 - (s1 / n1) * (s1 / n1), 1e-9) AS v1
                       FROM a_$k)"""
        }.mkString(",\n              ")
        s"""WITH t AS (SELECT CAST(embedding[1] AS DOUBLE) AS x FROM embeddings),
              $w0Cte,
              $steps,
              fin AS (SELECT count(*) AS n, ${dsum(s"ln($p0e + $p1e)", 6)} AS loglik
                      FROM t CROSS JOIN w_$gmmIters)
            SELECT n, w1, mu0, mu1, v0, v1, loglik
            FROM fin CROSS JOIN w_$gmmIters"""
      })
  }

  val llm: Map[String, String] = Map(
    // Duplicated-span coverage: DuckDB generates the same 8-token grams
    // (1-indexed list slice == Spark's slice(toks, i+1, 8)), keeps grams in
    // >=2 distinct docs, and counts the distinct covered positions per doc.
    // Covered-position COUNT is index-base invariant, and pos itself is not
    // an output column.
    "q_text_dup_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          g AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 7)) AS pos, toks
                FROM t WHERE len(toks) >= 8),
          g2 AS (SELECT doc_id, pos, array_to_string(toks[pos:pos+7], ' ') AS gram FROM g),
          dup AS (SELECT gram FROM g2 GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
          hit AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN dup USING (gram)),
          cov AS (SELECT DISTINCT doc_id, p FROM
                    (SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS p FROM hit)),
          cnt AS (SELECT doc_id, count(*) AS n_dup_tokens FROM cov GROUP BY 1)
          SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
                 CAST(coalesce(cnt.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
                 round(CAST(coalesce(cnt.n_dup_tokens, 0) AS DOUBLE)
                       / CAST(len(t.toks) AS DOUBLE), 6) AS dup_ratio
          FROM t LEFT JOIN cnt ON t.doc_id = cnt.doc_id
          ORDER BY t.doc_id""",

    // Duplicate-span EXCISION: same 1-indexed gram construction; the
    // keep-first rule is row_number() over (doc_id, pos) per gram == the
    // Spark side's min(struct(doc_id, pos)); the rebuild concatenates the
    // surviving token positions in order. Index base cancels (each engine
    // is internally consistent); retained text is hash-compared via md5.
    "q_text_dup_excise" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          g AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 7)) AS pos, toks
                FROM t WHERE len(toks) >= 8),
          g2 AS (SELECT doc_id, pos, array_to_string(toks[pos:pos+7], ' ') AS gram FROM g),
          dup AS (SELECT gram FROM g2 GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
          occ AS (SELECT g2.doc_id, g2.pos,
                         row_number() OVER (PARTITION BY g2.gram
                                            ORDER BY g2.doc_id, g2.pos) AS rn
                  FROM g2 JOIN dup USING (gram)),
          rmp AS (SELECT DISTINCT doc_id, p FROM
                    (SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS p
                     FROM occ WHERE rn > 1)),
          tok AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS p, toks FROM t),
          keep AS (SELECT tok.doc_id, tok.p, tok.toks[tok.p] AS tok
                   FROM tok LEFT JOIN rmp ON tok.doc_id = rmp.doc_id AND tok.p = rmp.p
                   WHERE rmp.p IS NULL),
          agg AS (SELECT doc_id, count(*) AS n_ret,
                         string_agg(tok, ' ' ORDER BY p) AS rt
                  FROM keep GROUP BY doc_id),
          rmc AS (SELECT doc_id, count(*) AS n_rm FROM rmp GROUP BY doc_id)
          SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
                 CAST(coalesce(rmc.n_rm, 0) AS BIGINT) AS n_removed,
                 CAST(coalesce(agg.n_ret, 0) AS BIGINT) AS n_retained,
                 md5(coalesce(agg.rt, '')) AS retained_md5
          FROM t LEFT JOIN rmc ON t.doc_id = rmc.doc_id
                 LEFT JOIN agg ON t.doc_id = agg.doc_id
          ORDER BY t.doc_id""",

    "q_join_asof" ->
      """SELECT event_id, user_id, ts, o.o_orderkey, o.o_orderdate
         FROM events e ASOF JOIN
           (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
            FROM orders GROUP BY 1, 2) o
           ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
         ORDER BY event_id""",

    "q_knn_bruteforce" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
                    FROM embeddings WHERE vec_id BETWEEN 0 AND 4),
              c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
              d AS (SELECT qid, vec_id AS nn_id, label,
                      sqrt(greatest(list_dot_product(e, e) + list_dot_product(qe, qe)
                                    - 2.0 * list_dot_product(e, qe), 0.0)) AS d
                    FROM c, q WHERE vec_id <> qid),
              r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d, nn_id) AS rn
                    FROM d),
              t AS (SELECT *, count(*) OVER (PARTITION BY qid, label) AS cnt
                    FROM r WHERE rn <= 5)
         SELECT qid, rn, nn_id, round(d, 6) AS dist, label,
                first_value(label) OVER
                  (PARTITION BY qid ORDER BY cnt DESC, label
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS vote_label
         FROM t ORDER BY qid, rn""",

    // Containment twin: the q_dedup_minhash bigram CTE with the
    // asymmetric |A∩B|/|A| ratio, top-50 under the (containment DESC,
    // src, dst) total order.
    "q_dedup_containment" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
                    WHERE len(string_split(lower(text), ' ')) >= 2),
              s AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] AS sh
                    FROM w, UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
              n AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
              p AS (SELECT a.doc_id AS src_doc, b.doc_id AS dst_doc, count(*) AS inter
                    FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id <> b.doc_id
                    GROUP BY 1, 2)
         SELECT src_doc, dst_doc, inter, n.n AS n_src,
                round(CAST(inter AS DOUBLE) / CAST(n.n AS DOUBLE), 6) AS containment
         FROM p JOIN n ON src_doc = n.doc_id
         ORDER BY containment DESC, src_doc, dst_doc LIMIT 50""",

    "q_dedup_exact" ->
      """SELECT md5(text) AS text_hash, count(*) AS n_dups, min(doc_id) AS exemplar
         FROM documents GROUP BY 1 ORDER BY text_hash""",

    "q_dedup_minhash" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
                    WHERE len(string_split(lower(text), ' ')) >= 2),
              s AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] AS sh
                    FROM w, UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
              n AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
              p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                    FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
         SELECT doc_a, doc_b,
                round(1.0 - CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE), 6) AS jaccard_dist
         FROM p JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id
         WHERE 1.0 - CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) <= 0.5
         ORDER BY doc_a, doc_b""",

    // Exact batch×corpus bigram-Jaccard pairs (batch = doc_id % 10 == 3,
    // corpus = the rest): the Spark side's index probe + signature
    // prefilter + exact refine emits the same exact pair set without
    // re-running the corpus pipeline.
    "q_dedup_incremental" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
                    WHERE len(string_split(lower(text), ' ')) >= 2),
              s AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] AS sh
                    FROM w, UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
              n AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
              p AS (SELECT a.doc_id AS corpus_doc, b.doc_id AS batch_doc, count(*) AS inter
                    FROM s a JOIN s b ON a.sh = b.sh
                    WHERE a.doc_id % 10 <> 3 AND b.doc_id % 10 = 3
                    GROUP BY 1, 2)
         SELECT corpus_doc, batch_doc,
                round(1.0 - CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE), 6) AS jaccard_dist
         FROM p JOIN n na ON corpus_doc = na.doc_id JOIN n nb ON batch_doc = nb.doc_id
         WHERE 1.0 - CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) <= 0.5
         ORDER BY corpus_doc, batch_doc""",

    // Media dead-letter triage: corruptions are planted by the id-derived
    // rule (asset_id % 37 == 5 truncated), and media_type is the same
    // id-derived metadata the synthetic assets carry — so DuckDB rebuilds
    // the per-type ok/quarantined counts and the quarantined-id checksum
    // without decoding a byte. A good asset misrouted, a corruption
    // slipping through, or a wrong quarantine identity breaks the hash.
    "q_media_quarantine" ->
      """WITH m AS (SELECT doc_id,
                CASE CAST(doc_id % 4 AS INTEGER)
                     WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                     WHEN 2 THEN 'video' ELSE 'image' END AS media_type,
                (doc_id % 37 = 5) AS corrupt
              FROM documents)
         SELECT media_type,
                count(*) FILTER (WHERE NOT corrupt) AS n_ok,
                count(*) FILTER (WHERE corrupt) AS n_quarantined,
                COALESCE(CAST(sum(doc_id) FILTER (WHERE corrupt) AS BIGINT), 0)
                  AS sum_q_ids
         FROM m GROUP BY media_type ORDER BY media_type""",

    // Streaming corpus dedup: an arrival (doc_id % 10 == 3, arriving in
    // doc_id order) survives iff NOTHING seen before it matches at exact
    // bigram Jaccard dist <= 0.5 — "seen" = the standing corpus (% 10 !=
    // 3) plus every earlier arrival (smaller doc_id, survivor or not —
    // the stream appends ALL arrivals to the index). The stream computes
    // this via per-tick index probes + within-batch pairs; the oracle
    // rebuilds it as one relational pass, so the hash match proves
    // stream ≡ batch on the same arrival order.
    "q_stream_dedup_corpus" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
                    WHERE len(string_split(lower(text), ' ')) >= 2),
              s AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] AS sh
                    FROM w, UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
              n AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
              p AS (SELECT a.doc_id AS seen_doc, b.doc_id AS cand, count(*) AS inter
                    FROM s a JOIN s b ON a.sh = b.sh
                    WHERE b.doc_id % 10 = 3
                      AND (a.doc_id % 10 <> 3 OR a.doc_id < b.doc_id)
                    GROUP BY 1, 2),
              dup AS (SELECT DISTINCT cand
                      FROM p JOIN n na ON seen_doc = na.doc_id
                             JOIN n nb ON cand = nb.doc_id
                      WHERE 1.0 - CAST(inter AS DOUBLE)
                                  / CAST(na.n + nb.n - inter AS DOUBLE) <= 0.5)
         SELECT d.doc_id, d.source
         FROM documents d
         WHERE d.doc_id % 10 = 3 AND d.doc_id NOT IN (SELECT cand FROM dup)
         ORDER BY d.doc_id""",

    // Transitive closure over the SAME exact near-dup pair set as
    // q_dedup_minhash (bigram Jaccard dist <= 0.5), walked with a recursive
    // CTE: each node's component id is the minimum reachable doc_id. The
    // Spark side computes the identical closure with distributed
    // large-star/small-star contraction, so the hash match proves the
    // loop's fixpoint equals the textbook closure.
    "q_dedup_components" ->
      """WITH RECURSIVE
              w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
                    WHERE len(string_split(lower(text), ' ')) >= 2),
              s AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] AS sh
                    FROM w, UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
              n AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
              p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                    FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
                    GROUP BY 1, 2),
              pr AS (SELECT doc_a, doc_b
                     FROM p JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id
                     WHERE 1.0 - CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) <= 0.5),
              e AS (SELECT doc_a AS a, doc_b AS b FROM pr
                    UNION SELECT doc_b, doc_a FROM pr),
              reach(src, node) AS (
                    SELECT a, a FROM e
                    UNION
                    SELECT r.src, e2.b FROM reach r JOIN e e2 ON r.node = e2.a),
              comp AS (SELECT src, min(node) AS comp_id FROM reach GROUP BY src)
         SELECT comp_id, count(*) AS n_docs, max(src) AS max_doc
         FROM comp GROUP BY 1 ORDER BY comp_id""",

    // Canonical selection composes the SAME closure with the verified
    // q_text_quality arithmetic: per cluster, keep the highest-quality
    // member (ties to the smaller doc_id), count the drops. A selection
    // that keeps min-key instead of best-quality breaks the hash wherever
    // a cluster's cleanest copy is not its smallest id.
    "q_dedup_canonical" ->
      """WITH RECURSIVE
              w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
                    WHERE len(string_split(lower(text), ' ')) >= 2),
              s AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] AS sh
                    FROM w, UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
              n AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
              p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                    FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
                    GROUP BY 1, 2),
              pr AS (SELECT doc_a, doc_b
                     FROM p JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id
                     WHERE 1.0 - CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) <= 0.5),
              e AS (SELECT doc_a AS a, doc_b AS b FROM pr
                    UNION SELECT doc_b, doc_a FROM pr),
              reach(src, node) AS (
                    SELECT a, a FROM e
                    UNION
                    SELECT r.src, e2.b FROM reach r JOIN e e2 ON r.node = e2.a),
              comp AS (SELECT src, min(node) AS comp_id FROM reach GROUP BY src),
              qf AS (SELECT doc_id,
                            CAST(length(text) AS DOUBLE) AS len,
                            CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE) AS alpha_len,
                            string_split_regex(lower(text), '\s+') AS toks
                     FROM documents),
              qg AS (SELECT doc_id, len,
                            least(len / 200.0, 1.0) AS len_score,
                            alpha_len / greatest(len, 1.0) AS alpha,
                            greatest(CAST(len(toks) AS DOUBLE), 1.0) AS n_tok,
                            CAST(len(list_filter(toks, t -> list_contains(
                              ['the', 'a', 'an', 'and', 'or', 'of', 'in', 'to', 'is'], t))) AS DOUBLE) AS n_stop
                     FROM qf),
              q AS (SELECT doc_id,
                           round(0.3 * len_score + 0.3 * alpha
                                 + 0.2 * (CASE WHEN n_stop / n_tok BETWEEN 0.01 AND 0.6
                                               THEN 1.0 ELSE 0.4 END)
                                 + 0.2 * (CASE WHEN len / n_tok BETWEEN 2.0 AND 12.0
                                               THEN 1.0 ELSE 0.3 END), 6) AS quality
                    FROM qg),
              m AS (SELECT c.comp_id, c.src AS doc, q.quality
                    FROM comp c JOIN q ON q.doc_id = c.src),
              r AS (SELECT comp_id, doc, quality,
                           row_number() OVER (PARTITION BY comp_id
                             ORDER BY quality DESC, doc ASC) AS rn,
                           count(*) OVER (PARTITION BY comp_id) AS n_docs
                    FROM m)
         SELECT comp_id, doc AS keep_doc, quality AS keep_quality,
                n_docs, n_docs - 1 AS n_dropped
         FROM r WHERE rn = 1 ORDER BY comp_id""",

    // The incremental fold (standing corpus labels + stored-index probe
    // pairs + batch-internal pairs) covers exactly the SAME full pair set,
    // so the oracle is the identical global closure — the hash match
    // proves incremental ≡ backfill. n_batch counts members arriving in
    // the graded ingest (doc_id % 10 == 3): a stale-label passthrough
    // that never folded the batch breaks it.
    "q_dedup_components_incr" ->
      """WITH RECURSIVE
              w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
                    WHERE len(string_split(lower(text), ' ')) >= 2),
              s AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] AS sh
                    FROM w, UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
              n AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
              p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                    FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
                    GROUP BY 1, 2),
              pr AS (SELECT doc_a, doc_b
                     FROM p JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id
                     WHERE 1.0 - CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) <= 0.5),
              e AS (SELECT doc_a AS a, doc_b AS b FROM pr
                    UNION SELECT doc_b, doc_a FROM pr),
              reach(src, node) AS (
                    SELECT a, a FROM e
                    UNION
                    SELECT r.src, e2.b FROM reach r JOIN e e2 ON r.node = e2.a),
              comp AS (SELECT src, min(node) AS comp_id FROM reach GROUP BY src)
         SELECT comp_id, count(*) AS n_docs,
                count(*) FILTER (WHERE src % 10 = 3) AS n_batch,
                max(src) AS max_doc
         FROM comp GROUP BY 1 ORDER BY comp_id""",

    // All-pairs exact trigram Jaccard — the Spark plan (prefix-filtered
    // inverted index) emits the same exact pair set without the quadratic
    // join.
    "q_dedup_ngram" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
                    WHERE len(string_split(lower(text), ' ')) >= 3),
              s AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS sh
                    FROM w, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
              n AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
              p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                    FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
         SELECT doc_a, doc_b,
                round(1.0 - CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE), 6) AS jaccard_dist
         FROM p JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id
         WHERE 1.0 - CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) <= 0.5
         ORDER BY doc_a, doc_b""",

    // Twin of LlmOps.plantedNearDupEmbeddings + cosineNearDupPairs: DuckDB
    // lists are 1-indexed, so the perturbation index is (vec_id + i - 1) to
    // match Spark's 0-based transform index; float cast is IEEE-exact on
    // both sides.
    "q_dedup_embed" ->
      """WITH base AS (SELECT vec_id, embedding FROM embeddings),
              planted AS (
           SELECT vec_id + 1000000 AS vec_id,
                  list_transform(generate_series(1, len(embedding)),
                    i -> CAST(embedding[i] + 0.02 * (CAST((vec_id + i - 1) % 3 AS DOUBLE) - 1.0) AS FLOAT)) AS embedding
           FROM base WHERE vec_id % 25 = 0),
              allv AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
              u AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM allv)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
         FROM u a JOIN u b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.v, b.v) >= 0.98
         ORDER BY id_a, id_b""",

    // Twin of the semantic contamination check: same planted-corpus
    // construction as q_dedup_embed, pairs oriented train (vec_id%3=0) →
    // test (vec_id%3=1), exact cosine in the predicate, rounded in the
    // aggregate — max over identically-rounded values.
    "q_contamination_embed" ->
      """WITH base AS (SELECT vec_id, embedding FROM embeddings),
              planted AS (
           SELECT vec_id + 1000000 AS vec_id,
                  list_transform(generate_series(1, len(embedding)),
                    i -> CAST(embedding[i] + 0.02 * (CAST((vec_id + i - 1) % 3 AS DOUBLE) - 1.0) AS FLOAT)) AS embedding
           FROM base WHERE vec_id % 25 = 0),
              allv AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
              u AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM allv),
              p AS (SELECT a.vec_id AS tr, b.vec_id AS te,
                           round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
                    FROM u a JOIN u b
                      ON a.vec_id % 3 = 0 AND b.vec_id % 3 = 1
                     AND a.vec_id <> b.vec_id
                    WHERE list_cosine_similarity(a.v, b.v) >= 0.98)
         SELECT te AS test_id, count(*) AS n_train_hits, max(cos_sim) AS max_cos
         FROM p GROUP BY te ORDER BY test_id""",

    "q_sim_cosine_topk" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
              c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings WHERE vec_id <> 0)
         SELECT vec_id, label,
                round(list_dot_product(e, qe)
                      / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))), 6) AS cos_sim
         FROM c, q
         ORDER BY cos_sim DESC, vec_id LIMIT 10""",

    "q_text_lang_stats" ->
      """SELECT lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                round(CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*), 6) AS avg_tokens
         FROM documents GROUP BY lang ORDER BY lang""",

    "q_text_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
                      FROM documents),
              tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
              df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
              n AS (SELECT count(*) AS n_docs FROM documents)
         SELECT tf.doc_id, tf.term, tf.tf, df.df,
                round(tf.tf * ln(CAST(n.n_docs + 1 AS DOUBLE) / CAST(df.df + 1 AS DOUBLE)), 6) AS tfidf
         FROM tf JOIN df USING (term), n
         ORDER BY tfidf DESC, doc_id, term LIMIT 100""",

    // BM25 twin: per-term contributions in the SAME IEEE dag (k1 = 1.2,
    // b = 0.75), rounded to 6 dp (absorbing ln's cross-engine ulp) and
    // summed on the exact decimal path; ranks tiebreak on doc_id.
    "q_text_bm25" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
                       FROM documents),
              tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
              dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
              tot AS (SELECT sum(dl) AS sum_dl, count(*) AS n_docs FROM dl),
              df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
              qt AS (SELECT doc_id AS qid, term FROM tf WHERE doc_id <= 4),
              hits AS (SELECT qt.qid, tf.doc_id,
                              round(ln(1.0 + (CAST(tot.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                                             / (CAST(df.df AS DOUBLE) + 0.5))
                                    * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0)
                                       / (CAST(tf.tf AS DOUBLE)
                                          + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl.dl AS DOUBLE)
                                                   / (CAST(tot.sum_dl AS DOUBLE) / CAST(tot.n_docs AS DOUBLE))))), 6) AS contrib
                       FROM tf JOIN qt USING (term)
                       JOIN df ON tf.term = df.term
                       JOIN dl ON tf.doc_id = dl.doc_id
                       CROSS JOIN tot
                       WHERE tf.doc_id <> qt.qid),
              sc AS (SELECT qid, doc_id, ${dsum("contrib", 6)} AS score,
                            count(*) AS n_terms
                     FROM hits GROUP BY 1, 2),
              rk AS (SELECT qid, doc_id, score, n_terms,
                            row_number() OVER (PARTITION BY qid
                                               ORDER BY score DESC, doc_id) AS rnk
                     FROM sc)
         SELECT qid, rnk AS rank, doc_id, score, n_terms
         FROM rk WHERE rnk <= 10 ORDER BY qid, rnk""",

    // RRF fusion twin: dense leg = the q_sim_cosine_topk cosine per query,
    // sparse leg = the BM25 pipeline at topN = 20; 1/(60+r) and the
    // two-term sum are exact IEEE ops on identical integer ranks.
    "q_sim_hybrid_rrf" ->
      s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
                     FROM embeddings WHERE vec_id BETWEEN 0 AND 4),
              c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
              dcos AS (SELECT q.qid, c.vec_id AS id,
                              round(list_dot_product(e, qe)
                                    / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))), 6) AS cos
                       FROM c, q WHERE c.vec_id <> q.qid),
              dtop AS (SELECT qid, id, dr FROM (
                         SELECT qid, id,
                                row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id) AS dr
                         FROM dcos) WHERE dr <= 20),
              tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
                      FROM documents),
              tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
              dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
              tot AS (SELECT sum(dl) AS sum_dl, count(*) AS n_docs FROM dl),
              df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
              qt AS (SELECT doc_id AS qid, term FROM tf WHERE doc_id <= 4),
              hits AS (SELECT qt.qid, tf.doc_id,
                              round(ln(1.0 + (CAST(tot.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                                             / (CAST(df.df AS DOUBLE) + 0.5))
                                    * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0)
                                       / (CAST(tf.tf AS DOUBLE)
                                          + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl.dl AS DOUBLE)
                                                   / (CAST(tot.sum_dl AS DOUBLE) / CAST(tot.n_docs AS DOUBLE))))), 6) AS contrib
                       FROM tf JOIN qt USING (term)
                       JOIN df ON tf.term = df.term
                       JOIN dl ON tf.doc_id = dl.doc_id
                       CROSS JOIN tot
                       WHERE tf.doc_id <> qt.qid),
              sc AS (SELECT qid, doc_id, ${dsum("contrib", 6)} AS score
                     FROM hits GROUP BY 1, 2),
              stop AS (SELECT qid, id, sr FROM (
                         SELECT qid, doc_id AS id,
                                row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS sr
                         FROM sc) WHERE sr <= 20),
              fused AS (SELECT coalesce(d.qid, s.qid) AS qid,
                               coalesce(d.id, s.id) AS id, d.dr, s.sr,
                               (CASE WHEN d.dr IS NOT NULL
                                     THEN 1.0 / (60.0 + CAST(d.dr AS DOUBLE)) ELSE 0.0 END
                                + CASE WHEN s.sr IS NOT NULL
                                       THEN 1.0 / (60.0 + CAST(s.sr AS DOUBLE)) ELSE 0.0 END) AS rrf
                        FROM dtop d FULL OUTER JOIN stop s
                          ON d.qid = s.qid AND d.id = s.id),
              frk AS (SELECT qid, id, dr, sr, rrf,
                             row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, id) AS rnk
                      FROM fused)
         SELECT qid, rnk AS rank, id, dr AS dense_rank, sr AS sparse_rank,
                round(rrf, 6) AS rrf_score
         FROM frk WHERE rnk <= 10 ORDER BY qid, rnk""",

    // Relational twin of the unigram perplexity filter: identical add-one
    // model (ln of the same IEEE division), per-doc sums through the exact
    // decimal path (scale 6), and the kept flag compares the ROUNDED sum —
    // the division and comparison are single correctly-rounded IEEE ops on
    // identical inputs in both engines.
    "q_text_perplexity" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
                       FROM documents),
               c AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
               t AS (SELECT sum(c) AS total, count(*) AS vocab FROM c),
               lp AS (SELECT term,
                             ln(CAST(c + 1 AS DOUBLE) / CAST(total + vocab AS DOUBLE)) AS lp
                      FROM c, t),
               d AS (SELECT tok.doc_id, count(*) AS n_tokens,
                            ${dsum("lp", 6)} AS sum_lp
                     FROM tok JOIN lp USING (term) GROUP BY tok.doc_id)
          SELECT doc_id, n_tokens, sum_lp,
                 round(-sum_lp / n_tokens, 6) AS avg_nll,
                 CAST(CASE WHEN -sum_lp / n_tokens <= 5.0 THEN 1 ELSE 0 END AS BIGINT) AS kept
          FROM d ORDER BY doc_id""",

    // Bigram LM twin: same add-one conditional model, same bigram
    // generation as the collocations oracle (1-indexed range yields no
    // bigrams for 1-token docs — matching the Spark size guard, so those
    // docs drop from both sides), same decimal-path per-doc ln-sum.
    "q_text_ngram_lm" ->
      s"""WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
               bg AS (SELECT doc_id, w[i] AS a, w[i + 1] AS b
                      FROM d, unnest(range(1, len(w))) AS t(i)),
               cb AS (SELECT a, b, count(*) AS cab FROM bg GROUP BY 1, 2),
               cu AS (SELECT unnest(w) AS t FROM d),
               cuc AS (SELECT t, count(*) AS c FROM cu GROUP BY 1),
               v AS (SELECT count(*) AS vocab FROM cuc),
               model AS (SELECT cb.a, cb.b,
                                ln(CAST(cab + 1 AS DOUBLE)
                                   / CAST(ca.c + vocab AS DOUBLE)) AS lp
                         FROM cb JOIN cuc ca ON cb.a = ca.t, v),
               sc AS (SELECT bg.doc_id, count(*) AS n_bigrams,
                             ${dsum("lp", 6)} AS sum_lp
                      FROM bg JOIN model USING (a, b) GROUP BY 1)
          SELECT doc_id, n_bigrams, sum_lp,
                 round(-sum_lp / n_bigrams, 6) AS avg_nll,
                 CAST(CASE WHEN -sum_lp / n_bigrams <= 3.41 THEN 1 ELSE 0 END
                      AS BIGINT) AS kept
          FROM sc ORDER BY doc_id""",

    // Twin of the PMI collocation miner: DuckDB's 1-indexed lateral unnest
    // over range(1, len) generates the same adjacent pairs the 0-indexed
    // Spark lambda does (and yields none for 1-token docs, matching the
    // Spark-side size guard); the PMI arithmetic is the same
    // left-associated IEEE double sequence.
    "q_text_collocations" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
              bg AS (SELECT w[i] AS a, w[i + 1] AS b
                     FROM d, unnest(range(1, len(w))) AS t(i)),
              cbt AS (SELECT a, b, count(*) AS cab FROM bg GROUP BY 1, 2),
              uni AS (SELECT unnest(w) AS t FROM d),
              cu AS (SELECT t, count(*) AS c FROM uni GROUP BY t),
              tot AS (SELECT (SELECT count(*) FROM uni) AS n_uni,
                             (SELECT count(*) FROM bg) AS n_bg)
         SELECT cbt.a, cbt.b, cbt.cab, ca.c AS ca, cbu.c AS cb_cnt,
                round(ln((CAST(cab AS DOUBLE) * n_uni * n_uni) /
                         (CAST(n_bg AS DOUBLE) * ca.c * cbu.c)), 6) AS pmi
         FROM cbt JOIN cu ca ON cbt.a = ca.t JOIN cu cbu ON cbt.b = cbu.t, tot
         WHERE cab >= 5
         ORDER BY pmi DESC, cbt.a, cbt.b LIMIT 50""",

    // Twin of TextOps.qualityScore: same double arithmetic in the same
    // (left-associative) order, regexp_replace needs the explicit 'g' flag
    // (DuckDB replaces first match only by default; Spark replaces all).
    // Gopher-rules twin: every rule value recomputed through the same
    // char-based split/replace/len arithmetic; the verdict compares the
    // ROUNDED columns in both engines, so a threshold can never straddle
    // a representation difference.
    "q_text_gopher" ->
      """WITH f AS (
           SELECT doc_id, lang, text,
                  string_split(text, ' ') AS toks,
                  string_split(text, chr(10)) AS lines
           FROM documents),
              g AS (
           SELECT doc_id, lang,
                  CAST(len(toks) AS BIGINT) AS n_words,
                  round(CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
                        / CAST(len(toks) AS DOUBLE), 6) AS mean_word_len,
                  round((CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
                         + CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3)
                        / CAST(len(toks) AS DOUBLE), 6) AS symbol_ratio,
                  round(CAST(len(list_filter(lines, l -> l LIKE '- %' OR l LIKE '* %')) AS DOUBLE)
                        / CAST(len(lines) AS DOUBLE), 6) AS frac_bullet,
                  round(CAST(len(list_filter(lines, l -> l LIKE '%...')) AS DOUBLE)
                        / CAST(len(lines) AS DOUBLE), 6) AS frac_ellipsis,
                  round(CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) AS DOUBLE)
                        / CAST(len(toks) AS DOUBLE), 6) AS frac_alpha,
                  CAST(len(list_filter(toks, t -> list_contains(
                    ['the', 'a', 'an', 'and', 'or', 'of', 'in', 'to', 'is'], t))) AS BIGINT) AS n_stop
           FROM f)
         SELECT doc_id, lang, n_words, mean_word_len, symbol_ratio,
                frac_bullet, frac_ellipsis, frac_alpha, n_stop,
                CAST(n_words BETWEEN 50 AND 100000
                     AND mean_word_len BETWEEN 3.0 AND 10.0
                     AND symbol_ratio < 0.1
                     AND frac_bullet < 0.9 AND frac_ellipsis < 0.3
                     AND frac_alpha >= 0.8 AND n_stop >= 2 AS BIGINT) AS gopher_pass
         FROM g ORDER BY doc_id""",

    // Flesch twin: the same vowel-group syllable heuristic and
    // terminal-punctuation sentence count, one fixed-order double formula.
    "q_text_flesch" ->
      """WITH f AS (
           SELECT doc_id, lang, string_split(text, ' ') AS toks, text
           FROM documents),
              g AS (
           SELECT doc_id, lang,
                  CAST(len(toks) AS BIGINT) AS n_words,
                  greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS n_sentences,
                  CAST(list_sum(list_transform(toks,
                    t -> greatest(1, len(regexp_extract_all(t, '[aeiouy]+'))))) AS BIGINT) AS n_syllables
           FROM f)
         SELECT doc_id, lang, n_words, n_sentences, n_syllables,
                round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                      - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 6) AS flesch_ease,
                round(0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                      + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) - 15.59, 6) AS fk_grade
         FROM g ORDER BY doc_id""",

    "q_text_quality" ->
      """WITH f AS (
           SELECT doc_id, lang,
                  CAST(length(text) AS DOUBLE) AS len,
                  CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE) AS alpha_len,
                  string_split_regex(lower(text), '\s+') AS toks
           FROM documents),
              g AS (
           SELECT doc_id, lang, len,
                  least(len / 200.0, 1.0) AS len_score,
                  alpha_len / greatest(len, 1.0) AS alpha,
                  greatest(CAST(len(toks) AS DOUBLE), 1.0) AS n_tok,
                  CAST(len(list_filter(toks, t -> list_contains(
                    ['the', 'a', 'an', 'and', 'or', 'of', 'in', 'to', 'is'], t))) AS DOUBLE) AS n_stop
           FROM f)
         SELECT doc_id, lang,
                round(0.3 * len_score + 0.3 * alpha
                      + 0.2 * (CASE WHEN n_stop / n_tok BETWEEN 0.01 AND 0.6
                                    THEN 1.0 ELSE 0.4 END)
                      + 0.2 * (CASE WHEN len / n_tok BETWEEN 2.0 AND 12.0
                                    THEN 1.0 ELSE 0.3 END), 6) AS quality
         FROM g ORDER BY doc_id""",

    // Twin of qTextTokens: same whitespace split as q_text_lang_stats, and
    // TextOps.BpeIshPattern verbatim (apostrophe doubled for the SQL
    // literal). Both regex engines give leftmost, alternation-order-first
    // matches for this pattern's disjoint branches.
    "q_text_tokens" ->
      """WITH f AS (
           SELECT doc_id, lang, n_chars,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
                  CAST(len(regexp_extract_all(text,
                    '(''(?:s|t|re|ve|m|ll|d))|( ?[a-zA-Z]+)|( ?[0-9]+)|( ?[^a-zA-Z0-9\s]+)')) AS BIGINT) AS n_bpe
           FROM documents)
         SELECT doc_id, lang, n_ws, n_bpe,
                round(CAST(n_chars AS DOUBLE) / CAST(greatest(n_bpe, 1) AS DOUBLE), 6) AS chars_per_token
         FROM f ORDER BY doc_id""",

    // One BPE merge step's corpus pair counts: word-frequency compaction,
    // then per-word adjacent char pairs (with the </w> end marker) weighted
    // by word frequency. substr/len are char-based in both engines; the
    // (count DESC, pair) order is total (pair is the group key).
    "q_text_bpe_pairs" ->
      """WITH words AS (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents),
              wf AS (SELECT w, count(*) AS n FROM words WHERE len(w) > 0 GROUP BY w),
              pairs AS (SELECT substr(w, i, 1) || ' ' ||
                               CASE WHEN i < len(w) THEN substr(w, i + 1, 1)
                                    ELSE '</w>' END AS pair,
                               n
                        FROM wf, UNNEST(generate_series(1, len(w))) AS t(i))
         SELECT pair, CAST(sum(n) AS BIGINT) AS n_occurrences
         FROM pairs GROUP BY pair
         ORDER BY n_occurrences DESC, pair LIMIT 50""",

    // Twin of TextOps.langIdNGram (n = 3, topN = 200): same trigram
    // extraction (substring is 1-indexed in both engines; short texts yield
    // one possibly-shorter gram), same (count DESC, gram) profile ranking,
    // same (score DESC, lang) argmax, same 'und' fallback for documents
    // overlapping no profile.
    "q_text_langid" ->
      """WITH tr AS (
           SELECT lang, unnest(list_transform(
                    generate_series(1, greatest(length(lower(text)) - 2, 1)),
                    i -> substring(lower(text), i, 3))) AS g
           FROM documents),
              tg AS (SELECT lang, g, count(*) AS c FROM tr GROUP BY 1, 2),
              prof AS (
           SELECT lang, g FROM (
             SELECT lang, g, row_number() OVER (PARTITION BY lang ORDER BY c DESC, g) AS r
             FROM tg)
           WHERE r <= 200),
              te AS (
           SELECT doc_id, unnest(list_transform(
                    generate_series(1, greatest(length(lower(text)) - 2, 1)),
                    i -> substring(lower(text), i, 3))) AS g
           FROM documents),
              teg AS (SELECT doc_id, g, count(*) AS c FROM te GROUP BY 1, 2),
              sc AS (
           SELECT doc_id, lang, CAST(sum(c) AS BIGINT) AS score
           FROM teg JOIN prof USING (g) GROUP BY 1, 2),
              pick AS (
           SELECT doc_id, lang AS pred_lang, score FROM (
             SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS r
             FROM sc)
           WHERE r = 1)
         SELECT d.doc_id, coalesce(p.pred_lang, 'und') AS pred_lang,
                coalesce(p.score, 0) AS score
         FROM (SELECT DISTINCT doc_id FROM documents) d
         LEFT JOIN pick p USING (doc_id)
         ORDER BY doc_id""",

    "q_multimodal_join" ->
      """SELECT doc_id, lang, source, n_chars, label,
                round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 6) AS emb_norm
         FROM documents JOIN embeddings ON doc_id = vec_id
         WHERE lang = 'en' AND contains(text, 'spark')
           AND sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) > 1.0
         ORDER BY doc_id""",

    // Feature hashing: same md5-hex bucket/sign arithmetic (DuckDB's
    // CAST('0x…') == Spark's conv(…,16,10)); counts and signed sums are
    // exact integers.
    "q_ml_feature_hash" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents),
          b AS (SELECT doc_id,
                       CAST(concat('0x', substring(md5(tok), 1, 4)) AS BIGINT) % 64 AS bucket,
                       CASE WHEN CAST(concat('0x', substring(md5(tok), 5, 1)) AS BIGINT) % 2 = 0
                            THEN 1 ELSE -1 END AS sgn
                FROM tok)
          SELECT doc_id, bucket, count(*) AS n_tokens,
                 CAST(sum(sgn) AS BIGINT) AS feat_val
          FROM b GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_sample_split" ->
      """SELECT split, lang, count(*) AS n_docs,
                count(DISTINCT text) AS n_uniq_texts, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM (SELECT lang, text, n_chars,
                 CASE WHEN substring(md5(text), 1, 1) <= 'b' THEN 'train'
                      WHEN substring(md5(text), 1, 1) <= 'd' THEN 'val'
                      ELSE 'test' END AS split
               FROM documents) t
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // Numerator/denominator go DECIMAL → scaled BIGINT → DOUBLE (exact at
    // every step, per the dsum rule) so both engines divide identical
    // doubles; sqrt is correctly rounded IEEE in both.
    "q_sample_mixture" ->
      """WITH per AS (
           SELECT source, count(*) AS n_docs,
                  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                  CAST(round(sqrt(CAST(count(*) AS DOUBLE)), 6)
                       AS DECIMAL(38,6)) AS w_num
           FROM documents GROUP BY source),
         d AS (SELECT CAST(sum(w_num) * 1000000 AS BIGINT) AS w_den_l FROM per),
         w AS (SELECT per.*,
                      round(CAST(CAST(w_num * 1000000 AS BIGINT) AS DOUBLE) /
                            CAST(w_den_l AS DOUBLE), 6) AS weight
               FROM per, d),
         e AS (SELECT w.*, round(100000.0 * weight, 3) AS expected_docs FROM w)
         SELECT source, n_docs, sum_chars, weight, expected_docs,
                round(expected_docs / CAST(n_docs AS DOUBLE), 6) AS oversample
         FROM e ORDER BY source""",

    // Rank-window definition of the quota sample; the Spark side routes to
    // an exact bucketed-threshold rewrite above the one-task gate, which
    // must land on the identical sample (total order on (md5, doc_id)).
    // The quota constant is shared with the Spark side so the two can
    // never drift.
    "q_sample_quota" ->
      s"""WITH r AS (SELECT lang, doc_id, n_chars,
                            row_number() OVER (PARTITION BY lang
                              ORDER BY md5(text), doc_id) AS rn
                     FROM documents)
          SELECT lang, count(*) AS n_sampled,
                 CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                 min(doc_id) AS min_doc, max(doc_id) AS max_doc
          FROM r WHERE rn <= ${graft.queries.LlmOps.QuotaK}
          GROUP BY lang ORDER BY lang""",

    // A-Res weighted reservoir twin: the content-addressed uniform (first
    // 8 md5 hex digits -> (v + 0.5)/2^32), key = ln(u)/w rounded to 6 dp,
    // straight per-language top-5 (the engine's salted two-phase top-k is
    // exact by the top-k union property, so the plain window agrees).
    "q_sample_weighted" ->
      """WITH k AS (SELECT lang, doc_id, n_chars,
                           round(ln((CAST(CAST('0x' || substring(md5(text), 1, 8) AS BIGINT) AS DOUBLE) + 0.5)
                                    / 4294967296.0)
                                 / CAST(n_chars AS DOUBLE), 6) AS ares_key
                    FROM documents),
              r AS (SELECT lang, doc_id, n_chars, ares_key,
                           row_number() OVER (PARTITION BY lang
                                              ORDER BY ares_key DESC, doc_id) AS rnk
                    FROM k)
         SELECT lang, rnk AS rank, doc_id, n_chars, ares_key
         FROM r WHERE rnk <= 5 ORDER BY lang, rnk""",

    // Counts literal bigram STRINGS where the Spark side counts 64-bit
    // bigram hashes — identical aggregates modulo hash collisions (the
    // q_dedup_minhash noise-floor argument).
    "q_text_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
              b AS (SELECT doc_id, unnest(list_transform(
                      generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i + 1])) AS bg
                    FROM w WHERE len(w) >= 2),
              c AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY 1, 2)
         SELECT doc_id,
                round((sum(c) - count(*)) / CAST(sum(c) AS DOUBLE), 6) AS dup_bigram_frac,
                round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_bigram_frac
         FROM c GROUP BY doc_id ORDER BY doc_id""",

    // Joins literal 5-gram STRINGS where the Spark side joins 64-bit gram
    // hashes — identical aggregates modulo hash collisions.
    "q_split_contamination" ->
      """WITH s AS (SELECT doc_id, substring(md5(text), 1, 1) AS hx,
                           string_split(lower(text), ' ') AS w
                    FROM documents),
              tr AS (SELECT DISTINCT unnest(list_transform(
                       generate_series(1, len(w) - 4),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS g
                     FROM s WHERE hx <= 'b' AND len(w) >= 5),
              te AS (SELECT DISTINCT doc_id, unnest(list_transform(
                       generate_series(1, len(w) - 4),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS g
                     FROM s WHERE hx > 'd' AND len(w) >= 5)
         SELECT te.doc_id, count(*) AS n_grams, count(tr.g) AS n_hits,
                round(count(tr.g) / CAST(count(*) AS DOUBLE), 6) AS contamination
         FROM te LEFT JOIN tr ON te.g = tr.g
         GROUP BY te.doc_id ORDER BY te.doc_id""",

    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
                           len(string_split(text, ' ')) AS tokens
                    FROM documents),
              r AS (SELECT *, sum(tokens) OVER
                      (PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
                    FROM t)
         SELECT shard, CAST((running - tokens) // 2048 AS BIGINT) AS seq_id,
                count(*) AS n_docs, CAST(sum(tokens) AS BIGINT) AS sum_tokens,
                min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM r GROUP BY 1, 2 ORDER BY shard, seq_id""",

    // Composes the verified q_text_quality arithmetic, exact-dedup-keep-min,
    // the md5-nibble split, and token accounting in one statement.
    "q_pipeline_curate" ->
      """WITH f AS (
           SELECT doc_id, lang, text,
                  CAST(length(text) AS DOUBLE) AS len,
                  CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE) AS alpha_len,
                  string_split_regex(lower(text), '\s+') AS toks
           FROM documents),
              g AS (
           SELECT doc_id, lang, text, len,
                  least(len / 200.0, 1.0) AS len_score,
                  alpha_len / greatest(len, 1.0) AS alpha,
                  greatest(CAST(len(toks) AS DOUBLE), 1.0) AS n_tok,
                  CAST(len(list_filter(toks, t -> list_contains(
                    ['the', 'a', 'an', 'and', 'or', 'of', 'in', 'to', 'is'], t))) AS DOUBLE) AS n_stop
           FROM f),
              scored AS (
           SELECT doc_id, lang, text,
                  round(0.3 * len_score + 0.3 * alpha
                        + 0.2 * (CASE WHEN n_stop / n_tok BETWEEN 0.01 AND 0.6
                                      THEN 1.0 ELSE 0.4 END)
                        + 0.2 * (CASE WHEN len / n_tok BETWEEN 2.0 AND 12.0
                                      THEN 1.0 ELSE 0.3 END), 6) AS quality
           FROM g),
              dd AS (
           SELECT doc_id, lang, text,
                  row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
           FROM scored WHERE quality >= 0.9),
              sp AS (
           SELECT lang,
                  CASE WHEN substring(md5(text), 1, 1) <= 'b' THEN 'train'
                       WHEN substring(md5(text), 1, 1) <= 'd' THEN 'val'
                       ELSE 'test' END AS split,
                  len(string_split(text, ' ')) AS tokens
           FROM dd WHERE rn = 1)
         SELECT split, count(*) AS n_docs, CAST(sum(tokens) AS BIGINT) AS sum_tokens,
                count(DISTINCT lang) AS n_langs
         FROM sp GROUP BY 1 ORDER BY 1""",

    "q_text_redact" ->
      """SELECT doc_id,
                len(regexp_extract_all(pii_text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', 0)) AS n_emails,
                len(regexp_extract_all(pii_text, '\+1-555-[0-9]{4}', 0)) AS n_phones,
                regexp_replace(regexp_replace(pii_text,
                    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
                  '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS redacted
         FROM (SELECT doc_id,
                 text || ' contact user' || doc_id || '@example.com or +1-555-' ||
                   lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS pii_text
               FROM documents) t
         ORDER BY doc_id""")

  val streaming: Map[String, String] = Map(
    "q_stream_tumbling" ->
      s"""SELECT date_trunc('hour', ts) AS w_start, event_type,
                 count(*) AS n, ${dsum("value", 6)} AS sum_value
          FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""",

    // Streaming anomaly twin: hourly integer moments from the raw corpus
    // (exact 2-dp cents via the decimal cast), cumulative prior stats per
    // type, and the SAME cross-multiplied integer z-test — DuckDB's
    // sum(BIGINT) is already HUGEINT, and the explicit HUGEINT casts keep
    // every product exact where BIGINT would overflow.
    "q_stream_anomaly" ->
      """WITH h AS (SELECT date_trunc('hour', ts) AS w_start, event_type,
                           count(*) AS n,
                           sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS s1,
                           sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                               * CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS s2
                    FROM events GROUP BY 1, 2),
              c AS (SELECT w_start, event_type, n, s1, s2,
                           sum(n) OVER wp AS np, sum(s1) OVER wp AS s1p,
                           sum(s2) OVER wp AS s2p
                    FROM h
                    WINDOW wp AS (PARTITION BY event_type ORDER BY w_start
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         SELECT event_type, w_start, n, CAST(s1 AS BIGINT) AS s1_cents,
                CAST(CASE WHEN np IS NULL OR np < 500 THEN 0
                          WHEN (CAST(s1 AS HUGEINT) * CAST(np AS HUGEINT)
                                - CAST(s1p AS HUGEINT) * CAST(n AS HUGEINT))
                               * (CAST(s1 AS HUGEINT) * CAST(np AS HUGEINT)
                                  - CAST(s1p AS HUGEINT) * CAST(n AS HUGEINT))
                               > 9 * CAST(n AS HUGEINT)
                                 * (CAST(np AS HUGEINT) * CAST(s2p AS HUGEINT)
                                    - CAST(s1p AS HUGEINT) * CAST(s1p AS HUGEINT))
                          THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
         FROM c ORDER BY event_type, w_start""",

    // Time-decay twin: the same per-user anchor (window max), exact
    // integer micros differences, fixed IEEE pow, contributions rounded
    // to 6 dp and summed on the decimal path.
    "q_window_decay" ->
      s"""WITH e AS (SELECT user_id, ts, value,
                            max(ts) OVER (PARTITION BY user_id) AS mx
                     FROM events),
              c AS (SELECT user_id, ts, mx,
                           round(pow(0.5, CAST(epoch_us(mx) - epoch_us(ts) AS DOUBLE)
                                          / (6.0 * 3600.0 * 1000000.0)) * value, 6) AS contrib
                    FROM e)
         SELECT user_id, count(*) AS n_events, max(ts) AS last_ts,
                ${dsum("contrib", 6)} AS decay_score
         FROM c GROUP BY 1 ORDER BY user_id""",

    // Rolling DISCRETE median (lower-median, zero interpolation): DuckDB's
    // quantile_disc(0.5) picks sorted element ⌈n/2⌉ — the same element the
    // Spark side takes from its sorted 10-row frame.
    "q_window_median" ->
      """SELECT user_id, ts, event_id, value,
                quantile_disc(value, 0.5) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id
                  ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS roll_median
         FROM events ORDER BY user_id, ts, event_id""",

    // Stream-static join twin: the batch LEFT join + hour/segment
    // aggregate (the replay is exactly-once, so stream == batch).
    "q_stream_join_static" ->
      s"""SELECT date_trunc('hour', e.ts) AS w_start,
                 CASE WHEN c.c_custkey IS NULL THEN 'UNKNOWN'
                      ELSE c.c_mktsegment END AS segment,
                 count(*) AS n, ${dsum("e.value", 6)} AS sum_value
          FROM events e
          LEFT JOIN (SELECT c_custkey, c_mktsegment FROM customer
                     WHERE c_custkey < 10) c
            ON e.user_id = c.c_custkey
          GROUP BY 1, 2 ORDER BY w_start, segment""",

    // Complete-mode serving: the final memory-sink snapshot must equal the
    // from-scratch per-type aggregate over the full replay (the key's own
    // runtime certificate separately proves the snapshot was recomputed
    // across >=2 micro-batches).
    "q_stream_complete" ->
      s"""SELECT event_type, count(*) AS n, ${dsum("value", 6)} AS sum_value
          FROM events GROUP BY 1 ORDER BY event_type""",

    // Restart/recovery must be invisible in results: the resumed stream's
    // committed sink equals the from-scratch batch aggregate — the SAME
    // oracle as q_stream_tumbling (any reprocessed or lost batch shows up
    // as duplicate/missing window rows and breaks the hash).
    "q_stream_restart" ->
      s"""SELECT date_trunc('hour', ts) AS w_start, event_type,
                 count(*) AS n, ${dsum("value", 6)} AS sum_value
          FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""",

    "q_stream_sliding" ->
      s"""SELECT time_bucket(INTERVAL '30 minutes', ts) - o.off * INTERVAL '30 minutes' AS w_start,
                 count(*) AS n, ${dsum("value", 6)} AS sum_value
          FROM events, (SELECT unnest([0, 1]) AS off) o
          GROUP BY w_start ORDER BY w_start""",

    // Re-derives the replay's late classification from first principles:
    // the on-time file is event_id % 5 != 2 and its watermark is COMMITTED
    // by the tick batch before the straggler file arrives, so the late
    // filter the held-back slice meets is max(on-time ts) truncated to ms
    // minus 1 h (Spark tracks event-time stats in ms, compares in us); a
    // straggler row is DROPPED iff ts <= watermark (WatermarkSupport's
    // LessThanOrEqual), otherwise accepted. The aggregate runs over
    // exactly the accepted rows and the audit column is the true dropped
    // count — matching the engine's numRowsDroppedByWatermark metric.
    "q_stream_late" ->
      s"""WITH f0 AS (SELECT * FROM events WHERE event_id % 5 <> 2),
               f1 AS (SELECT * FROM events WHERE event_id % 5 = 2),
               wm AS (SELECT (epoch_us(max(ts)) // 1000 - 3600000) * 1000 AS wm_us
                      FROM f0),
               acc AS (SELECT event_type, value FROM f0
                       UNION ALL
                       SELECT event_type, value FROM f1, wm
                       WHERE epoch_us(ts) > wm.wm_us),
               drp AS (SELECT count(*) AS d FROM f1, wm
                       WHERE epoch_us(ts) <= wm.wm_us)
          SELECT event_type, count(*) AS n_accepted,
                 ${dsum("value", 6)} AS sum_value,
                 (SELECT d FROM drp) AS n_late_dropped
          FROM acc GROUP BY 1 ORDER BY event_type""",

    // The two-tick manifested sink round trip (range-clustered files + one
    // manifest part per micro-batch, manifest-planned read + re-filter) is
    // lossless and exactly-once, so the oracle is the plain filtered
    // aggregate over the source; flush sentinels sit hours past the range.
    "q_stream_sink_manifest" ->
      s"""SELECT event_type, count(*) AS n, ${dsum("value", 6)} AS sum_value
          FROM events
          WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
          GROUP BY 1 ORDER BY event_type""",

    "q_stream_session" ->
      s"""WITH g AS (SELECT user_id, event_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                              OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                            THEN 1 ELSE 0 END AS new_s
                     FROM events
                     WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
               s AS (SELECT *, sum(new_s) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                     FROM g)
          SELECT user_id, min(ts) AS s_start,
                 max(ts) + INTERVAL '30 minutes' AS s_end,
                 count(*) AS n_events, ${dsum("value", 6)} AS sum_value
          FROM s GROUP BY user_id, sid ORDER BY user_id, s_start""",

    "q_stream_join" ->
      """SELECT c.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
                c.ts AS c_ts, p.ts AS p_ts
         FROM events c JOIN events p ON c.user_id = p.user_id
         WHERE c.event_type = 'click' AND p.event_type = 'purchase'
           AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL '60 minutes'
         ORDER BY purchase_id, click_id""",

    // Outer form: every click appears; NULL purchase rows are the
    // watermark-finalized no-match proofs. Flush sentinels (event_type
    // 'flush') never enter either side.
    "q_stream_join_outer" ->
      """WITH c AS (SELECT user_id, event_id AS click_id, ts AS c_ts
                    FROM events WHERE event_type = 'click'),
          p AS (SELECT user_id AS p_user_id, event_id AS purchase_id, ts AS p_ts
                FROM events WHERE event_type = 'purchase')
          SELECT c.user_id, c.click_id, p.purchase_id, c.c_ts
          FROM c LEFT JOIN p ON c.user_id = p.p_user_id
            AND c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - INTERVAL '60 minutes'
          ORDER BY c.click_id, p.purchase_id NULLS FIRST""",

    // Full outer: both directions of null proof — unmatched clicks AND
    // unmatched purchases — must each surface exactly once. No timestamp
    // output (nullable TIMESTAMP hashes as NaT); user_id is coalesced from
    // whichever side is present, (click_id, purchase_id) is a unique pair.
    "q_stream_join_full" ->
      """WITH c AS (SELECT user_id, event_id AS click_id, ts AS c_ts
                    FROM events WHERE event_type = 'click'),
          p AS (SELECT user_id AS p_user_id, event_id AS purchase_id, ts AS p_ts
                FROM events WHERE event_type = 'purchase')
          SELECT CAST(coalesce(c.user_id, p.p_user_id) AS BIGINT) AS user_id,
                 c.click_id, p.purchase_id
          FROM c FULL JOIN p ON c.user_id = p.p_user_id
            AND c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - INTERVAL '60 minutes'
          ORDER BY user_id, c.click_id NULLS FIRST, p.purchase_id NULLS FIRST""",

    // Right outer: every purchase, with each preceding click or a
    // watermark-finalized null-click proof.
    "q_stream_join_right" ->
      """WITH c AS (SELECT user_id, event_id AS click_id, ts AS c_ts
                    FROM events WHERE event_type = 'click'),
          p AS (SELECT user_id AS p_user_id, event_id AS purchase_id, ts AS p_ts
                FROM events WHERE event_type = 'purchase')
          SELECT CAST(coalesce(c.user_id, p.p_user_id) AS BIGINT) AS user_id,
                 c.click_id, p.purchase_id
          FROM c RIGHT JOIN p ON c.user_id = p.p_user_id
            AND c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - INTERVAL '60 minutes'
          ORDER BY user_id, p.purchase_id, c.click_id NULLS FIRST""",

    // Same relational answer as q_stream_session (the state machine must
    // reproduce session_window semantics exactly, decimal sum included).
    "q_stream_stateful" ->
      s"""WITH g AS (SELECT user_id, event_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                              OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                            THEN 1 ELSE 0 END AS new_s
                     FROM events
                     WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
               s AS (SELECT *, sum(new_s) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                     FROM g)
          SELECT user_id, min(ts) AS s_start,
                 max(ts) + INTERVAL '30 minutes' AS s_end,
                 count(*) AS n_events, ${dsum("value", 6)} AS sum_value
          FROM s GROUP BY user_id, sid ORDER BY user_id, s_start""",

    // The transformWithState (v2 API) port grades against the IDENTICAL
    // gaps-and-islands answer — the state-machine surface changed, the
    // semantics must not.
    "q_stream_stateful_v2" ->
      s"""WITH g AS (SELECT user_id, event_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                              OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                            THEN 1 ELSE 0 END AS new_s
                     FROM events
                     WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
               s AS (SELECT *, sum(new_s) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                     FROM g)
          SELECT user_id, min(ts) AS s_start,
                 max(ts) + INTERVAL '30 minutes' AS s_end,
                 count(*) AS n_events, ${dsum("value", 6)} AS sum_value
          FROM s GROUP BY user_id, sid ORDER BY user_id, s_start""",

    // The Spark side ingests the events file TWICE through watermark dedup;
    // the oracle aggregates the source ONCE — exactly-once must hold.
    "q_stream_dedup" ->
      s"""SELECT event_type, count(*) AS n, ${dsum("value", 6)} AS sum_value
          FROM events GROUP BY event_type ORDER BY event_type""",

    // The serving table is maintained by update-mode re-emissions +
    // latest-wins merges; converging to the from-scratch aggregate (then
    // ranked) is exactly the law the key grades.
    "q_stream_update_topk" ->
      s"""WITH agg AS (SELECT event_type, user_id, count(*) AS n,
                              ${dsum("value", 6)} AS sum_value
                       FROM events GROUP BY event_type, user_id),
               r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                       ORDER BY sum_value DESC, user_id) AS rnk
                     FROM agg)
          SELECT event_type, rnk, user_id, n, sum_value
          FROM r WHERE rnk <= 3 ORDER BY event_type, rnk""",

    // The stream dedups on (source, md5(text)) — redelivered copies AND
    // in-corpus same-(source, text) duplicates collapse to one row each,
    // so the batch DISTINCT-content aggregate is the exactly-once answer.
    // n_chars is a pure function of text, so the surviving copy cannot
    // change the sum.
    "q_stream_dedup_content" ->
      """WITH u AS (SELECT DISTINCT source, md5(text) AS h, n_chars FROM documents)
         SELECT source, count(*) AS n_unique, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM u GROUP BY source ORDER BY source""",

    // The Spark side streams the time-split replay through the foreachBatch
    // partitioned sink (two append micro-batches into an event_type= layout)
    // and re-reads the layout with a partition filter; the round trip is
    // lossless and exactly-once, so the oracle is the plain filtered
    // aggregate over the SOURCE — a duplicated or dropped row from either
    // micro-batch, or a row filed under the wrong partition, breaks it.
    "q_stream_sink" ->
      s"""SELECT event_type, user_id, count(*) AS n,
                 ${dsum("value", 6)} AS sum_value
          FROM events WHERE event_type IN ('click', 'purchase')
          GROUP BY event_type, user_id ORDER BY event_type, user_id""",

    // The streamed rollup accretes one decimal-partial row set per tick;
    // the graded read merges partials and never re-reads the events. The
    // oracle recomputes the view from scratch — tick-partial accretion
    // must be bit-identical (decimal addition is exact and associative);
    // a dropped tick, a double-committed batch, or a leaked flush
    // sentinel breaks the hash.
    "q_stream_view_maintain" ->
      s"""SELECT event_type, count(*) AS n,
                 ${dsum("value", 6)} AS sum_value
          FROM events GROUP BY event_type ORDER BY event_type""",

    // Single-pass aggregate over the source: the Spark side refreshes the
    // same answer by merging a materialized per-(type, day) decimal-partial
    // rollup with the newest day's delta — dsumPartial/dsumMerge keep the
    // full DECIMAL(38,10) until the one final rounding, so merge-of-partials
    // is byte-identical to this from-scratch sum and the hash match proves
    // the incremental path lossless.
    "q_agg_incremental" ->
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 ${dsum("value", 6)} AS sum_value
          FROM events GROUP BY event_type ORDER BY event_type""",

    // The Spark side serves a day-range dashboard aggregate from the
    // day-grained partial rollup via the Catalyst MV-rewrite rule; the
    // from-scratch filtered aggregate IS the claim. Day boundaries are UTC
    // calendar days of ts (the partition derivation), so the equivalent ts
    // range replaces the day predicate here.
    "q_agg_rollup_filter" ->
      s"""SELECT event_type, count(*) AS n, ${dsum("value", 6)} AS sum_value
          FROM events
          WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-22'
          GROUP BY event_type ORDER BY event_type""",

    // The Spark side serves this WEEKLY aggregate from the day-grained
    // rollup (grain-containment rewrite); the from-scratch ISO-week
    // aggregate over the source IS the claim. week-of-ts == week-of-day(ts)
    // (both engines: ISO 8601 week numbering).
    "q_agg_rollup_grain" ->
      s"""SELECT CAST(weekofyear(ts) AS BIGINT) AS week, count(*) AS n,
                 ${dsum("value", 6)} AS sum_value
          FROM events GROUP BY 1 ORDER BY week""",

    // The Spark side serves this star-schema aggregate from the maintained
    // JOIN-view rollup (Join and Aggregate both deleted by the Catalyst
    // rule); the from-scratch join aggregate IS the claim.
    "q_agg_rollup_join" ->
      s"""SELECT c_mktsegment, count(*) AS n_orders,
                 ${dsum("o_totalprice")} AS revenue
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    // Same planted header/footer construction and ". " segmentation as the
    // Spark side (split is a literal two-char separator in both dialects).
    "q_text_boilerplate" ->
      """WITH b AS (SELECT doc_id,
                           'SUBSCRIBE TO ' || upper(source) || ' TODAY. ' ||
                           text || '. ALL RIGHTS RESERVED' AS boil
                    FROM documents),
              seg AS (SELECT doc_id, unnest(string_split(boil, '. ')) AS seg FROM b),
              f AS (SELECT seg, count(DISTINCT doc_id) AS df FROM seg GROUP BY seg)
         SELECT doc_id, count(*) AS n_segs,
                CAST(sum(CASE WHEN df < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST(coalesce(sum(CASE WHEN df < 3 THEN len(seg) END), 0) AS BIGINT)
                  AS chars_kept
         FROM seg JOIN f USING (seg)
         GROUP BY doc_id ORDER BY doc_id""")

  /** All oracle strings, keyed like SparkEntry.queries. */
  def all: Map[String, String] =
    relational ++ windows ++ functions ++ mlStats ++ llm ++ streaming
}
