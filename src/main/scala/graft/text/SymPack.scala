package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** PACKED symbol-sequence form shared by the tokenizer trainers/encoders
  * (r20 optimization): a word's symbol array `[s1, s2, ...]` packs to the
  * string `"<M>e1<M><M>e2<M>...<M>ek<M>"` — every ESCAPED symbol `ei`
  * wrapped in one marker char on each side. The BPE/WordPiece
  * leftmost-first non-overlapping merge of an adjacent pair (a, b) is then
  * EXACTLY one literal string `replace` of `"<M>a<M><M>b<M>"` with
  * `"<M>merged<M>"` (all three escaped):
  *
  *  - boundary-safe BOTH sides: a symbol that merely ends with `a` cannot
  *    match (`a` needs its own opening marker right before it), and a
  *    symbol that merely STARTS with `b` cannot either (`b` needs its own
  *    closing marker right after it — a single-sided form fails exactly
  *    here: in [an, an, a] the pair (an, a) would match the prefix `a` of
  *    the second `an`);
  *  - leftmost-first, non-overlapping, resuming AFTER the replacement —
  *    `replace`'s scan order — which is exactly the fold semantics of the
  *    array form, INCLUDING consecutive occurrences: each occurrence owns
  *    its symbols' complete wrappers, so [a,b,a,b] → [ab,ab] and
  *    [a,a,a] with (a,a) → [aa,a];
  *  - no re-merge cascade: the replacement `<M>merged<M>` cannot seed a new
  *    occurrence of `<M>a<M><M>b<M>` — `merged` strictly extends `a`, so
  *    `merged != a`, and the fold likewise only compares whole symbols.
  *
  * Why: an array merge fold is a Catalyst higher-order `aggregate` whose
  * per-element slice+concat copies make it O(len²) interpreted work per
  * word PER MERGE STEP (HigherOrderFunctions are CodegenFallback);
  * `replace` is a codegen'd O(len) scan (guide §4: prefer codegen'd
  * built-ins in the hot path).
  *
  * Totality: every symbol is escaped with the prefix code
  * `\u0002 → \u0002\u0003`, then `\u0001 → \u0002\u0002`, so escaped text
  * never contains the marker and the packing is unambiguous on ANY input.
  * The code is injective, commutes with concatenation (so a merged
  * symbol's escape is the concatenation of its parts' escapes), and keeps
  * UTF-8 byte order (so `orderBy` tie-breaks on escaped symbols rank
  * exactly as on raw ones). Counts over escaped symbols therefore equal
  * counts over raw ones; the driver [[unescape]]s what it collects.
  * SymPackSpec pins the packed chain against a driver array fold on
  * marker-bearing symbols, plus both trainers against their references. */
object SymPack {

  /** Marker char: U+0001 — escaped text never contains it. */
  val M = "\u0001"

  /** Escape one symbol (column form): the order-preserving prefix code. */
  private def escapeCol(s: Column): Column =
    replace(replace(s, lit("\u0002"), lit("\u0002\u0003")), lit(M), lit("\u0002\u0002"))

  /** Escape one symbol (driver form) — the literal twin of [[escapeCol]]. */
  def escape(s: String): String =
    s.replace("\u0002", "\u0002\u0003").replace(M, "\u0002\u0002")

  /** Decode an escaped symbol. `\u0002` only ever starts a two-char code,
    * so a left-to-right replace of `\u0002\u0002` first cannot split a
    * `\u0002\u0003` pair, and no `\u0002\u0002` is left to confuse the
    * second replace. */
  def unescape(s: String): String =
    s.replace("\u0002\u0002", M).replace("\u0002\u0003", "\u0002")

  /** Pack a symbol array into its marker-wrapped escaped string form:
    * `M e1 M M e2 M ... M ek M`. */
  def pack(syms: Column): Column =
    concat(lit(M), array_join(transform(syms, escapeCol(_)), M + M), lit(M))

  /** Unpack back to the ESCAPED symbol array: trim the outermost markers,
    * split on the double-marker separators. Escaping is a bijection that
    * keeps order, so counts and argmaxes over this array are those of the
    * raw symbols; [[unescape]] what reaches the driver. */
  def unpack(ms: Column): Column =
    split(ms.substr(lit(2), length(ms) - 2), M + M)

  /** One leftmost-first non-overlapping merge of adjacent RAW symbols
    * (a, b) into `merged` on the packed form — the codegen'd twin of an
    * array fold. */
  def mergeStep(ms: Column, a: String, b: String, merged: String): Column =
    replace(ms, lit(M + escape(a) + M + M + escape(b) + M), lit(M + escape(merged) + M))

  /** Apply learned (left, right, merged) rules in order — the expression
    * chain every trainer step, encoder and vocabulary readout shares. */
  def mergeAll(ms: Column, rules: Seq[(String, String, String)]): Column =
    rules.foldLeft(ms) { case (acc, (a, b, m)) => mergeStep(acc, a, b, m) }

  /** Symbol count of a packed form without materializing the array: each
    * symbol carries exactly two marker chars. */
  def packedSize(ms: Column): Column =
    ((length(ms) - length(replace(ms, lit(M)))) / 2).cast("long")

  /** Adjacent-pair structs of an UNPACKED symbol array (shared shape of the
    * trainer pair counts). */
  def adjacentPairs(arr: Column): Column =
    zip_with(
      slice(arr, lit(1), size(arr) - 1),
      slice(arr, lit(2), size(arr) - 1),
      (a, b) => struct(a.as("a"), b.as("b")))
}
