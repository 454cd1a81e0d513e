package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** WORDPIECE TOKENIZER (r17) [pub: Wu et al. 2016, "Google's Neural
  * Machine Translation System" §3.2 — the BERT tokenizer family]: the
  * third tokenizer family beside BPE (q_text_bpe_*) and unigram-LM
  * (q_text_unigram_*), completing the trio real pipelines choose from.
  * Training is BPE-shaped (iteratively merge one adjacent symbol pair,
  * rewrite the vocabulary) but the merge CRITERION is likelihood gain,
  * not raw frequency: argmax count(ab) / (count(a) · count(b)) — the
  * pair whose fusion most increases corpus likelihood under a unigram
  * model. Symbols use the canonical continuation marking (first
  * character bare, every non-initial symbol `##`-prefixed; a merge
  * glues `a + strip##(b)` keeping a's form). Encoding is WordPiece's
  * greedy LONGEST-MATCH-FIRST walk over the final symbol vocabulary.
  *
  * Scale posture — the family's zipf economy: the corpus pays the ONE
  * word-count shuffle; each merge step is a vocab-sized pair + unigram
  * aggregation with a ONE-row driver fetch (the argmax, the BPE-trainer
  * convention), the rewrite fold and the greedy encode both run over
  * DISTINCT words as pure column expressions (no UDF). Determinism: the
  * score division is IEEE double on exact integer counts — bit-identical
  * between the distributed argmax and the spec's driver reference —
  * with ties broken (left ASC, right ASC). */
object WordPiece {

  /** Initial WordPiece symbol array of a word: first char bare, the rest
    * `##`-prefixed (no end-of-word marker — WordPiece marks
    * continuations, not ends). */
  private def initSyms(w: Column): Column =
    transform(sequence(lit(1), length(w)), i =>
      when(i === 1, w.substr(lit(1), lit(1)))
        .otherwise(concat(lit("##"), w.substr(i, lit(1)))))

  /** The learned (left, right, merged) rules of a merge table. */
  private def rules(merges: Seq[(Int, String, String, String, Double)])
      : Seq[(String, String, String)] =
    merges.map { case (_, a, b, m, _) => (a, b, m) }

  /** Train `steps` WordPiece merges over `words` (`(w, n)` frequencies).
    * Returns (step, left, right, merged, score) — score the exact-count
    * double the argmax compared.
    *
    * The symbolized table is packed once ([[SymPack]] — total on any
    * input) and is the trainer's only cache; step k re-applies the k−1
    * learned rules as one codegen'd `replace` chain and derives the
    * uni/pair counts from the result, so each step is exactly one Spark
    * action. The collected argmax row is unescaped on the driver;
    * NoOracleSpec pins the rules + scores against the driver reference. */
  def train(words: DataFrame, steps: Int = 10)
      : Seq[(Int, String, String, String, Double)] = {
    import SymPack._
    val packed = graft.operators.ScaleOps.trackedPersist(
      words.select(pack(initSyms(col("w"))).as("ms"), col("n")))
    val merges = Seq.newBuilder[(Int, String, String, String, Double)]
    for (step <- 1 to steps) {
      // Vocab-sized: per-symbol unigram counts and adjacent-pair counts,
      // both corpus-weighted; the likelihood-gain argmax joins them.
      val vocab = packed.select(
        unpack(mergeAll(col("ms"), rules(merges.result()))).as("syms"), col("n"))
      val uni = vocab
        .select(explode(col("syms")).as("s"), col("n"))
        .groupBy(col("s")).agg(sum(col("n")).as("cnt"))
      val pairs = vocab
        .select(explode(adjacentPairs(col("syms"))).as("p"), col("n"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("cnt_ab"))
      val top = pairs
        .join(uni.withColumnRenamed("s", "a").withColumnRenamed("cnt", "cnt_a"), "a")
        .join(uni.withColumnRenamed("s", "b").withColumnRenamed("cnt", "cnt_b"), "b")
        .select(col("a"), col("b"),
          (col("cnt_ab").cast("double") /
            (col("cnt_a").cast("double") * col("cnt_b").cast("double")))
            .as("score"))
        .orderBy(col("score").desc, col("a"), col("b"))
        .limit(1).collect()(0)
      val (a, b) = (unescape(top.getString(0)), unescape(top.getString(1)))
      merges += ((step, a, b, a + b.stripPrefix("##"), top.getDouble(2)))
    }
    merges.result()
  }

  /** Greedy LONGEST-MATCH-FIRST encode of the distinct words under the
    * final symbol vocabulary (seed characters + the learned merges, in
    * their positional `##` forms). One column-expression walk: the fold
    * iterates length(w) times; each step that finds the cursor advances
    * it by the LONGEST vocabulary piece matching there (continuation
    * form past position 1); an unmatched cursor marks the word failed
    * (token count −1 — WordPiece's [UNK], impossible here because every
    * single char is in the vocabulary). Returns (w, n_tok). */
  def encodeWords(vocabWords: DataFrame, pieces: Set[String],
                  maxLen: Int): DataFrame = {
    val lp = typedlit(pieces.map(_ -> true).toMap)
    val w = col("w")
    val walk = aggregate(sequence(lit(1), length(w)),
      struct(lit(1).as("pos"), lit(0L).as("cnt"), lit(false).as("fail")),
      (st, _) => {
        val remaining = length(w) - st("pos") + 1
        // Longest match at the cursor: scan lengths maxLen..1, keep the
        // first hit (strict: only update while no hit yet).
        val hit = aggregate(sequence(lit(maxLen), lit(1), lit(-1)),
          lit(0).cast("int"),
          (best, l) => {
            val raw = w.substr(st("pos"), l)
            val piece = when(st("pos") > 1, concat(lit("##"), raw)).otherwise(raw)
            when(best === 0 && l <= remaining &&
                 element_at(lp, piece).isNotNull, l).otherwise(best)
          })
        when(st("fail") || st("pos") > length(w), st)
          .when(hit === 0,
            struct(st("pos").as("pos"), st("cnt").as("cnt"), lit(true).as("fail")))
          .otherwise(struct((st("pos") + hit).as("pos"),
            (st("cnt") + 1L).as("cnt"), lit(false).as("fail")))
      })
    vocabWords.select(w,
      when(walk("fail"), lit(-1L)).otherwise(walk("cnt")).as("n_tok"))
  }

  /** The final symbol vocabulary after training: the symbols surviving
    * the merge folds over the training words PLUS the full seed alphabet
    * (bare first-char and `##`-continuation forms) — standard WordPiece
    * vocabularies always retain every single character, which makes the
    * greedy walk's [UNK] branch unreachable on in-corpus words (a greedy
    * path can strand the cursor where training merged every standalone
    * occurrence away; the alphabet backstop guarantees progress). */
  def finalSymbols(words: DataFrame,
                   merges: Seq[(Int, String, String, String, Double)]): Set[String] = {
    import SymPack._
    val survived = words
      .select(explode(unpack(mergeAll(pack(initSyms(col("w"))), rules(merges)))).as("s"))
      .distinct().collect().map(r => unescape(r.getString(0))).toSet
    val alphabet = words.select(explode(initSyms(col("w"))).as("s")).distinct()
      .collect().map(_.getString(0)).toSet
    survived ++ alphabet
  }
}
