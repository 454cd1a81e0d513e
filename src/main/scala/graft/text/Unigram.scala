package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** UNIGRAM-LM TOKENIZER (r17) [pub: Kudo 2018, "Subword Regularization:
  * Improving Neural Network Translation Models with Multiple Subword
  * Candidates" — the SentencePiece unigram trainer]: the second tokenizer
  * family real pipelines ship beside BPE (q_text_bpe_*). Training is
  * hard-EM (Viterbi-EM — the deterministic variant of the paper's EM:
  * E picks each word's single best segmentation under the current piece
  * probabilities; M re-estimates probabilities as exact MLE counts over
  * those segmentations), seeded from frequent substrings, with the
  * SentencePiece pruning schedule (drop lowest-count pieces between early
  * rounds until the target vocabulary holds; single characters are never
  * pruned, so every word stays coverable). Encoding is Viterbi over the
  * piece lattice.
  *
  * Scale posture — the zipf economy shared with the whole BPE family: the
  * corpus is touched ONCE (the word-frequency shuffle); every EM round,
  * the pruning pass, and the encode all run over the DISTINCT-WORD table
  * (vocabulary-sized at any corpus size), and the piece table itself is
  * O(hundreds) driver rows shipped back as ONE typedlit map literal per
  * round. The Viterbi DP is a pure column expression (nested `aggregate`
  * folds — no UDF anywhere), so the plan stays Catalyst-native like the
  * BPE merge folds.
  *
  * Determinism: seed selection and pruning order by (count DESC, piece
  * ASC); expected counts are exact integer sums (word frequency × integer
  * piece occurrences); Viterbi ties resolve to the LONGEST piece (strict
  * `>` with candidates scanned longest-first). NoOracleSpec pins the
  * whole trainer against an independent driver-side reference EM on a
  * planted corpus, Viterbi against brute-force enumeration, and the
  * monotone-loss law of the final (prune-free) EM rounds. */
object Unigram {

  case class Piece(piece: String, n: Long, logp: Double)

  /** Viterbi DP over the piece lattice as one column expression: returns
    * struct(s: best log-prob, segs: the best segmentation). dp is built
    * left-to-right over `sequence(1, length(w))`; dp(j) holds the best
    * state after j−1 characters (1-indexed array), each position taking
    * the max over pieces of length ≤ maxLen ending there (scanned
    * LONGEST-first; strict `>` keeps the first, so ties break to the
    * longest piece — deterministic). Missing pieces (`element_at` → null)
    * are skipped; an uncoverable word ends at the −1e18 sentinel with an
    * empty segmentation (the trainer's never-prune-single-chars rule makes
    * that unreachable, and `train` requires it). */
  def viterbiBest(w: Column, logp: Column, maxLen: Int): Column = {
    val zeroSegs = array().cast("array<string>")
    val init = array(struct(lit(0.0).as("s"), zeroSegs.as("segs")))
    val sentinel = struct(lit(-1e18).as("s"), zeroSegs.as("segs"))
    val dpFull = aggregate(sequence(lit(1), length(w)), init,
      (dp, i) => concat(dp, array(
        aggregate(sequence(greatest(lit(1), i - lit(maxLen) + 1), i), sentinel,
          (best, j) => {
            val piece = w.substr(j, i - j + lit(1))
            val lp = element_at(logp, piece)
            val prev = element_at(dp, j)
            val cand = prev("s") + lp
            when(lp.isNotNull && cand > best("s"),
                struct(cand.as("s"),
                  concat(prev("segs"), array(piece)).as("segs")))
              .otherwise(best)
          }))))
    element_at(dpFull, -1)
  }

  /** Substring candidates of `words` (`(w, n)` word frequencies) with
    * corpus-weighted occurrence counts — the seed statistic: every
    * (position, length ≤ maxLen) substring of every distinct word,
    * weighted by the word's frequency. Vocabulary-sized explode. */
  def candidateCounts(words: DataFrame, maxLen: Int): DataFrame = {
    val subs = flatten(transform(sequence(lit(1), length(col("w"))),
      i => filter(
        transform(sequence(lit(1), lit(maxLen)),
          l => struct(i.as("i"), l.as("l"))),
        p => p("i") + p("l") - 1 <= length(col("w")))))
    words
      .select(explode(transform(subs,
        p => col("w").substr(p("i"), p("l")))).as("piece"), col("n"))
      .groupBy(col("piece")).agg(sum(col("n")).as("cnt"))
  }

  /** Train the unigram LM over `words` (`(w: string, n: long)` — the
    * word-frequency table). Returns (final pieces, per-round corpus
    * losses). `prunes` caps the MULTI-char vocabulary after each early
    * round; `finalRounds` more EM rounds then run prune-free (their
    * losses are non-increasing — the law NoOracleSpec pins). */
  def train(wordsIn: DataFrame, seedSize: Int = 300,
            prunes: Seq[Int] = Seq(200, 120), finalRounds: Int = 2,
            maxLen: Int = 4): (Seq[Piece], Seq[Double]) = {
    // Persist the word-frequency table: the trainer runs one vocab-sized
    // action per EM round plus the seed pass, and an unpersisted input
    // re-runs the CORPUS word-count shuffle under every one of them
    // (measured at sf0.1: the re-runs cost 36 s of the key's 39 s;
    // persisted, the whole train was ~3 s). The family's law — the corpus
    // is touched once — needs the persist to actually hold. It is the
    // trainer's only cache.
    val words = graft.operators.ScaleOps.trackedPersist(wordsIn)
    val cand = candidateCounts(words, maxLen).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val singles = cand.filter(_._1.length == 1)
    val multis = cand.filter(_._1.length > 1)
      .sortBy { case (p, c) => (-c, p) }.take(seedSize)
    var counts: Seq[(String, Long)] = (singles ++ multis).toSeq
    def logpMap: Map[String, Double] = {
      val total = counts.map(_._2).sum.toDouble
      counts.map { case (p, c) => p -> math.log(c / total) }.toMap
    }
    val losses = Seq.newBuilder[Double]
    val rounds = prunes.size + finalRounds
    for (r <- 1 to rounds) {
      // ONE Spark action per round: Viterbi-segment every distinct word
      // under this round's log-probs and sum word frequencies per chosen
      // piece — the E-step statistic. The round's loss needs no action of
      // its own: a word's Viterbi score is the sum of its pieces'
      // log-probs, so the corpus loss −Σ_w n_w·score(w) equals
      // −Σ_p cnt(p)·logp(p) over the collected counts (summed in piece
      // order, so it is deterministic).
      val lpm = logpMap
      val agg = words
        .select(col("n"), explode_outer(
          viterbiBest(col("w"), typedlit(lpm), maxLen)("segs")).as("piece"))
        .groupBy(col("piece"))
        .agg(sum(col("n")).as("cnt")).collect()
        .map(rr => (rr.getString(0), rr.getLong(1)))
      // explode_outer keeps a word with an empty segmentation (uncoverable:
      // its DP ended at the sentinel) as a null piece.
      require(!agg.exists(_._1 == null),
        "unigram trainer: a word has no segmentation under the piece table")
      losses += -agg.sortBy(_._1).map { case (p, c) => c * lpm(p) }.sum
      // M-step: exact MLE over the chosen segmentations. Pieces with zero
      // expected count drop out (they were never chosen — every word's
      // current segmentation survives, so coverage holds); early rounds
      // additionally cap the multi-char vocabulary (count DESC, piece ASC),
      // single characters are never pruned.
      val kept =
        if (r <= prunes.size) {
          val cap = prunes(r - 1)
          val m = agg.filter(_._1.length > 1)
            .sortBy { case (p, c) => (-c, p) }.take(cap)
          val s = agg.filter(_._1.length == 1)
          (s ++ m).toSeq
        } else agg.toSeq
      counts = kept.sortBy(_._1)
      require(counts.nonEmpty, "unigram trainer lost all pieces")
    }
    val lpFinal = logpMap
    val pieces = counts.map { case (p, c) => Piece(p, c, lpFinal(p)) }
      .sortBy(p => (-p.n, p.piece))
    (pieces, losses.result())
  }

  /** Viterbi-encode the distinct words of a corpus under a trained piece
    * table: returns `(w, n_tok, segs)` — the vocab-sized encode table a
    * corpus join consumes (zipf economy: each distinct word tokenizes
    * once, whatever the corpus size). */
  def encodeWords(vocab: DataFrame, pieces: Seq[Piece],
                  maxLen: Int = 4): DataFrame = {
    val lp = typedlit(pieces.map(p => p.piece -> p.logp).toMap)
    vocab.select(col("w"),
      viterbiBest(col("w"), lp, maxLen)("segs").as("segs"))
      .select(col("w"), size(col("segs")).cast("long").as("n_tok"),
        col("segs"))
  }
}
