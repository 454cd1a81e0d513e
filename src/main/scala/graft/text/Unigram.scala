package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

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
  * O(hundreds) driver rows shipped to the tasks in each round's closure.
  * An EM round is one MapReduce pass over a sufficient statistic: each
  * task folds its words' Viterbi segmentations into a piece→count map
  * (bounded by the piece table) and the driver sums the maps — one
  * single-stage job, no shuffle. The Viterbi DP ([[segment]]) is plain
  * Scala: a sequential recurrence over character positions, the shape an
  * interpreted higher-order-function fold runs slowest (see
  * `Layout.hilbert16` for the same trade).
  *
  * Determinism: seed selection and pruning order by (count DESC, piece
  * ASC); expected counts are exact integer sums (word frequency × integer
  * piece occurrences); Viterbi ties resolve to the LONGEST piece (strict
  * `>` with candidates scanned longest-first). NoOracleSpec pins the
  * whole trainer against an independent driver-side reference EM on a
  * planted corpus, Viterbi against brute-force enumeration, and the
  * monotone-loss law of the final (prune-free) EM rounds; UnigramSpec
  * pins [[segment]] against the reference Viterbi on random piece tables. */
object Unigram {

  case class Piece(piece: String, n: Long, logp: Double)

  /** Viterbi over the piece lattice of `w`: the best segmentation into
    * pieces of at most `maxLen` characters (code points, as Spark's
    * `substr` and `length` count them) under `logp`. score(i) is the best
    * log-prob of the first i characters; each end position takes the max
    * over the pieces ending there, scanned LONGEST-first with a strict
    * `>` from the −1e18 sentinel, so ties break to the longest piece
    * (deterministic). An uncoverable word yields no pieces (the trainer's
    * never-prune-single-chars rule makes that unreachable, and `train`
    * requires it). The one Viterbi of the trainer and the encode. */
  def segment(w: String, logp: Map[String, Double], maxLen: Int): Array[String] = {
    val cps = w.codePoints().toArray
    val score = new Array[Double](cps.length + 1)
    // from(i): start of the best piece ending at i; -1 at the sentinel
    val from = Array.fill(cps.length + 1)(-1)
    for (i <- 1 to cps.length) {
      var best = -1e18
      for (j <- math.max(0, i - maxLen) until i)
        logp.get(new String(cps, j, i - j)).foreach { lp =>
          val cand = score(j) + lp
          if (cand > best) { best = cand; from(i) = j }
        }
      score(i) = best
    }
    // Walk back until a sentinel (or the start): a piece chosen after an
    // uncovered prefix extends that prefix's empty segmentation.
    val segs = List.newBuilder[String]
    var i = cps.length
    while (from(i) >= 0) {
      segs += new String(cps, from(i), i - from(i))
      i = from(i)
    }
    segs.result().reverse.toArray
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
    // job per EM round plus the seed pass, and an unpersisted input
    // re-runs the CORPUS word-count shuffle under every one of them
    // (measured at sf0.1: the re-runs cost 36 s of the key's 39 s;
    // persisted, the whole train was ~3 s). The family's law — the corpus
    // is touched once — needs the persist to actually hold. It is the
    // trainer's only cache.
    val words = graft.operators.ScaleOps.trackedPersist(wordsIn)
    val cand = candidateCounts(words, maxLen).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // The EM rounds read the table the seed pass just cached as plain
    // (w, n) pairs, through its internal-row RDD: unlike `Dataset.rdd`,
    // deriving it is no SQL execution of its own.
    val wordRdd = words.select(col("w"), col("n")).queryExecution.toRdd
      .map(r => (r.getUTF8String(0).toString, r.getLong(1)))
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
      // E-step as ONE single-stage job: each task folds its words' Viterbi
      // segmentations into a piece→count map and the driver sums the maps
      // (depth 1: a tree level would add a shuffle stage to save merging
      // maps bounded by the piece table). The loss needs no job: a word's
      // Viterbi score is the sum of its pieces' log-probs, so
      // −Σ_w n_w·score(w) = −Σ_p cnt(p)·logp(p) over the merged counts
      // (summed in piece order, so it is deterministic).
      val lpm = logpMap
      val agg = wordRdd.treeAggregate(mutable.HashMap.empty[String, Long])(
        (m, wn) => {
          // an uncoverable word (no pieces) counts under a null piece
          val segs = segment(wn._1, lpm, maxLen)
          for (p <- if (segs.isEmpty) Array[String](null) else segs)
            m(p) = m.getOrElse(p, 0L) + wn._2
          m
        },
        (a, b) => { for ((p, c) <- b) a(p) = a.getOrElse(p, 0L) + c; a },
        1).toArray
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
    val spark = vocab.sparkSession
    import spark.implicits._
    val lp = pieces.map(p => p.piece -> p.logp).toMap
    vocab.select(col("w")).as[String].map { w =>
      val segs = segment(w, lp, maxLen)
      (w, segs.length.toLong, segs)
    }.toDF("w", "n_tok", "segs")
  }
}
