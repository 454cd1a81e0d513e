package graft

import scala.collection.mutable

/** Driver-side reference tokenizer trainers: plain Scala over collected
  * (symbols, count) pairs — the independent twins the distributed BPE,
  * WordPiece and unigram-LM trainers are checked against (NoOracleSpec,
  * R18OpsSpec, SymPackSpec, UnigramSpec). */
object RefTokenizers {

  /** Leftmost-first non-overlapping merge of adjacent (a, b) into `merged`
    * — the array fold both tokenizer families define their rewrite by. */
  def mergeFold(syms: Vector[String], a: String, b: String,
                merged: String): Vector[String] = {
    val out = mutable.ArrayBuffer[String]()
    for (s <- syms) {
      if (out.nonEmpty && out.last == a && s == b) out(out.length - 1) = merged
      else out += s
    }
    out.toVector
  }

  /** Apply learned (left, right, merged) rules in order. */
  def mergeAll(syms: Vector[String],
               rules: Seq[(String, String, String)]): Vector[String] =
    rules.foldLeft(syms) { case (acc, (a, b, m)) => mergeFold(acc, a, b, m) }

  private def rewrite(vocab: Map[Vector[String], Long], a: String, b: String,
                      merged: String): Map[Vector[String], Long] =
    vocab.toSeq.map { case (syms, n) => (mergeFold(syms, a, b, merged), n) }
      .groupMapReduce(_._1)(_._2)(_ + _)

  /** Reference BPE: per step the highest-weighted adjacent pair, ties
    * broken (count desc, left asc, right asc), merges everywhere.
    * Returns (step, left, right, merged, count). */
  def bpe(words: Seq[(Vector[String], Long)], steps: Int = 10)
      : Seq[(Int, String, String, String, Long)] = {
    var vocab = words.groupMapReduce(_._1)(_._2)(_ + _)
    for (step <- 1 to steps) yield {
      val counts = mutable.Map[(String, String), Long]()
      for ((syms, n) <- vocab; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + n
      val ((a, b), cnt) = counts.toSeq.minBy { case ((x, y), c) => (-c, x, y) }
      vocab = rewrite(vocab, a, b, a + b)
      (step, a, b, a + b, cnt)
    }
  }

  /** WordPiece's initial symbols: first char bare, the rest `##`-prefixed. */
  def wordPieceSyms(w: String): Vector[String] =
    w.zipWithIndex.map { case (c, i) => if (i == 0) c.toString else "##" + c }.toVector

  /** Reference WordPiece: `##`-continuation symbols, likelihood-gain argmax
    * cnt(ab)/(cnt(a)·cnt(b)) as the SAME IEEE double division on exact
    * counts (bit-identical to the distributed argmax), ties (score desc,
    * left asc, right asc), leftmost-first rewrite. Returns
    * (step, left, right, merged, score). */
  def wordPiece(words: Seq[(String, Long)], steps: Int = 10)
      : Seq[(Int, String, String, String, Double)] = {
    var vocab = words.map { case (w, n) => (wordPieceSyms(w), n) }
      .groupMapReduce(_._1)(_._2)(_ + _)
    for (step <- 1 to steps) yield {
      val uni = mutable.Map[String, Long]()
      val pairs = mutable.Map[(String, String), Long]()
      for ((syms, n) <- vocab) {
        for (s <- syms) uni(s) = uni.getOrElse(s, 0L) + n
        for (i <- 0 until syms.length - 1)
          pairs((syms(i), syms(i + 1))) =
            pairs.getOrElse((syms(i), syms(i + 1)), 0L) + n
      }
      val scored = pairs.toSeq.map { case ((a, b), c) =>
        (a, b, c.toDouble / (uni(a).toDouble * uni(b).toDouble)) }
      val (a, b, sc) = scored.minBy { case (x, y, s) => (-s, x, y) }
      val merged = a + b.stripPrefix("##")
      vocab = rewrite(vocab, a, b, merged)
      (step, a, b, merged, sc)
    }
  }

  /** Reference unigram Viterbi: dp over prefixes holding (score, pieces),
    * candidates scanned longest-first with a strict `>` from the −1e18
    * sentinel, so ties keep the longest piece. Returns the best
    * (score, segmentation); an uncoverable word ends at the sentinel with
    * no pieces. */
  def unigramViterbi(w: String, logp: Map[String, Double],
                     maxLen: Int): (Double, Vector[String]) = {
    val dp = mutable.ArrayBuffer((0.0, Vector.empty[String]))
    for (i <- 1 to w.length) {
      var best = (-1e18, Vector.empty[String])
      for (j <- math.max(1, i - maxLen + 1) to i) {
        val piece = w.substring(j - 1, i)
        logp.get(piece).foreach { lp =>
          val cand = dp(j - 1)._1 + lp
          if (cand > best._1) best = (cand, dp(j - 1)._2 :+ piece)
        }
      }
      dp += best
    }
    dp.last
  }

  /** Reference unigram-LM trainer: the same seeding, hard-EM, pruning
    * schedule and longest-piece tie-break as text/Unigram.scala, written
    * against the plain collected word counts. Returns (pieces as
    * (piece, count, logp) ordered (count desc, piece asc), per-round
    * corpus losses). */
  def unigramTrain(words: Seq[(String, Long)], seedSize: Int,
                   prunes: Seq[Int], finalRounds: Int,
                   maxLen: Int): (Seq[(String, Long, Double)], Seq[Double]) = {
    val cand = mutable.Map[String, Long]()
    for ((w, n) <- words; i <- 0 until w.length;
         l <- 1 to math.min(maxLen, w.length - i))
      cand(w.substring(i, i + l)) = cand.getOrElse(w.substring(i, i + l), 0L) + n
    var counts: Seq[(String, Long)] =
      cand.toSeq.filter(_._1.length == 1) ++
      cand.toSeq.filter(_._1.length > 1)
        .sortBy { case (p, c) => (-c, p) }.take(seedSize)
    def logp = {
      val total = counts.map(_._2).sum.toDouble
      counts.map { case (p, c) => p -> math.log(c / total) }.toMap
    }
    val losses = Seq.newBuilder[Double]
    for (r <- 1 to prunes.size + finalRounds) {
      val lp = logp
      val agg = mutable.Map[String, Long]()
      var loss = 0.0
      for ((w, n) <- words) {
        val (s, segs) = unigramViterbi(w, lp, maxLen)
        loss -= s * n
        for (p <- segs) agg(p) = agg.getOrElse(p, 0L) + n
      }
      losses += loss
      counts =
        if (r <= prunes.size)
          agg.toSeq.filter(_._1.length == 1) ++
          agg.toSeq.filter(_._1.length > 1)
            .sortBy { case (p, c) => (-c, p) }.take(prunes(r - 1))
        else agg.toSeq
    }
    val lpF = logp
    (counts.map { case (p, c) => (p, c, lpF(p)) }
      .sortBy { case (p, c, _) => (-c, p) }, losses.result())
  }
}
