package graft

import graft.text.Unigram
import org.scalatest.funsuite.AnyFunSuite

/** `Unigram.segment`, the one Viterbi of the unigram trainer and encode,
  * chooses the same segmentation as the driver reference
  * (`RefTokenizers.unigramViterbi`): longest piece on ties, an empty
  * result for an uncoverable word. */
class UnigramSpec extends AnyFunSuite {

  private def seg(w: String, lp: Map[String, Double], maxLen: Int): Vector[String] =
    Unigram.segment(w, lp, maxLen).toVector

  test("property: segment picks the reference segmentation over random piece tables") {
    // 'z' never enters a piece table, so words containing it are
    // uncoverable; log-probs come from a small set (ties are common) that
    // includes 0.0; pieces up to 6 chars and words up to 12 chars exceed
    // every maxLen in 1..5.
    val alphabet = "abcd"
    val logps = Vector(0.0, -0.5, -1.0, -1.5, -2.0, -3.0)
    var empty, ties, long = 0
    for (seed <- 1 to 400) {
      val rng = new scala.util.Random(seed)
      val maxLen = 1 + rng.nextInt(5)
      def word(chars: String, upTo: Int): String =
        Seq.fill(1 + rng.nextInt(upTo))(chars(rng.nextInt(chars.length))).mkString
      val table = Seq.fill(1 + rng.nextInt(12))(word(alphabet, 6))
        .map(_ -> logps(rng.nextInt(logps.size))).toMap
      for (_ <- 1 to 20) {
        val w = word(if (rng.nextInt(8) == 0) alphabet + "z" else alphabet, 12)
        val (_, exp) = RefTokenizers.unigramViterbi(w, table, maxLen)
        val got = seg(w, table, maxLen)
        assert(got == exp,
          s"seed $seed: '$w' under $table (maxLen $maxLen) gave $got, reference $exp")
        if (exp.isEmpty) empty += 1
        if (w.length > maxLen) long += 1
        if (exp.exists(p => p.length > 1 && p.indices.drop(1).exists(k =>
            table.get(p.take(k)).zip(table.get(p.drop(k)))
              .exists { case (a, b) => a + b == table(p) })))
          ties += 1
      }
    }
    assert(empty > 0 && ties > 0 && long > 0,
      s"generator missed a case: $empty uncoverable, $ties ties, $long long words")
  }

  test("ties keep the longest piece, also at logp 0.0; a missing char leaves the word uncoverable") {
    val lp = Map("a" -> -1.0, "b" -> -1.0, "ab" -> -2.0)
    assert(seg("ab", lp, 2) == Vector("ab"))
    assert(seg("ab", lp, 1) == Vector("a", "b"))
    assert(seg("aa", Map("a" -> 0.0, "aa" -> 0.0), 4) == Vector("aa"))
    assert(seg("abz", lp, 4).isEmpty)
    assert(seg("", lp, 4).isEmpty)
  }

  test("characters are code points, as Spark's substr counts them") {
    val lp = Map("a" -> -1.0, "😀" -> -1.0, "a😀" -> -1.5)
    assert(seg("a😀", lp, 1) == Vector("a", "😀"))
    assert(seg("a😀", lp, 2) == Vector("a😀"))
  }
}
