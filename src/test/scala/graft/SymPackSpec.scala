package graft

import graft.text.SymPack
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The packed symbol form (text/SymPack) is total: symbols containing the
  * marker char U+0001, the escape char U+0002 or its partner U+0003 pack,
  * merge and unpack exactly as the driver array fold does, escaping keeps
  * Spark's string order, and both trainers built on the packed form equal
  * their driver references on marker-bearing corpora. */
class SymPackSpec extends AnyFunSuite {
  import SparkFixture._
  import spark.implicits._

  private val alphabet = Vector("\u0001", "\u0002", "\u0003", "#", "é", "a", "b")

  private def randomSym(rng: scala.util.Random): String =
    Seq.fill(1 + rng.nextInt(2))(alphabet(rng.nextInt(alphabet.size))).mkString

  test("property: pack → mergeStep* → unpack equals the driver array fold; packedSize equals its length") {
    for (seed <- 1 to 6) {
      val rng = new scala.util.Random(seed)
      val arrays = Vector.fill(400)(
        Vector.fill(1 + rng.nextInt(8))(randomSym(rng)))
      // Rules drawn from adjacent pairs that are present after the earlier
      // rules, so most of them fire somewhere.
      val rules = (1 to 6).foldLeft(Vector.empty[(String, String, String)]) {
        (acc, _) =>
          val withPairs = arrays.map(RefTokenizers.mergeAll(_, acc))
            .filter(_.length >= 2)
          if (withPairs.isEmpty) acc
          else {
            val syms = withPairs(rng.nextInt(withPairs.size))
            val i = rng.nextInt(syms.length - 1)
            acc :+ ((syms(i), syms(i + 1), syms(i) + syms(i + 1)))
          }
      }
      assert(rules.nonEmpty)
      val ms = SymPack.mergeAll(SymPack.pack(col("syms")), rules)
      val got = arrays.zipWithIndex.toDF("syms", "i")
        .select(col("i"), SymPack.unpack(ms).as("out"), SymPack.packedSize(ms).as("n"))
        .collect().map(r => (r.getInt(0), (r.getSeq[String](1).map(SymPack.unescape).toVector, r.getLong(2))))
        .toMap
      for ((syms, i) <- arrays.zipWithIndex) {
        val exp = RefTokenizers.mergeAll(syms, rules)
        assert(got(i) == ((exp, exp.length.toLong)),
          s"seed $seed: $syms under $rules gave ${got(i)}, fold gave $exp")
      }
    }
  }

  test("escaping is injective, marker-free, matches its driver twin and keeps Spark's string order") {
    val rng = new scala.util.Random(7)
    val chars = alphabet ++ Vector("\u0000", "z", "￿", "😀")
    val raw = Vector.fill(2000)(
      Seq.fill(rng.nextInt(5))(chars(rng.nextInt(chars.size))).mkString).distinct
    // The column escape, read back through a one-symbol pack.
    val esc = raw.toDF("s")
      .select(col("s"), element_at(SymPack.unpack(SymPack.pack(array(col("s")))), 1).as("e"))
    val pairs = esc.collect().map(r => (r.getString(0), r.getString(1))).toMap
    for ((s, e) <- pairs) {
      assert(e == SymPack.escape(s), s"column and driver escapes differ on ${s.map(_.toInt)}")
      assert(!e.contains(SymPack.M))
      assert(SymPack.unescape(e) == s)
    }
    assert(pairs.values.toSet.size == pairs.size, "escape is not injective")
    val byRaw = esc.orderBy(col("s")).collect().map(_.getString(0)).toSeq
    val byEsc = esc.orderBy(col("e")).collect().map(_.getString(0)).toSeq
    assert(byRaw == byEsc, "escaping changed Spark's string order")
  }

  /** Distinct words over the marker-bearing alphabet with seeded counts,
    * plus planted words whose marker pairs dominate the early merges. */
  private def markerWords: Seq[(String, Long)] = {
    val rng = new scala.util.Random(11)
    val random = Seq.fill(80)(
      Seq.fill(1 + rng.nextInt(6))(alphabet(rng.nextInt(alphabet.size))).mkString
        -> (1L + rng.nextInt(20)))
    val planted = Seq("\u0001\u0001" -> 60L, "a\u0001b" -> 45L, "\u0002\u0001" -> 45L,
      "\u0001\u0002\u0003" -> 30L, "#\u0001#" -> 25L, "é\u0002" -> 25L)
    (random ++ planted).toMap.toSeq.sortBy(_._1)
  }

  test("BPE (charSyms) on marker-bearing words equals the driver reference") {
    val words = markerWords
    val got = queries.LlmOps.trainBpeMerges(words.toDF("w", "n"), steps = 12)
    graft.operators.ScaleOps.releaseTracked()
    val exp = RefTokenizers.bpe(
      words.map { case (w, n) => (w.map(_.toString).toVector :+ "</w>", n) }, steps = 12)
    assert(got == exp, s"packed BPE diverges:\n$got\nvs\n$exp")
    assert(got.exists { case (_, a, b, _, _) => (a + b).contains(SymPack.M) },
      "no learned rule involves the marker char; the corpus does not exercise the escape")
  }

  test("WordPiece on marker-bearing words equals the driver reference; so does its final vocabulary") {
    val words = markerWords
    val df = words.toDF("w", "n")
    val got = graft.text.WordPiece.train(df, steps = 12)
    graft.operators.ScaleOps.releaseTracked()
    val exp = RefTokenizers.wordPiece(words, steps = 12)
    assert(got == exp, s"packed WordPiece diverges (first diff: " +
      s"${got.zip(exp).find(x => x._1 != x._2)})")
    assert(got.exists { case (_, a, b, _, _) => (a + b).contains(SymPack.M) },
      "no learned rule involves the marker char; the corpus does not exercise the escape")
    val rules = exp.map { case (_, a, b, m, _) => (a, b, m) }
    val expVocab = words.flatMap { case (w, _) =>
      RefTokenizers.mergeAll(RefTokenizers.wordPieceSyms(w), rules) ++
        RefTokenizers.wordPieceSyms(w) }.toSet
    assert(graft.text.WordPiece.finalSymbols(df, got) == expVocab)
  }
}
