package graft

import graft.operators.Components
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Connected components (operators/Components.scala): the star
  * contraction must land on the textbook transitive closure for every
  * graph shape — chains (diameter stress), cliques (the dup-cluster shape),
  * self-pairs, and seeded random graphs checked against a driver-side
  * union-find, in one task and split across many. */
class ComponentsSpec extends AnyFunSuite {
  import SparkFixture._

  // By default ONE pair per task: each task's union-find then sees a
  // single edge, so the star rounds do all the contraction and a round
  // budget means what it says whatever the core count.
  private def run(pairs: Seq[(Long, Long)], maxIters: Int = 25,
                  tasks: Int = 0): Map[Long, Long] = {
    import spark.implicits._
    val slices = if (tasks > 0) tasks else math.max(1, pairs.size)
    try {
      Components.connectedComponents(
          spark.sparkContext.parallelize(pairs, slices).toDF("a", "b"),
          "a", "b", maxIters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    } finally graft.operators.ScaleOps.releaseTracked()
  }

  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("chain: labels propagate across the full diameter") {
    val got = run(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)))
    assert(got == (1L to 6L).map(_ -> 1L).toMap)
  }

  test("two cliques stay separate components") {
    val got = run(Seq((10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)))
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("empty pair set yields an empty result, not an error") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Components.connectedComponents(empty, "a", "b").isEmpty)
    graft.operators.ScaleOps.releaseTracked()
  }

  test("exhausting the round budget fails loudly instead of returning wrong labels") {
    // A 96-link chain needs more than 2 star rounds; a 2-round budget must
    // throw (a silent return would be a wrong transitive closure), and a
    // sufficient budget must converge to the single component.
    val chain = (1L until 97L).map(i => (i, i + 1))
    val e = intercept[IllegalStateException] { run(chain, maxIters = 2) }
    assert(e.getMessage.contains("did not converge"))
    assert(run(chain, maxIters = 10) == (1L to 97L).map(_ -> 1L).toMap)
  }

  test("star contraction: chain, cliques, self-pair — same labels as union-find") {
    // A 60-link chain under a 20-round budget: one round per link (label
    // propagation) could not meet it.
    val chain = (1L until 61L).map(i => (i, i + 1))
    assert(run(chain, maxIters = 20) == (1L to 61L).map(_ -> 1L).toMap)
    // The dup-cluster shape: cliques plus a node whose only pair is a
    // self-pair, which must still label itself.
    val cliques = Seq((10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L), (30L, 30L))
    assert(run(cliques) == unionFind(cliques))
    assert(run(Seq((1L, 2L), (7L, 7L))) == Map(1L -> 1L, 2L -> 1L, 7L -> 7L))
    assert(run(Seq.empty).isEmpty)
  }

  test("star contraction converges in O(log d) rounds on a long chain") {
    // Diameter 96: propagation would need ~95 rounds; star contraction
    // must crack it within a LOGARITHMIC budget (2^10 >> 96).
    val chain = (1L until 97L).map(i => (i, i + 1))
    assert(run(chain, maxIters = 10) == (1L to 97L).map(_ -> 1L).toMap)
  }

  private val graphGen = {
    import org.scalacheck.Gen
    for {
      nNodes <- Gen.choose(2, 30)
      nEdges <- Gen.choose(1, 40)
      edges <- Gen.listOfN(nEdges, for {
        a <- Gen.choose(0, nNodes - 1)
        b <- Gen.choose(0, nNodes - 1)
      } yield (a.toLong, b.toLong))
    } yield edges.filter(e => e._1 != e._2)
  }

  private def randomGraph(seed: Long): Seq[(Long, Long)] =
    graphGen.pureApply(org.scalacheck.Gen.Parameters.default,
      org.scalacheck.rng.Seed(seed)).distinct

  test("property: star contraction == union-find on seeded random graphs") {
    (1 to 3).foreach { i =>
      val pairs = randomGraph(100L + i)
      if (pairs.nonEmpty)
        assert(run(pairs) == unionFind(pairs), s"seed ${100 + i}")
    }
  }

  test("property: components == driver union-find on seeded random graphs") {
    // Three tasks: each task's union-find contracts a piece of the graph
    // before the star rounds join the pieces.
    (1 to 5).foreach { i =>
      val pairs = randomGraph(i.toLong)
      if (pairs.nonEmpty) {
        val got = run(pairs, tasks = 3)
        val exp = unionFind(pairs)
        assert(got == exp, s"seed $i: got=$got exp=$exp pairs=$pairs")
      }
    }
  }

  private def runIncr(oldPairs: Seq[(Long, Long)],
                      newPairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    incr(oldPairs.toDF("a", "b"), newPairs.toDF("a", "b"))
  }

  private def incr(oldPairs: DataFrame, newPairs: DataFrame): Map[Long, Long] =
    try {
      val labels = Components.connectedComponents(oldPairs, "a", "b")
      Components.incrementalComponents(labels, newPairs, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    } finally graft.operators.ScaleOps.releaseTracked()

  test("incremental fold: merge two standing components, attach new nodes, chain through the batch") {
    // Standing: {1,2,3} and {10,11}; batch pair (3,10) must merge them,
    // (20,21) must enter as a fresh component, and (21,11) must chain the
    // fresh pair into the merged giant — all through ONE fold.
    val got = runIncr(
      oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)),
      newPairs = Seq((3L, 10L), (20L, 21L), (21L, 11L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L,
      20L -> 1L, 21L -> 1L))
    // A new node with a SMALLER id than the standing minimum must become
    // the merged component's label (labels are min-reachable-id, not
    // first-seen).
    assert(runIncr(Seq((5L, 6L)), Seq((2L, 6L))) ==
      Map(2L -> 2L, 5L -> 2L, 6L -> 2L))
    // Empty batch: standing labels pass through untouched.
    assert(runIncr(Seq((1L, 2L), (7L, 8L)), Seq.empty) ==
      Map(1L -> 1L, 2L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("property: incremental fold == backfill closure on seeded random splits") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val graphGen = for {
      nNodes <- Gen.choose(2, 30)
      nEdges <- Gen.choose(2, 40)
      edges <- Gen.listOfN(nEdges, for {
        a <- Gen.choose(0, nNodes - 1)
        b <- Gen.choose(0, nNodes - 1)
      } yield (a.toLong, b.toLong))
      splitAt <- Gen.choose(0, nEdges)
    } yield (edges.filter(e => e._1 != e._2).distinct, splitAt)
    (1 to 5).foreach { i =>
      val (pairs, splitAt) = graphGen.pureApply(Gen.Parameters.default,
        Seed(500L + i))
      val (oldP, newP) = pairs.splitAt(math.min(splitAt, pairs.length))
      if (oldP.nonEmpty && pairs.nonEmpty) {
        val exp = unionFind(pairs)
        val got = runIncr(oldP, newP)
        assert(got == exp, s"seed ${500 + i}: got=$got exp=$exp old=$oldP new=$newP")
      }
    }
  }

  test("mixed graph split across tasks: backfill and incremental fold == union-find") {
    import spark.implicits._
    // Cliques, a 70-link chain and self-pairs in one graph, written as
    // several files so every component's pairs land in several tasks:
    // each task's union-find sees only pieces, and the star rounds must
    // join them.
    val cliques = for {
      c <- 0L until 6L; i <- 0L until 5L; j <- (i + 1) until 5L
    } yield (1000L + 10 * c + i, 1000L + 10 * c + j)
    val chain = (1L until 71L).map(i => (i, i + 1))
    val selfPairs = Seq((500L, 500L), (501L, 501L), (3L, 3L))
    val pairs = new scala.util.Random(7L).shuffle(cliques ++ chain ++ selfPairs)
    val dir = java.nio.file.Files.createTempDirectory("graft-components-split")
    def written(name: String, ps: Seq[(Long, Long)]): DataFrame = {
      ps.toDF("a", "b").repartition(6).write.parquet(s"$dir/$name")
      spark.read.parquet(s"$dir/$name")
    }
    val all = written("all", pairs)
    val (oldP, newP) = pairs.splitAt(pairs.length / 2)
    val (oldDf, newDf) = (written("old", oldP), written("new", newP))
    val exp = unionFind(pairs)
    withSplitScans {
      assert(all.rdd.getNumPartitions > 1)
      val got = try {
        Components.connectedComponents(all, "a", "b", maxIters = 10)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      } finally graft.operators.ScaleOps.releaseTracked()
      assert(got == exp, s"backfill: got=$got")
      val gotIncr = incr(oldDf, newDf)
      assert(gotIncr == exp, s"incremental fold: got=$gotIncr")
    }
  }
}
