package graft.operators

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Correctness and round-complexity of the alternating
  * large-star/small-star connected-components operator. Labels are
  * checked against a driver-side union-find on graphs small enough to
  * enumerate; the round count is pinned to the O(log n) regime on the
  * worst natural case (a long chain), which plain min-label flooding
  * would need O(n) rounds for.
  */
class ConnectedComponentsSpec extends AnyFunSuite with SparkSuite {

  /** Driver-side union-find oracle. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonical label = min member of the component
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ms) => ms.map(_ -> ms.min) }.toMap
  }

  private def ccOf(edges: Seq[(Long, Long)], maxIter: Int = 30): (Map[Long, Long], Int) = {
    import spark.implicits._
    val (df, rounds) =
      ConnectedComponents.runWithStats(edges.toDF("src", "dst"), maxIter)
    (df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
  }

  test("chain of 64 nodes collapses to one component in O(log n) rounds") {
    val edges = (0L until 63L).map(i => (i, i + 1))
    val (got, rounds) = ccOf(edges)
    assert(got == (0L to 63L).map(_ -> 0L).toMap)
    // log2(64) = 6; the alternation bound is O(log^2 n) worst-case but
    // converges in ~log n in practice — 15 leaves real headroom while
    // still failing loudly if the contraction ever degrades to O(n)
    assert(rounds <= 15, s"took $rounds rounds for a 64-chain")
  }

  test("disjoint components, reversed edges, duplicates and self-loops") {
    val edges = Seq[(Long, Long)](
      (5, 2), (2, 5), (2, 9),          // component {2,5,9}
      (100, 100),                      // self-loop only: drops out
      (40, 41), (41, 40), (40, 41),    // component {40,41}
      (7, 7), (7, 30))                 // component {7,30}
    val (got, _) = ccOf(edges)
    assert(got == Map(2L -> 2L, 5L -> 2L, 9L -> 2L,
      40L -> 40L, 41L -> 40L, 7L -> 7L, 30L -> 7L))
  }

  test("star centered on the largest id still labels by component min") {
    val edges = (1L to 20L).map(i => (999L, i))
    val (got, _) = ccOf(edges)
    assert(got.values.toSet == Set(1L))
    assert(got.keySet == ((1L to 20L).toSet + 999L))
  }

  test("empty and self-loop-only edge sets yield no components") {
    val (got1, _) = ccOf(Seq.empty)
    assert(got1.isEmpty)
    val (got2, _) = ccOf(Seq((7L, 7L), (9L, 9L)))
    assert(got2.isEmpty)
  }

  test("random graphs match a union-find oracle") {
    val rng = new scala.util.Random(4242)
    for (trial <- 1 to 3) {
      val n = 120 + trial * 40
      val edges = Seq.fill(n)((rng.nextInt(200).toLong, rng.nextInt(200).toLong))
        .filter(e => e._1 != e._2)
      val (got, rounds) = ccOf(edges)
      assert(got == unionFind(edges), s"trial $trial labels diverge")
      assert(rounds <= 15, s"trial $trial took $rounds rounds")
    }
  }
}
