package graft

import graft.operators.DocGraph

/**
 * Derandomized greedy maximal matching must equal a sequential simulation of
 * the SAME rounds exactly (the (hp, a, b) total order makes it a pure
 * function of the graph), and at convergence the mate map must be a genuine
 * maximal matching: symmetric, vertex-disjoint, and no edge left with both
 * endpoints unmatched.
 */
class MatchSpec extends SparkSpec {
  import spark.implicits._

  private val P = 1000000007L
  private def hp(a: Long, b: Long): Long =
    ((a * 2654435761L + 17L) % P + (b * 40503L + 29L) % P) % P

  // deterministic fixture: hashed pseudo-random graph with hub overlap so
  // several rounds are needed (priorities collide across rounds' frontiers)
  private val n = 130L
  private val rawEdges: Seq[(Long, Long)] =
    (0L until n).flatMap { i =>
      (0L to i % 5).map(j => (i, (i * 2654435761L + j * 97L + 13L) % n))
    }.filter { case (a, b) => a != b }

  private val und: Set[(Long, Long)] =
    rawEdges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
  private val verts: Seq[Long] = und.flatMap(e => Seq(e._1, e._2)).toSeq.distinct.sorted

  /** Sequential replay of k matching rounds: vid -> mate or -1. */
  private def brute(k: Int): Map[Long, Long] = {
    var mate = Map.empty[Long, Long]
    for (_ <- 1 to k) {
      val active = und.filter { case (a, b) => !mate.contains(a) && !mate.contains(b) }
      def pri(e: (Long, Long)): (Long, Long, Long) = (hp(e._1, e._2), e._1, e._2)
      // per-vertex minimum incident active edge by (hp, a, b)
      val vmin: Map[Long, (Long, Long)] = active.toSeq
        .flatMap(e => Seq(e._1 -> e, e._2 -> e))
        .groupBy(_._1).map { case (v, xs) =>
          v -> xs.map(_._2).minBy(pri)
        }
      val win = active.filter(e => vmin(e._1) == e && vmin(e._2) == e)
      win.foreach { case (a, b) => mate += (a -> b, b -> a) }
    }
    verts.map(v => v -> mate.getOrElse(v, -1L)).toMap
  }

  private def engine(k: Int): Map[Long, Long] = {
    val e = rawEdges.toDF("src", "dst")
    DocGraph.matchIterLaid(DocGraph.lay(e, DocGraph.canonical), k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("matchIter equals the sequential replay at k=1,2,4") {
    for (k <- Seq(1, 2, 4))
      assert(engine(k) == brute(k), s"matching diverged at k=$k")
  }

  test("at convergence: symmetric, vertex-disjoint, maximal") {
    val m = engine(12)
    val matched = m.filter(_._2 >= 0L)
    // symmetric and an involution (vertex-disjointness follows: mate is a map)
    matched.foreach { case (v, u) =>
      assert(m(u) == v, s"mate($v)=$u but mate($u)=${m(u)}")
      assert(u != v, s"self-match at $v")
    }
    // every matched pair is an actual edge
    matched.foreach { case (v, u) =>
      if (v < u) assert(und((v, u)), s"matched non-edge ($v,$u)")
    }
    // maximal: no edge with both endpoints unmatched
    assert(und.forall { case (a, b) => m(a) >= 0L || m(b) >= 0L },
      "an edge has both endpoints unmatched (not maximal)")
  }
}
