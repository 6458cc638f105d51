package graft

import org.apache.spark.sql.functions._
import graft.graph.GraphOps
import graft.operators.DocGraph

/**
 * Luby-coloring must equal a sequential simulation of the SAME
 * derandomized rounds exactly (the hash priority makes each round a
 * deterministic function of the residual graph), and the result must be
 * a PROPER partial coloring: no edge joins two vertices of the same
 * non-zero color, and colors only come from [1, k].
 */
class ColorSpec extends SparkSpec {
  import spark.implicits._

  private val P = 1000000007L
  private def pri(v: Long): Long = (v * 2654435761L + 17L) % P

  // same fixture family as MisSpec: hashed pseudo-random graph
  private val n = 120L
  private val rawEdges: Seq[(Long, Long)] =
    (0L until n).flatMap { i =>
      (0L to i % 5).map(j => (i, (i * 2654435761L + j * 97L + 13L) % n))
    }.filter { case (a, b) => a != b }

  private val und: Set[(Long, Long)] =
    rawEdges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
  private val verts: Seq[Long] =
    und.flatMap(e => Seq(e._1, e._2)).toSeq.distinct.sorted
  private def nbrs(v: Long): Set[Long] =
    und.collect { case (a, b) if a == v => b; case (a, b) if b == v => a }

  /** Sequential replay of k derandomized coloring rounds: vid -> color. */
  private def brute(k: Int): Map[Long, Long] = {
    var st = verts.map(v => v -> 0L).toMap
    for (i <- 1 to k) {
      val active = st.filter(_._2 == 0L).keySet
      val win = active.filter { v =>
        val an = nbrs(v).filter(active)
        an.isEmpty || an.forall(u => pri(v) < pri(u))
      }
      st = st.map { case (v, c) => v -> (if (c != 0L) c else if (win(v)) i.toLong else 0L) }
    }
    st
  }

  private def engine(k: Int): Map[Long, Long] = {
    val e = rawEdges.toDF("src", "dst")
    DocGraph.colorIterLaid(DocGraph.lay(e, GraphOps.symmetrized), k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("colorIter equals the sequential derandomized replay at k=1,2,4") {
    for (k <- Seq(1, 2, 4))
      assert(engine(k) == brute(k), s"coloring state diverged at k=$k")
  }

  test("the partial coloring is proper and, at convergence, total") {
    val st = engine(16)
    assert(st.values.forall(c => c >= 0L && c <= 16L), "color out of [0, k]")
    assert(st.values.forall(_ != 0L), "uncolored vertices remain after 16 rounds")
    assert(und.forall { case (a, b) => st(a) != st(b) },
      "an edge joins two vertices of the same color")
  }
}
