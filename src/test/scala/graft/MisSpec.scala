package graft

import org.apache.spark.sql.functions._
import graft.graph.GraphOps
import graft.operators.DocGraph

/**
 * Luby MIS must equal a sequential simulation of the SAME derandomized
 * rounds exactly (the hash priority makes the algorithm a deterministic
 * function of the graph), and at convergence the status-1 set must be a
 * genuine maximal independent set: no edge inside it, every other vertex
 * dominated by it.
 */
class MisSpec extends SparkSpec {
  import spark.implicits._

  private val P = 1000000007L
  private def pri(v: Long): Long = (v * 2654435761L + 17L) % P

  // deterministic fixture: hashed pseudo-random graph + an isolated-ish tail
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

  /** Sequential replay of k derandomized Luby rounds: vid -> 0/1/2. */
  private def brute(k: Int): Map[Long, Long] = {
    var st = verts.map(v => v -> 0L).toMap
    for (_ <- 1 to k) {
      val active = st.filter(_._2 == 0L).keySet
      val win = active.filter { v =>
        val an = nbrs(v).filter(active)
        an.isEmpty || an.forall(u => pri(v) < pri(u))
      }
      val rm = win.flatMap(nbrs).filter(active) -- win
      st = st.map { case (v, s) =>
        v -> (if (s != 0L) s else if (win(v)) 1L else if (rm(v)) 2L else 0L)
      }
    }
    st
  }

  private def engine(k: Int): Map[Long, Long] = {
    val e = rawEdges.toDF("src", "dst")
    DocGraph.misIterLaid(DocGraph.lay(e, GraphOps.symmetrized), k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("misIter equals the sequential derandomized replay at k=1,2,4") {
    for (k <- Seq(1, 2, 4))
      assert(engine(k) == brute(k), s"MIS state diverged at k=$k")
  }

  test("at convergence: independent, maximal, no vertex left active") {
    val st = engine(12)
    assert(st.values.forall(_ != 0L), "active vertices remain after 12 rounds")
    val mis = st.filter(_._2 == 1L).keySet
    assert(und.forall { case (a, b) => !(mis(a) && mis(b)) },
      "an edge has both endpoints in the MIS")
    assert(st.filter(_._2 == 2L).keySet.forall(v => nbrs(v).exists(mis)),
      "a removed vertex has no MIS neighbor (not maximal)")
  }
}
