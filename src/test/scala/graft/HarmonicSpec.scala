package graft

import org.apache.spark.sql.functions._
import graft.operators.{DocGraph, Neighborhood}

/**
 * Exact truncated harmonic centrality must equal a sequential BFS replay:
 * h(v) = Σ scale/dist(u,v) over 1 ≤ dist(u,v) ≤ k along DIRECTED paths
 * u→…→v, each source counted at its minimum distance only, unreached
 * vertices scoring 0 but present.
 */
class HarmonicSpec extends SparkSpec {
  import spark.implicits._

  // deterministic hashed digraph (directed — orientation matters here)
  private val n = 90L
  private val rawEdges: Seq[(Long, Long)] =
    (0L until n).flatMap { i =>
      (0L to i % 4).map(j => (i, (i * 2654435761L + j * 101L + 29L) % n))
    }.filter { case (a, b) => a != b }.distinct

  private val verts: Seq[Long] =
    rawEdges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
  private val out: Map[Long, Seq[Long]] =
    rawEdges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }

  /** forward BFS from u, truncated at k: v -> min dist. */
  private def dists(u: Long, k: Int): Map[Long, Int] = {
    var seen = Map(u -> 0)
    var frontier = Seq(u)
    for (d <- 1 to k) {
      frontier = frontier.flatMap(v => out.getOrElse(v, Nil))
        .distinct.filterNot(seen.contains)
      seen ++= frontier.map(_ -> d)
      if (frontier.isEmpty) frontier = Nil
    }
    seen - u
  }

  private def brute(k: Int, scale: Long): Map[Long, Long] = {
    val acc = scala.collection.mutable.Map(verts.map(_ -> 0L): _*)
    for (u <- verts; (v, d) <- dists(u, k)) acc(v) += scale / d
    acc.toMap
  }

  private def engine(k: Int, scale: Long): Map[Long, Long] = {
    val e = rawEdges.toDF("src", "dst")
    val v = verts.toDF("vid")
    Neighborhood.harmonic(v, DocGraph.lay(e), k, scale)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("harmonic equals the sequential BFS replay at k=1 and k=2") {
    for (k <- Seq(1, 2)) {
      val (b, g) = (brute(k, 6L), engine(k, 6L))
      assert(g == b, s"harmonic diverged at k=$k")
    }
  }

  test("k=3 with LCM scale 6; every vertex present even when unreached") {
    val g = engine(3, 6L)
    assert(g == brute(3, 6L))
    assert(g.keySet == verts.toSet, "output must cover the vertex universe")
  }

  test("a non-divisible scale is refused") {
    intercept[IllegalArgumentException] {
      Neighborhood.harmonic(verts.toDF("vid"), DocGraph.lay(rawEdges.toDF("src", "dst")), 3, 4L)
    }
  }
}
