package graft

import graft.operators.DocGraph

/**
 * Truncated Katz must equal the walk-count recurrence replayed sequentially
 * (acc_i = 8·acc_{i-1} + w_i, w_i = A^T w_{i-1}, w_0 ≡ 1), and degenerate
 * correctly: at k=1 the scaled score IS the in-degree.
 */
class KatzSpec extends SparkSpec {
  import spark.implicits._

  private val n = 150L
  private val rawEdges: Seq[(Long, Long)] =
    (0L until n).flatMap { i =>
      (0L to i % 4).map(j => (i, (i * 2654435761L + j * 97L + 13L) % n))
    }.filter { case (a, b) => a != b }.distinct

  private val verts: Seq[Long] = rawEdges.flatMap(e => Seq(e._1, e._2)).distinct.sorted

  private def brute(k: Int): Map[Long, Long] = {
    var w = verts.map(v => v -> 1L).toMap
    var acc = verts.map(v => v -> 0L).toMap
    for (_ <- 1 to k) {
      val wn = rawEdges.groupBy(_._2).map { case (v, es) => v -> es.map(e => w(e._1)).sum }
      w = verts.map(v => v -> wn.getOrElse(v, 0L)).toMap
      acc = verts.map(v => v -> (acc(v) * 8L + w(v))).toMap
    }
    acc
  }

  private def engine(k: Int): Map[Long, Long] = {
    val e = rawEdges.toDF("src", "dst")
    DocGraph.katzIterLaid(DocGraph.lay(e), k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("katzIter equals the sequential walk-count replay at k=1,2,4") {
    for (k <- Seq(1, 2, 4))
      assert(engine(k) == brute(k), s"Katz accumulators diverged at k=$k")
  }

  test("k=1 degenerates to in-degree") {
    val indeg = rawEdges.groupBy(_._2).map { case (v, es) => v -> es.size.toLong }
    val want = verts.map(v => v -> indeg.getOrElse(v, 0L)).toMap
    assert(engine(1) == want)
  }
}
