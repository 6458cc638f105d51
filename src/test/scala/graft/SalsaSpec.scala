package graft

import org.apache.spark.sql.functions._
import graft.operators.DocGraph

/**
 * SALSA invariants that hold EXACTLY in floating point, plus a replay
 * parity check: on a directed cycle every degree is 1, every contribution
 * is the full score, and both scores stay exactly 1.0 forever; on an
 * arbitrary graph each half-step is a stochastic multiply, so authority
 * mass after step 1 equals the count of non-dangling vertices.
 */
class SalsaSpec extends SparkSpec {
  import spark.implicits._

  private val n = 100L
  private val rawEdges: Seq[(Long, Long)] =
    (0L until n).flatMap { i =>
      (0L to i % 4).map(j => (i, (i * 2654435761L + j * 113L + 19L) % n))
    }.filter { case (a, b) => a != b }.distinct

  test("directed cycle: scores are exactly 1.0 at every k") {
    val cyc = (0L until 12L).map(i => (i, (i + 1) % 12))
    for (k <- Seq(1, 3)) {
      val rows = DocGraph.salsaIterLaid(DocGraph.lay(cyc.toDF("src", "dst")), k).collect()
      assert(rows.length == 12)
      assert(rows.forall(r => r.getLong(1) == 10000000L && r.getLong(2) == 10000000L),
        s"cycle scores drifted at k=$k: ${rows.take(3).mkString(",")}")
    }
  }

  test("authority mass after one step equals the non-dangling count") {
    val out = DocGraph.salsaIterLaid(DocGraph.lay(rawEdges.toDF("src", "dst")), 1)
      .agg(sum(col("salsa_a1e7"))).collect()(0).getLong(0)
    val nonDangling = rawEdges.map(_._1).distinct.size
    // each pinned score is floor(a*1e7 + 0.500001): the sum is the mass
    // times 1e7 up to one rounding unit per vertex
    val verts = rawEdges.flatMap(e => Seq(e._1, e._2)).distinct.size
    assert(math.abs(out - nonDangling * 10000000L) <= verts,
      s"mass not conserved: pinned sum $out vs ${nonDangling * 10000000L}")
  }

  test("sequential replay parity on the pinned e7 scores") {
    val verts = rawEdges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val od = rawEdges.groupBy(_._1).view.mapValues(_.size).toMap
    val id = rawEdges.groupBy(_._2).view.mapValues(_.size).toMap
    var h = verts.map(_ -> 1.0).toMap
    var a = Map.empty[Long, Double]
    for (_ <- 1 to 2) {
      a = verts.map(v => v -> 0.0).toMap
      for ((u, v) <- rawEdges) a += v -> (a(v) + h(u) / od(u))
      h = verts.map(v => v -> 0.0).toMap
      for ((u, v) <- rawEdges) h += u -> (h(u) + a(v) / id(v))
    }
    def pin(x: Double): Long = math.floor(x * 1e7 + 0.500001).toLong
    val got = DocGraph.salsaIterLaid(DocGraph.lay(rawEdges.toDF("src", "dst")), 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val want = verts.map(v => v -> ((pin(a(v)), pin(h(v))))).toMap
    assert(got == want, "pinned SALSA scores diverged from the replay")
  }
}
