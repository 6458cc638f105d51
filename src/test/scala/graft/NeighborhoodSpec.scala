package graft

import org.apache.spark.sql.functions._
import org.apache.spark.SparkException

import graft.functions.HllExprs
import graft.operators.{DocGraph, Neighborhood}

/**
 * HLL register primitives + HyperBall against ground truth.
 *
 * BytesMaxAgg is exercised across BOTH aggregation paths (partial update on
 * 8 input partitions, then final merge) and must equal the reference
 * elementwise max exactly — it is idempotent/commutative, so any Spark
 * execution order yields the same bytes.
 */
class NeighborhoodSpec extends SparkSpec {
  import spark.implicits._

  private def refMax(arrs: Seq[Array[Byte]]): Array[Byte] =
    arrs.reduce { (a, b) =>
      require(a.length == b.length)
      a.zip(b).map { case (x, y) => if (x > y) x else y }
    }

  test("BytesMaxAgg equals reference elementwise max across partitions") {
    val rows: Seq[(Long, Array[Byte])] = (0L until 200L).map { i =>
      val bytes = Array.tabulate(16)(j =>
        ((HllExprs.splitmix64(i * 31 + j) >>> 58) & 0x3f).toByte)
      (i % 5, bytes)
    }
    val got = rows.toDF("g", "b").repartition(8)
      .groupBy("g").agg(HllExprs.hllUnionAgg(col("b")).as("m"))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).toMap
    val want = rows.groupBy(_._1).map { case (g, rs) => (g, refMax(rs.map(_._2))) }
    assert(got.keySet == want.keySet)
    for ((g, w) <- want) assert(got(g).sameElements(w), s"group $g diverged")
  }

  test("register width mismatch is a loud error, not a silent prefix union") {
    val df = Seq((1L, Array[Byte](1, 2)), (1L, Array[Byte](3))).toDF("g", "b")
    val ex = intercept[SparkException] {
      df.groupBy("g").agg(HllExprs.hllUnionAgg(col("b"))).collect()
    }
    assert(ex.getMessage.contains("register width mismatch")
      || Option(ex.getCause).exists(_.getMessage.contains("register width mismatch")))
  }

  test("hllInit is deterministic and estimate tracks true cardinality") {
    val a = Seq(Tuple1(42L)).toDF("vid")
      .select(HllExprs.hllInit(col("vid"))).head().getAs[Array[Byte]](0)
    val b = Seq(Tuple1(42L)).toDF("vid")
      .select(HllExprs.hllInit(col("vid"))).head().getAs[Array[Byte]](0)
    assert(a.sameElements(b))
    assert(a.length == HllExprs.M)

    // union K distinct singletons, estimate must land within 15% for the
    // linear-counting regime this engine gates on (K well below 2.5·m)
    for (k <- Seq(10, 40, 120)) {
      val est = (0L until k.toLong).map(Tuple1(_)).toDF("vid")
        .select(lit(1L).as("g"), HllExprs.hllInit(col("vid")).as("r"))
        .groupBy("g").agg(HllExprs.hllUnionAgg(col("r")).as("u"))
        .select(HllExprs.hllEstimate(col("u"))).head().getDouble(0)
      assert(math.abs(est - k) / k < 0.15, s"K=$k est=$est")
    }
  }

  test("hyperBall tracks exactBall on a hub-and-ring graph (mean rel err < 10%)") {
    // ring 0→1→…→299→0 plus a hub every 10th vertex linking to 12 spokes:
    // heterogeneous 2-hop balls (3 for plain ring vertices, up to ~27 at hubs)
    val n = 300L
    val ring = (0L until n).map(i => (i, (i + 1) % n))
    val hubs = (0L until n by 10).flatMap(h => (1L to 12L).map(j => (h, (h + j * 17) % n)))
    val edges = (ring ++ hubs).distinct.filter { case (s, d) => s != d }
      .toDF("src", "dst")
    val verts = graph.GraphOps.vertices(edges)
    val exact = Neighborhood.exactBall(verts, DocGraph.lay(edges), 2)
    val est = Neighborhood.hyperBall(verts, DocGraph.lay(edges, DocGraph.reversed), 2)
    val err = exact.join(est, "vid")
      .select((sum(abs(col("est") - col("ball")) / col("ball")) / count(lit(1))).as("e"))
      .head().getDouble(0)
    assert(err < 0.10, s"mean relative error $err")
    // and the exact side is sane: a pure ring vertex reaches exactly {v, v+1, v+2}
    val ringBall = exact.filter(col("vid") === 1L).head().getLong(1)
    assert(ringBall == 3L)
  }

  test("nfCurve's exact anchors equal per-radius exactBall sums; gates hold") {
    val n = 300L
    val ring = (0L until n).map(i => (i, (i + 1) % n))
    val hubs = (0L until n by 10).flatMap(h => (1L to 12L).map(j => (h, (h + j * 17) % n)))
    val edges = (ring ++ hubs).distinct.filter { case (s, d) => s != d }
      .toDF("src", "dst")
    val verts = graph.GraphOps.vertices(edges)
    val curve = Neighborhood.nfCurve(verts, edges, kExact = 3, k = 4, tol = 0.10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(curve.keySet == Set(1L, 2L, 3L, 4L))
    for (t <- 1 to 3) {
      val want = Neighborhood.exactBall(verts, DocGraph.lay(edges), t)
        .agg(sum(col("ball"))).head().getLong(0)
      assert(curve(t.toLong)._1 == want, s"nf_exact diverged from exactBall sum at t=$t")
      assert(curve(t.toLong)._2, s"HLL gate failed at t=$t")
    }
    assert(curve(4L) == (-1L, true), "estimate-only row wrong")
    // N(t) is monotone nondecreasing in t
    assert(curve(1L)._1 <= curve(2L)._1 && curve(2L)._1 <= curve(3L)._1)
  }
}
