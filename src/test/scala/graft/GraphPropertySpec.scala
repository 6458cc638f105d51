package graft

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.graph._

/**
 * Property tests on seeded random graphs against driver-side (plain Scala)
 * oracles (SURVEY.md §6.3): Σpr = 1 every run, PageRank matches a sequential
 * reference implementation, CC matches BFS, triangles match brute force.
 */
class GraphPropertySpec extends SparkSpec {
  import spark.implicits._

  /** sequential reference PageRank — independent of the engine code path. */
  def refPageRank(edges: Seq[(Long, Long)], d: Double = 0.85,
                  eps: Double = 1e-10, maxIter: Int = 300): Map[Long, Double] = {
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n     = verts.size
    val out   = edges.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var r     = verts.map(_ -> 1.0 / n).toMap
    var it    = 0
    var l1    = Double.MaxValue
    while (l1 >= eps && it < maxIter) {
      val dm  = verts.filter(v => !out.contains(v)).map(r).sum
      val acc = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      edges.foreach { case (s, t) => acc(t) += r(s) / out(s) }
      val nr = verts.map(v => v -> ((1 - d) / n + d * (acc(v) + dm / n))).toMap
      l1 = verts.map(v => math.abs(nr(v) - r(v))).sum
      r = nr; it += 1
    }
    r
  }

  def refCc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    def add(a: Long, b: Long): Unit = adj.getOrElseUpdate(a, mutable.Set.empty) += b
    edges.foreach { case (s, t) => add(s, t); add(t, s) }
    val verts = adj.keys.toSeq.sorted
    val label = mutable.Map.empty[Long, Long]
    verts.foreach { v =>
      if (!label.contains(v)) {
        val q = mutable.Queue(v); label(v) = v
        while (q.nonEmpty) {
          val u = q.dequeue()
          adj(u).foreach(w => if (!label.contains(w)) { label(w) = v; q.enqueue(w) })
        }
      }
    }
    label.toMap
  }

  def refTriangles(edges: Seq[(Long, Long)]): Long = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val set = und.toSet
    val vs  = und.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    (for {
      i <- vs.indices; j <- (i + 1) until vs.size if set((vs(i), vs(j)))
      k <- (j + 1) until vs.size
      if set((vs(i), vs(k))) && set((vs(j), vs(k)))
    } yield 1).size.toLong
  }

  def randomGraph(seed: Int, n: Int, m: Int): Seq[(Long, Long)] = {
    val rnd = new Random(seed)
    (1 to m).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2).distinct
  }

  for (seed <- Seq(11, 23, 47)) {
    test(s"random graph seed=$seed: PageRank/CC/triangles match sequential oracles") {
      val edges = randomGraph(seed, 40, 120)
      val df    = edges.toDF("src", "dst")

      val res = PageRank.run(spark, df, PageRankConfig(eps = 1e-10, numPartitions = 4))
      val got = res.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val want = refPageRank(edges)
      assert(math.abs(got.values.sum - 1.0) < 1e-9, "Σpr must be 1")
      assert(got.keySet == want.keySet)
      want.foreach { case (v, p) => assert(math.abs(got(v) - p) < 1e-6, s"vid=$v") }

      val gotCc = ConnectedComponents.run(spark, df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // HashMin labels are the min id of the component — same as BFS-from-min
      val wantCc = refCc(edges)
      val canonical = wantCc.groupBy(_._2).flatMap { case (_, m) =>
        val mn = m.keys.min; m.keys.map(_ -> mn)
      }
      assert(gotCc == canonical)

      // O(log n)-round alternating variant: exactly the same labels
      val gotAlt = ConnectedComponents.runAlternating(spark, df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotAlt == canonical)

      assert(Triangles.countTriangles(spark, df) == refTriangles(edges))
    }
  }

  test("PageRank under AQE: the same input gives a bit-identical L1 trail and superstep count") {
    val edges = graft.sources.PageSynth.edgeList(spark, 2000L, 7L).toDF()
    def trail(): (Int, Seq[Long]) = {
      val res = PageRank.run(spark, edges, PageRankConfig(eps = 1e-6, numPartitions = 4, ckptEvery = 0))
      GraphOps.freeCheckpoint(res.ranks)
      (res.iterations, res.metrics.map(m => java.lang.Double.doubleToRawLongBits(m.l1)))
    }
    val (itA, a) = trail()
    val (itB, b) = trail()
    assert(itA == itB && itA > 5, s"supersteps $itA then $itB")
    assert(a == b, "L1 trails differ between two runs of the same input")
  }

  test("empty edge table: PageRank, CC and LP return empty results") {
    val e = Seq.empty[(Long, Long)].toDF("src", "dst")
    val pr = PageRank.run(spark, e)
    assert(pr.iterations == 0 && pr.metrics.isEmpty && pr.hubCount == 0)
    assert(pr.ranks.columns.toSeq == Seq("vid", "rank") && pr.ranks.count() == 0)
    assert(ConnectedComponents.run(spark, e).count() == 0)
    assert(LabelPropagation.run(spark, e).count() == 0)
    robustnessMatrix(spark)
  }

  test("the robustness matrix in the shuffle regime: a broadcast-disabled session") {
    robustnessMatrix(noBroadcast)
  }

  /** Every superstep-kernel driver, SCC, condensation layering, truss
    * peeling, the neighbourhood balls and PageRank over the empty table, a
    * self-loop-only table, a duplicate-edge table and one giant hub (a
    * source with 50 out-edges to dangling leaves), in session `s`: a defined
    * result (no exception, one null-free row per vertex at most), empty on
    * empty input, and the hand expectations below. */
  private def robustnessMatrix(s: SparkSession): Unit = {
    def table(rows: Seq[(Long, Long)]): DataFrame = s.createDataFrame(rows).toDF("src", "dst")
    import operators.DocGraph
    def dir(x: DataFrame) = DocGraph.lay(x)
    def sym(x: DataFrame) = DocGraph.lay(x, GraphOps.symmetrized)
    val drivers: Seq[(String, DataFrame => DataFrame)] = Seq(
      "pr" -> (x => DocGraph.prIterLaid(dir(x), 3)),
      "ppr" -> (x => DocGraph.pprIterLaid(dir(x), 3)),
      "wpr" -> (x => DocGraph.wprIterLaid(dir(x), 3)),
      "hits" -> (x => DocGraph.hitsIterLaid(dir(x), 2)),
      "salsa" -> (x => DocGraph.salsaIterLaid(dir(x), 2)),
      "bfs" -> (x => DocGraph.bfsIterLaid(dir(x), 3)),
      "sssp" -> (x => DocGraph.ssspIterLaid(dir(x), 3)),
      "katz" -> (x => DocGraph.katzIterLaid(dir(x), 3)),
      "mis" -> (x => DocGraph.misIterLaid(sym(x), 3)),
      "color" -> (x => DocGraph.colorIterLaid(sym(x), 3)),
      "match" -> (x => DocGraph.matchIterLaid(DocGraph.lay(x, DocGraph.canonical), 3)),
      "landmark" -> (x => DocGraph.landmarkIterLaid(DocGraph.lay(x, DocGraph.reversed), 3)),
      "kcore" -> (x => DocGraph.kcoreIterLaid(sym(x), 1, 3)),
      "cc" -> (x => DocGraph.ccIterLaid(sym(x), 3)),
      "lp" -> (x => DocGraph.lpIterLaid(sym(x), 3)))
    val selfLoopRows = Seq((0L, 0L), (1L, 1L), (100L, 100L))
    val dupRows = Seq((0L, 1L), (0L, 1L), (1L, 2L), (1L, 2L), (2L, 0L), (3L, 1L))
    val hubRows = (1L to 50L).map(i => (0L, i))
    val inputs = Seq("self-loops" -> selfLoopRows, "duplicates" -> dupRows, "hub" -> hubRows)
    val empty = table(Nil)
    for ((name, run) <- drivers) {
      assert(run(empty).count() == 0, s"$name on the empty table")
      for ((input, rows) <- inputs) {
        val got = run(table(rows)).collect()
        val vids = got.map(_.getLong(0))
        val nV = rows.flatMap(r => Seq(r._1, r._2)).distinct.size
        assert(vids.distinct.length == vids.length && vids.length <= nV, s"$name on $input: ${got.toSeq}")
        assert(!got.exists(_.anyNull), s"$name on $input: ${got.toSeq}")
      }
    }

    // SCC (against refScc), condensation layering, truss peeling, the exact
    // and HyperBall balls and harmonic centrality over the same tables plus
    // the empty one; expectations by hand for the 4-vertex duplicate table
    // (cycle 0→1→2→0 entered from 3) and the hub (0 → 1..50)
    import operators.Neighborhood
    def ids(df: DataFrame): Map[Long, Seq[Any]] =
      df.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    def balls(x: DataFrame) = ids(Neighborhood.exactBall(GraphOps.vertices(x), dir(x), 2))
    def harmonic(x: DataFrame) = ids(Neighborhood.harmonic(GraphOps.vertices(x), dir(x), 2, 2L))
    def estimates(x: DataFrame) =
      ids(Neighborhood.hyperBall(GraphOps.vertices(x), DocGraph.lay(x, DocGraph.reversed), 2))
    def truss(x: DataFrame) = Truss.peel(x, 3, 2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val selfIds = selfLoopRows.map(_._1)
    val leaves = hubRows.map(_._2)
    for ((input, rows) <- ("empty" -> Seq.empty[(Long, Long)]) +: inputs) {
      val g = table(rows)
      val scc = StronglyConnectedComponents.run(s, g)
      assert(scc.columns.toSeq == Seq("vid", "scc_id"), s"SCC on $input")
      assert(scc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == refScc(rows), s"SCC on $input")
      val topo = Condensation.topoLayers(s, g, 3)
      assert(topo.columns.toSeq == Seq("vid", "scc_id", "layer3"), s"topoLayers on $input")
      val (layers, ball, harm, tri) = input match {
        case "empty" => (Map.empty[Long, Seq[Any]], Map.empty[Long, Seq[Any]], Map.empty[Long, Seq[Any]], Set.empty[(Long, Long)])
        case "self-loops" => (selfIds.map(v => v -> Seq(v, 0L)).toMap, selfIds.map(_ -> Seq(1L)).toMap,
          selfIds.map(_ -> Seq(0L)).toMap, Set.empty[(Long, Long)])
        case "hub" => ((leaves.map(v => v -> Seq(v, 1L)) :+ (0L -> Seq(0L, 0L))).toMap,
          (leaves.map(_ -> Seq(1L)) :+ (0L -> Seq(51L))).toMap,
          (leaves.map(_ -> Seq(2L)) :+ (0L -> Seq(0L))).toMap, Set.empty[(Long, Long)])
        case _ => (Map(0L -> Seq(0L, 1L), 1L -> Seq(0L, 1L), 2L -> Seq(0L, 1L), 3L -> Seq(3L, 0L)),
          (0L to 3L).map(_ -> Seq(3L)).toMap, Map(0L -> Seq(3L), 1L -> Seq(5L), 2L -> Seq(4L), 3L -> Seq(0L)),
          Set((0L, 1L), (0L, 2L), (1L, 2L)))
      }
      assert(ids(topo) == layers, s"topoLayers on $input")
      assert(truss(g) == tri, s"truss on $input")
      assert(balls(g) == ball, s"exactBall on $input")
      assert(harmonic(g) == harm, s"harmonic on $input")
      val est = estimates(g)
      assert(est.keySet == ball.keySet, s"hyperBall on $input")
      est.foreach { case (v, Seq(e: Double)) =>
        val b = ball(v).head.asInstanceOf[Long]
        assert(math.abs(e - b) <= 0.5 * b, s"hyperBall on $input: vid $v est $e, ball $b")
      }
    }

    // PageRank, unsalted and with every source of out-degree > 1 a hub, over
    // the same tables and a one-hub star: ranks sum to 1 and match the
    // sequential reference
    val star = (1L to 20L).map(i => (0L, i))
    for ((input, g) <- Seq("self-loops" -> selfLoopRows, "duplicates" -> dupRows, "star" -> star);
         threshold <- Seq(Long.MaxValue, 1L)) {
      val res = PageRank.run(s, table(g), PageRankConfig(eps = 1e-10,
        hubDegreeThreshold = threshold, ckptEvery = 0))
      assert(threshold == Long.MaxValue || input == "self-loops" || res.hubCount > 0, s"$input salted no hub")
      val got = res.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val want = refPageRank(g)
      assert(math.abs(got.values.sum - 1.0) < 1e-9, s"$input threshold=$threshold: Σpr = ${got.values.sum}")
      assert(got.keySet == want.keySet, s"$input threshold=$threshold")
      want.foreach { case (v, p) => assert(math.abs(got(v) - p) < 1e-6, s"$input threshold=$threshold vid=$v") }
    }
  }

  test("alternating CC converges in O(log n) rounds on a high-diameter chain") {
    // a 400-node path: HashMin would need 400 supersteps (= diameter); the
    // star-contraction variant must finish well inside 15 alternating rounds
    // (2·log2(400) ≈ 17 is the paper's bound; observed ~5)
    val chain = (0L until 399L).map(i => (i, i + 1))
    val labels = ConnectedComponents.runAlternating(spark, chain.toDF("src", "dst"),
      maxIter = 15).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 400)
    assert(labels.values.forall(_ == 0L), "every chain vertex labels to vertex 0")
  }

  /** brute-force SCC via Floyd–Warshall reachability — independent of the
    * engine's trim/color/confirm decomposition. */
  def refScc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val idx   = verts.zipWithIndex.toMap
    val n     = verts.size
    val r     = Array.fill(n, n)(false)
    edges.foreach { case (s, t) => if (s != t) r(idx(s))(idx(t)) = true }
    for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
      if (r(i)(k) && r(k)(j)) r(i)(j) = true
    verts.map { v =>
      val i = idx(v)
      v -> verts.filter(u => u == v || (r(i)(idx(u)) && r(idx(u))(i))).min
    }.toMap
  }

  test("SCC: hand bowtie — two cycles, a bridge, DAG tendrils, a self-loop") {
    // 0→1, cycle {1,2,3}, bridge 3→5, cycle {5,6}, tendril 6→9, self-loop 7
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (3L, 5L),
      (5L, 6L), (6L, 5L), (6L, 9L), (7L, 7L)).toDF("src", "dst")
    val got = StronglyConnectedComponents.run(spark, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L,
      5L -> 5L, 6L -> 5L, 9L -> 9L, 7L -> 7L))
  }

  for (seed <- Seq(13, 29)) {
    test(s"random directed graph seed=$seed: SCC matches Floyd–Warshall reference") {
      val edges = randomGraph(seed, 30, 55) // sparse → nontrivial SCC structure
      val got = StronglyConnectedComponents.run(spark, edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == refScc(edges))
    }
  }

  test("landmarkIter: chain distances TO the landmark, unreachable = sentinels") {
    // 3→2→1→0→5; only vid 0 is a landmark (0 % 97 == 0). Forward distance
    // vid→0 is the chain position; 5 cannot reach 0 (edges point away).
    val edges = Seq((3L, 2L), (2L, 1L), (1L, 0L), (0L, 5L)).toDF("src", "dst")
    val got = operators.DocGraph.landmarkIterLaid(operators.DocGraph.lay(edges, operators.DocGraph.reversed), 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      0L -> ((1L, 0L, 0L)), 1L -> ((1L, 1L, 1L)), 2L -> ((1L, 2L, 2L)),
      3L -> ((1L, 3L, 3L)), 5L -> ((0L, -1L, -1L))))
  }

  test("linkPrediction: square graph predicts exactly the two diagonals at Jaccard 1") {
    // 1-2, 1-3, 4-2, 4-3: non-adjacent (1,4) share {2,3}, (2,3) share {1,4};
    // every adjacent pair shares 0 neighbors. Jaccard = 2/(2+2-2) = 1.
    val edges = Seq((1L, 2L), (1L, 3L), (4L, 2L), (4L, 3L)).toDF("src", "dst")
    val got = GraphOps.linkPrediction(edges, minCommon = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((1L, 4L, 2L, 1000000L), (2L, 3L, 2L, 1000000L)))
  }

  test("linkPrediction: hub cap drops wedges whose CENTER exceeds the degree cap") {
    // star: center 0 — the only wedge center — has degree 6 > cap 5
    val star = (1L to 6L).map(l => (0L, l)).toDF("src", "dst")
    assert(GraphOps.linkPrediction(star, minCommon = 1, maxHubDegree = 5).isEmpty)
    // raising the cap admits the wedges: all 15 leaf pairs share neighbor 0
    assert(GraphOps.linkPrediction(star, minCommon = 1, maxHubDegree = 6).count() == 15L)
  }
}
