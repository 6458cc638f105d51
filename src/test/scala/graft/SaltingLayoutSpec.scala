package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph._
import graft.sources.PageSynth

/** J4 salting invariance, S5 edge-list ingest, A9 rollup smoke. */
class SaltingLayoutSpec extends SparkSpec {
  import spark.implicits._

  test("salted contribution join equals unsalted (partition-sum invariance)") {
    // hub graph: vertex 7 fans out to 5000 targets; plus background edges
    val hubEdges  = (0 until 5000).map(i => (7L, 100L + i))
    val rest      = (0 until 500).map(i => (200L + i, 100L + (i * 13) % 5000))
    val edges     = (hubEdges ++ rest).toDF("src", "dst")
    val outDeg    = GraphOps.outDegrees(edges)
    val rankDeg   = GraphOps.vertices(edges)
      .join(outDeg, Seq("vid"), "inner")
      .select($"vid", (lit(1.0) / $"outDeg").as("w"))

    // salted: the broadcast regime's layout, where hub 7's edges are laid by
    // dst and spread over every partition
    val pin    = Superstep.pinFor(rankDeg.count())
    val plain  = PageRank.contribSums(edges, pin(rankDeg))
    val byDst  = PageRank.layout(Superstep.lay(edges, parts = 4)._1, 4, all = true)
    val salted = PageRank.contribSums(byDst, pin(rankDeg))

    val p = plain.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val q = salted.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(p.keySet == q.keySet)
    p.foreach { case (k, v) => assert(math.abs(q(k) - v) < 1e-12, s"dst=$k") }
    byDst.unpersist()
  }

  test("PageRank with forced salting matches unsalted ranks") {
    val edges = PageSynth.edgeList(spark, 300).toDF()
    val a = PageRank.run(spark, edges,
      PageRankConfig(eps = 1e-10, maxIter = 50, hubDegreeThreshold = Long.MaxValue))
    val b = PageRank.run(spark, edges,
      PageRankConfig(eps = 1e-10, maxIter = 50, hubDegreeThreshold = 3))
    val ra = a.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rb = b.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ra.keySet == rb.keySet)
    ra.foreach { case (k, v) => assert(math.abs(rb(k) - v) < 1e-9, s"vid=$k") }
  }

  test("auto hub threshold fires on hub-skewed graph; salted ranks match unsalted") {
    // 4 hubs × 1500 outlinks on a 2000-page base graph: |E| ≈ 10k, so the
    // derived threshold max(1024, |E|/(2·parts)) = 1024 < 1500 — the salted
    // path is genuinely active (verified below), unlike the capped-at-64
    // base generator where hub detection can never fire
    val edges = PageSynth.edgeListWithHubOut(spark, 2000, hubOut = 3000).toDF()
    val maxOut = edges.groupBy("src").count()
      .agg(max("count")).head().getLong(0)
    assert(maxOut >= 2500, s"hub generator produced maxOut=$maxOut")
    // parts=8 → derived threshold = max(1024, |E|/16) ≈ 1.4k < hub out-degree
    val unsalted = PageRank.run(spark, edges,
      PageRankConfig(eps = 1e-10, maxIter = 30, numPartitions = 8,
        hubDegreeThreshold = Long.MaxValue, ckptEvery = 0))
    val salted = PageRank.run(spark, edges,
      PageRankConfig(eps = 1e-10, maxIter = 30, numPartitions = 8,
        hubDegreeThreshold = 0, ckptEvery = 0))
    assert(salted.hubCount > 0,
      s"auto threshold ${salted.hubThreshold} did not fire (maxOut=$maxOut)")
    val ra = unsalted.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rb = salted.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ra.keySet == rb.keySet)
    ra.foreach { case (k, v) => assert(math.abs(rb(k) - v) < 1e-9, s"vid=$k") }
  }

  test("a hub's dst-laid edges fill every partition, none above twice the mean") {
    // one giant hub (0 → 1..4000) over a ring of its leaves: laid by src,
    // every hub edge sits in the hub's own partition; the broadcast regime's
    // layout lays them by dst, spread over all partitions
    val hubRows = (1L to 4000L).map(i => (0L, i))
    val ring = (1L to 400L).map(i => (i, i % 400 + 1))
    val (eSrc, _, parts) = Superstep.lay((hubRows ++ ring).toDF("src", "dst"), parts = 4)
    def rowsPerPart(df: DataFrame): Seq[Long] =
      df.groupBy(spark_partition_id()).count().collect().map(_.getLong(1)).toSeq
    assert(rowsPerPart(eSrc.filter($"src" === 0L)) == Seq(4000L), "src layout: one partition")
    val byDst = PageRank.layout(eSrc, parts, all = true)
    val hubParts = rowsPerPart(byDst.filter($"src" === 0L))
    assert(hubParts.sum == 4000L && hubParts.length == parts, s"hub edges per partition: $hubParts")
    assert(hubParts.max <= 2 * 4000.0 / parts, s"hub edges per partition: $hubParts")
    assert(byDst.count() == hubRows.size + ring.size)
    byDst.unpersist()
  }

  test("SNAP-style edge-list text ingest skips comments and parses ids") {
    val dir = java.nio.file.Files.createTempDirectory("graft-el")
    java.nio.file.Files.writeString(dir.resolve("g.txt"),
      "# comment line\n0\t1\n1 2\n\n2\t0\n")
    val got = GraphOps.edgeListText(spark, dir.toString).collect().toSet
    assert(got == Set(Edge(0, 1), Edge(1, 2), Edge(2, 0)))
  }

  test("rollup/cube aggregate smoke over iteration-metrics-shaped data") {
    val m = Seq((0, "a", 10L), (0, "b", 20L), (1, "a", 30L))
      .toDF("iter", "part", "edges")
    val roll = m.rollup("iter", "part").agg(sum("edges").as("e"))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)), r.getLong(2)))
    assert(roll.exists(t => t._1.isEmpty && t._2.isEmpty && t._3 == 60L)) // grand total
    assert(roll.exists(t => t._1.contains(0) && t._2.isEmpty && t._3 == 30L))
  }
}
