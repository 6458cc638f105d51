package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.graph._
import graft.operators.{Dedup, DocGraph}

/**
 * Block hygiene of the iterative drivers: after a driver returns, the only
 * persisted RDD it leaves behind is its result's own checkpoint — the laid
 * edge table, every intermediate superstep checkpoint and any helper cache
 * are released. Compared as the set of RDD ids in
 * `getPersistentRDDs` that appeared during the call, so blocks the
 * ContextCleaner frees meanwhile do not matter.
 */
class BlockLeakSpec extends SparkSpec {
  import spark.implicits._

  /** a small documents table the doc-graph drivers derive their graph from */
  private lazy val sf: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-leak").toString
    (0L until 300L).map(i => (i, s"doc ${i % 40} shares the words of group ${i % 7}"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** the checkpoint RDDs `df` reads */
  private def own(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect { case lr: LogicalRDD => lr.rdd.id }.toSet

  private def leavesOnlyItsResult(name: String)(run: => DataFrame): Unit = {
    val before = persisted()
    val res = run
    val left = persisted() -- before
    try assert(left == own(res) && left.size == 1, s"$name left RDDs $left; its result reads ${own(res)}")
    finally GraphOps.freeCheckpoint(res)
  }

  test("every superstep-kernel doc-graph driver leaves only its result's checkpoint") {
    val dir = sf
    val drivers: Seq[(String, () => DataFrame)] = Seq(
      "pr" -> (() => DocGraph.prIter(spark, dir, 3)),
      "ppr" -> (() => DocGraph.pprIter(spark, dir, 3)),
      "wpr" -> (() => DocGraph.wprIter(spark, dir, 2)),
      "hits" -> (() => DocGraph.hitsIter(spark, dir, 2)),
      "salsa" -> (() => DocGraph.salsaIter(spark, dir, 2)),
      "bfs" -> (() => DocGraph.bfsIter(spark, dir, 4)),
      "sssp" -> (() => DocGraph.ssspIter(spark, dir, 4)),
      "katz" -> (() => DocGraph.katzIter(spark, dir, 3)),
      "mis" -> (() => DocGraph.misIter(spark, dir, 3)),
      "color" -> (() => DocGraph.colorIter(spark, dir, 4)),
      "match" -> (() => DocGraph.matchIter(spark, dir, 3)),
      "landmark" -> (() => DocGraph.landmarkIter(spark, dir, 4)),
      "kcore" -> (() => DocGraph.kcoreIter(spark, dir, 3, 3)),
      "ccIter" -> (() => DocGraph.ccIter(spark, dir, 2)),
      "lpIter" -> (() => DocGraph.lpIter(spark, dir, 2)))
    for ((name, run) <- drivers) leavesOnlyItsResult(name)(run())
  }

  test("the SCC, condensation, WL, truss and neighbourhood queries leave only their result's checkpoint") {
    val dir = sf
    for (q <- Seq("q_scc", "q_topo_iter6", "q_wl_iter3", "q_truss3_iter2", "q_nhop2",
                  "q_harmonic2", "q_nhop2_hb_gate", "q_nf_hb"))
      leavesOnlyItsResult(q)(SparkEntry.queries(q)(spark, dir))
  }

  test("CC and LP leave only their result's checkpoint, in the shuffle regime too") {
    for ((regime, s) <- Seq("broadcast" -> spark, "shuffle" -> noBroadcast)) {
      val e = s.createDataFrame((0L until 30L).map(i => (i, i + 1))).toDF("src", "dst")
      leavesOnlyItsResult(s"CC $regime")(ConnectedComponents.run(s, e, maxIter = 7))
      leavesOnlyItsResult(s"LP $regime")(LabelPropagation.run(s, e, maxIter = 7))
    }
  }

  test("PageRank leaves only its result's checkpoint: both regimes, salted, resumed") {
    val e = graft.sources.PageSynth.edgeList(spark, 300).toDF()
    def pr(cfg: PageRankConfig, ck: PageRank.Checkpointer = PageRank.NoopCheckpointer): DataFrame =
      PageRank.run(spark, e, cfg, ck).ranks
    for (bmr <- Seq(Superstep.BroadcastMaxRows, 0L))
      leavesOnlyItsResult(s"PageRank bmr=$bmr")(pr(PageRankConfig(maxIter = 5, ckptEvery = 0, broadcastMaxRows = bmr)))
    leavesOnlyItsResult("PageRank salted")(
      pr(PageRankConfig(maxIter = 5, ckptEvery = 0, hubDegreeThreshold = 3)))
    val store = new graft.ckpt.IcebergLikeStore(spark,
      java.nio.file.Files.createTempDirectory("graft-leak-pr").toString)
    GraphOps.freeCheckpoint(pr(PageRankConfig(maxIter = 4, ckptEvery = 3), store.rankCheckpointer()))
    leavesOnlyItsResult("PageRank resumed")(
      pr(PageRankConfig(maxIter = 8, ckptEvery = 3), store.rankCheckpointer()))
  }

  test("Dedup.simhashPairs and Dedup.contamination free their block table and shingle cache") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").select(col("doc_id"), col("text"))
    leavesOnlyItsResult("simhashPairs")(Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3))
    leavesOnlyItsResult("contamination")(
      Dedup.contamination(docs, col("doc_id") % 100 === 0, "doc_id", "text"))
  }
}
