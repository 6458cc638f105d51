package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.graph._
import graft.operators.Dedup
import graft.sources.PageSynth

/**
 * Physical-plan regression guards — the properties that make the engine hold
 * at 100× data, asserted on the actual executed plans, not by convention:
 *
 *  - iterative superstep joins NEVER sort-merge (an SMJ re-sorts the cached
 *    O(|E|) edge side every superstep), and never broadcast in a session
 *    that switches broadcast joins off;
 *  - no cartesian/broadcast-nested-loop joins anywhere in the harness
 *    queries except the documented exact-ANN baseline (`q_ann_cosine`, a
 *    bounded 50-query brute-force reference);
 *  - parquet scans are column-pruned to what the query projects.
 */
class PlanSpec extends SparkSpec {

  private def executed(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("superstep contribution join avoids SortMergeJoin in both regimes") {
    for ((regime, s) <- Seq("broadcast" -> spark, "shuffle_hash" -> noBroadcast)) {
      val (edges, _, _) = Superstep.lay(PageSynth.edgeList(s, 2000).toDF(), parts = 4)
      val verts  = GraphOps.vertices(edges)
      val n      = verts.count()
      val rankDeg = verts.select(col("vid"), lit(1.0 / n).as("w"))
      val empty   = s.range(0).select(col("id").as("vid"))
      val sums = Salting.contribSums(edges, rankDeg, empty, 0L, 8, Superstep.pinFor(n))
      sums.collect() // run through AQE so the final plan is the real one
      val plan = executed(sums)
      assert(!plan.contains("SortMergeJoin"), s"$regime plan has SMJ:\n$plan")
      edges.unpersist()
    }
  }

  /** the executed plan of every query `s` runs during `body` */
  private def plansDuring(s: SparkSession)(body: => Unit): Seq[String] = {
    val plans = new ConcurrentLinkedQueue[String]
    val l = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val listeners = s.asInstanceOf[classic.SparkSession].listenerManager
    listeners.register(l)
    try { body; ListenerBusDrain.drain(s.sparkContext) }
    finally listeners.unregister(l)
    plans.asScala.toSeq
  }

  test("the graph drivers obey a session that switches broadcast joins off") {
    // an explicit broadcast hint overrides spark.sql.autoBroadcastJoinThreshold
    // = -1, so the drivers' crossover must read the session: their superstep
    // joins are shuffle-hash joins there, at a size that broadcasts elsewhere
    val e = PageSynth.edgeList(noBroadcast, 300).toDF()
    for ((name, run) <- Seq[(String, () => DataFrame)](
           "CC" -> (() => ConnectedComponents.run(noBroadcast, e, maxIter = 4)),
           "PageRank" -> (() => PageRank.run(noBroadcast, e,
             PageRankConfig(maxIter = 3, ckptEvery = 0)).ranks))) {
      var res: DataFrame = null
      val plans = plansDuring(noBroadcast) { res = run() }
      GraphOps.freeCheckpoint(res)
      assert(plans.exists(_.contains("ShuffledHashJoin")), s"$name ran no superstep join")
      plans.foreach(p => assert(!p.contains("BroadcastHashJoin"), s"$name broadcasts:\n$p"))
    }
  }

  test("no cartesian/nested-loop join or single-partition global window in any harness query plan") {
    val sfDir = "/root/testdata/sf0.001"
    // fast structural scan: analyze (don't execute) each query's plan
    val exempt = Set("q_ann_cosine") // documented BNLJ: bounded exact baseline
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan =
        try fn(spark, sfDir).queryExecution.sparkPlan
        catch { case e: Throwable => fail(s"$name failed to plan: ${e.getMessage}") }
      val planStr = plan.toString
      if (!exempt(name)) {
        assert(!planStr.contains("CartesianProduct"), s"$name plans a CartesianProduct")
        assert(!planStr.contains("BroadcastNestedLoopJoin"),
          s"$name plans a BroadcastNestedLoopJoin")
      }
      // Window.orderBy with no partitionBy funnels every row through ONE
      // task's sort — the textbook scale-killer globalRank exists to avoid.
      // No exemptions: every windowed query partitions (per-key top-k) or
      // uses the two-pass range-partitioned rank (VERDICT r4 #3).
      val global = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }
      assert(global.isEmpty, s"$name plans an unpartitioned global window")
    }
  }

  test("parquet scan is pruned to the projected columns") {
    val plan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("lang"))
      .filter(col("lang") === "en")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      s"scan not pruned:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"),
      s"filter not pushed:\n$plan")
  }

  test("LSH near-dup plans bucket-join, never a cross join") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = Dedup.minhashCandidates(docs, "doc_id", "text")
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"LSH candidates plan quadratic join:\n$plan")
  }
}
