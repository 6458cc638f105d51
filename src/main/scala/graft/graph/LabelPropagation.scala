package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Synchronous label propagation for community detection (Raghavan, Albert,
 * Kumara 2007; mandated BASELINE.json:6). Exactness requires a fully pinned
 * schedule (SURVEY.md §7.3 #1):
 *
 *  - labels init to own vertex id;
 *  - **synchronous** supersteps (all vertices update from the previous
 *    iteration's labels — no async order-dependence);
 *  - new label = the most frequent label among undirected neighbors,
 *    deterministic tie-break = smallest label (built-in `max_by` over the
 *    ordering key `(count, -label)` — no UDAF, stays in codegen);
 *  - isolated vertices keep their own label;
 *  - fixed `maxIter` cap (synchronous LPA can 2-cycle on bipartite
 *    structures; the cap pins the output deterministically).
 */
object LabelPropagation {

  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 20): DataFrame =
    runLaid(Superstep.lay(GraphOps.symmetrized(edges)), maxIter)

  /** [[run]] over a laid symmetric edge table (e.g. DocGraph.laidSym's
    * one-exchange layout), which is unpersisted on return. `maxIter` is
    * kept exactly: a capped run (q_lp's maxIter = 10) executes exactly the
    * oracle's superstep count. */
  private[graft] def runLaid(laidSym: Superstep.Laid, maxIter: Int = 20): DataFrame = {
    val g = Superstep(laidSym)
    g.untilStable(g.vertices.select(col("vid"), col("vid").as("label")), maxIter,
      col("label") =!= col("old"))(vote(g))
  }

  /** One synchronous LPA superstep over `g`'s symmetric edges: the most
    * frequent neighbour label, ties to the smallest via an overflow-free
    * descending key (~label is monotone-decreasing over all longs, ANSI-safe
    * unlike -label on Long.MinValue); the previous label in `old`. */
  private[graft] def vote(g: Superstep)(st: DataFrame): DataFrame = {
    val sym = g.edges
    val winner = sym.join(g.pin(st), sym("src") === st("vid"))
      .select(sym("dst").as("vid"), st("label"))
      .groupBy("vid", "label").agg(count(lit(1)).as("cnt"))
      .groupBy("vid")
      .agg(max_by(col("label"),
        struct(col("cnt"), bitwise_not(col("label")).as("nl"))).as("newLabel"))
    st.join(g.pin(winner), Seq("vid"), "left")
      .select(col("vid"), coalesce(col("newLabel"), col("label")).as("label"),
        col("label").as("old"))
  }
}
