package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Condensation (SCC quotient) of a directed graph and topological layering
 * over it — the structural read of the web bowtie (Broder et al., WWW 2000):
 * contracting every strongly connected component yields a DAG whose
 * longest-path depth from its sources is the "layer" of a component, i.e.
 * how far downstream of the crawl frontier a page cluster sits.
 *
 * `layer_k(c)` = max number of condensation edges on any path ending at c,
 * over paths of ≤ k edges — computed by k max-plus supersteps
 * (lᵢ₊₁(c) = max(lᵢ(c), max_{c'→c} lᵢ(c') + 1), l₀ ≡ 0), the MAX-PLUS dual
 * of [[graft.operators.DocGraph.bfsIter]]'s min-plus relaxation. On a DAG
 * of depth ≤ k this is the exact topological layer; at fixed k it is exact
 * truncated semantics either way (both engines replay it identically).
 *
 * 100 TB shape: SCC is the dominant cost (see
 * [[StronglyConnectedComponents]]); condensing is two membership equi-joins
 * + a distinct whose output is |condensation| ≪ |E| for web graphs (one
 * giant SCC absorbs the core). The layering then runs on the SMALL
 * condensed DAG as a [[Superstep.fixedK]] over its laid edges: zero driver
 * actions per superstep, one materializing action.
 */
object Condensation {

  /** Distinct condensation edges (cs, cd) of `edges` under the (vid, scc_id)
    * membership `scc`: one row per ordered SCC pair with any cross link,
    * self-pairs (intra-SCC edges) dropped. */
  def condense(edges: DataFrame, scc: DataFrame): DataFrame = {
    val sa = scc.select(col("vid").as("src"), col("scc_id").as("cs"))
    val sb = scc.select(col("vid").as("dst"), col("scc_id").as("cd"))
    edges.join(sa, Seq("src")).join(sb, Seq("dst"))
      .filter(col("cs") =!= col("cd"))
      .select(col("cs"), col("cd")).distinct()
  }

  /** Per-vertex topological layer after exactly k max-plus supersteps over
    * the condensation of `edges`: (vid, scc_id, layer_k), one eager
    * checkpoint. The layering state holds the components on a condensation
    * edge; every other component has no predecessor and stays at layer 0. */
  def topoLayers(spark: SparkSession, edges: DataFrame, k: Int,
                 assumeDistinct: Boolean = false,
                 broadcastMaxRows: Long = Superstep.BroadcastMaxRows): DataFrame = {
    val scc = StronglyConnectedComponents.run(spark, edges, assumeDistinct = assumeDistinct)
    val g = Superstep(Superstep.lay(
      condense(edges, scc).select(col("cs").as("src"), col("cd").as("dst"))), broadcastMaxRows)
    val ce = g.edges
    val layers = g.fixedK(g.vertices.select(col("vid"), lit(0L).as("l")), k,
      out = st => scc.join(g.pin(st.select(col("vid").as("scc_id"), col("l"))), Seq("scc_id"), "left")
        .select(col("vid"), col("scc_id"), coalesce(col("l"), lit(0L)).as(s"layer$k"))) { (st, _) =>
      ce.join(g.pin(st), ce("src") === st("vid"))
        .select(ce("dst").as("vid"), (col("l") + 1L).as("l"))
        .unionByName(st)
        .groupBy("vid").agg(max(col("l")).as("l"))
    }
    GraphOps.freeCheckpoint(scc)
    layers
  }

  /** Oracle SQL for [[topoLayers]]: recursive-closure SCC ground truth
    * (q_scc's convention — algorithm-independent), condensation, then k
    * chained max-plus CTEs. `edgesCte` must define `edges(src, dst)`. */
  def topoLayersSql(edgesCte: String, k: Int): String = {
    val b = new StringBuilder(edgesCte.replaceFirst("^WITH ", "WITH RECURSIVE "))
    b.append(
      """,
        |verts AS MATERIALIZED (SELECT DISTINCT vid FROM
        |  (SELECT src AS vid FROM edges UNION ALL SELECT dst FROM edges)),
        |reach AS (
        |  SELECT src AS s, dst AS t FROM edges
        |  UNION
        |  SELECT r.s, e.dst FROM reach r JOIN edges e ON e.src = r.t),
        |mn AS MATERIALIZED (
        |  SELECT r1.s AS u, min(r1.t) AS m
        |  FROM reach r1 JOIN reach r2 ON r1.s = r2.t AND r1.t = r2.s
        |  GROUP BY r1.s),
        |scc AS MATERIALIZED (
        |  SELECT v.vid, CAST(least(v.vid, coalesce(mn.m, v.vid)) AS BIGINT) AS scc_id
        |  FROM verts v LEFT JOIN mn ON mn.u = v.vid),
        |ce AS MATERIALIZED (SELECT DISTINCT sa.scc_id AS cs, sb.scc_id AS cd
        |  FROM edges e JOIN scc sa ON e.src = sa.vid JOIN scc sb ON e.dst = sb.vid
        |  WHERE sa.scc_id <> sb.scc_id),
        |l0 AS MATERIALIZED (SELECT DISTINCT scc_id AS c, CAST(0 AS BIGINT) AS l FROM scc)""".stripMargin)
    for (i <- 1 to k) {
      val p = i - 1
      b.append(s""",
        |l$i AS MATERIALIZED (SELECT c, max(l) AS l FROM (
        |  SELECT ce.cd AS c, lp.l + 1 AS l FROM ce JOIN l$p lp ON ce.cs = lp.c
        |  UNION ALL SELECT c, l FROM l$p) GROUP BY c)""".stripMargin)
    }
    b.append(s"\nSELECT s.vid, s.scc_id, l$k.l AS layer$k FROM scc s JOIN l$k ON s.scc_id = l$k.c")
    b.toString
  }
}
