package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * k-truss peeling (Cohen 2008, "Trusses: cohesive subgraphs for social
 * network analysis"): iteratively delete every undirected edge whose
 * triangle support within the CURRENT subgraph is below k−2. The truss is
 * the standard community-core refinement of k-core — an edge-level, not
 * vertex-level, cohesion test.
 *
 * Each peel round reuses the engine's degree-ordered triangle plan
 * (`Triangles.oriented` — per-vertex oriented out-degree bounded O(√|E|),
 * the hub-skew handling for all triangle work): enumerate triangles, explode
 * each into its three canonical edges, count per edge, and keep edges with
 * support ≥ k−2. Support is recomputed from scratch against the shrunken
 * edge set every round, so deletions cascade exactly as the definition
 * requires. Fixed `rounds` keeps the cross-engine oracle replayable
 * (kcore's convention); run to fixpoint by raising `rounds` — the edge set
 * is monotone decreasing, so any round that deletes nothing is the truss.
 *
 * 100 TB shape: per round, two wedge joins + one explode of 3·|triangles|
 * rows + one co-partitioned left join — all equi-joins on vertex/edge keys,
 * no pair blowup beyond the wedge bound. The rounds are a
 * [[Superstep.fixedK]] whose state is the edge set itself: zero driver
 * actions per round, one materializing action.
 */
object Truss {

  /** `rounds` support-peel rounds toward the k-truss over the canonical
    * undirected edge set of `edges`; returns surviving (a, b), a < b. */
  def peel(edges: DataFrame, k: Int, rounds: Int): DataFrame =
    peelUnd(Superstep.lay(
      GraphOps.undirected(edges).select(col("a").as("src"), col("b").as("dst"))), k, rounds)

  /** [[peel]] over an ALREADY-canonical undirected pair set laid out as
    * (src, dst), src < dst, deduplicated — e.g. DocGraph.laidUnd's cached
    * one-exchange layout, which is unpersisted on return. */
  private[graft] def peelUnd(laidUnd: Superstep.Laid, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k-truss needs k ≥ 3, got $k")
    require(rounds >= 1)
    val g = Superstep(laidUnd)
    g.fixedK(g.edges.select(col("src").as("a"), col("dst").as("b")), rounds) { (und, _) =>
      // sharing of the oriented set across its three references is
      // Catalyst's ReusedExchange over the identical aggregate/join subtrees
      val eo = Triangles.oriented(und.select(col("a").as("src"), col("b").as("dst")))
      val e1 = eo.select(col("u").as("x"), col("v").as("y"))
      val e2 = eo.select(col("u").as("y2"), col("v").as("z"))
      val wedges = e1.join(e2, col("y") === col("y2")).select(col("x"), col("y"), col("z"))
      val tri = wedges.join(eo, wedges("x") === eo("u") && wedges("z") === eo("v"), "left_semi")
      // ONE pass over the triangle join: explode each triangle into its three
      // canonical edges (r6 — the former union of three projections of `tri`
      // re-evaluated the wedge-close join three times per round; guide §2.3
      // "aggregate before you shuffle" / §2.4 shared-subtree discipline).
      // Row-for-row identical to the former 3-way union.
      val sup = tri.select(explode(array(
          struct(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b")),
          struct(least(col("x"), col("z")).as("a"), greatest(col("x"), col("z")).as("b")),
          struct(least(col("y"), col("z")).as("a"), greatest(col("y"), col("z")).as("b"))))
          .as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("sup"))
      und.join(sup, Seq("a", "b"), "left")
        .filter(coalesce(col("sup"), lit(0L)) >= lit((k - 2).toLong))
    }
  }

  /** DuckDB replay of the same peel over a CTE prefix that defines `und`
    * (a, b) — triangle {x<y<z} enumerated once as e1=(x,y) ⋈ e2=(x,z) with
    * y<z closed by e3=(y,z), identical support arithmetic. */
  def peelSql(ctePrefix: String, k: Int, rounds: Int): String = {
    require(k >= 3 && rounds >= 1)
    val sb = new StringBuilder(ctePrefix)
    var prev = "und"
    for (r <- 1 to rounds) {
      val t = s"t$r"
      sb.append(s""",
        |tri_$t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM $prev e1 JOIN $prev e2 ON e1.a = e2.a AND e1.b < e2.b
        |  JOIN $prev e3 ON e3.a = e1.b AND e3.b = e2.b),
        |sup_$t AS (SELECT a, b, count(*) AS c FROM (
        |  SELECT x AS a, y AS b FROM tri_$t UNION ALL
        |  SELECT x, z FROM tri_$t UNION ALL
        |  SELECT y, z FROM tri_$t) GROUP BY 1, 2),
        |$t AS MATERIALIZED (SELECT t.a, t.b FROM $prev t LEFT JOIN sup_$t s USING (a, b)
        |  WHERE coalesce(s.c, 0) >= ${k - 2})""".stripMargin)
      prev = t
    }
    sb.append(s"\nSELECT a, b FROM $prev").toString()
  }
}
