package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Weisfeiler–Leman (1-WL) color refinement (Weisfeiler & Leman 1968; the
 * canonical-form workhorse of graph-isomorphism testing and structural
 * fingerprinting — Shervashidze et al., "Weisfeiler-Lehman graph kernels",
 * JMLR 2011): start from degree colors and repeatedly re-color every vertex
 * by its (own color, neighbor-color aggregate) signature, mapping distinct
 * signatures to dense integer ids. Vertices that stay same-colored at the
 * stable partition are structurally indistinguishable by local
 * neighborhoods — on a web graph this clusters template pages (navigation
 * hubs, leaf articles, paginated lists) by pure link shape, no content.
 *
 * The signature aggregates the neighbor multiset as (count, sum, min, max)
 * of neighbor colors — coarser than the full sorted multiset of textbook WL
 * (two multisets can tie on all four moments), so this is a sound but
 * slightly weaker refinement; every distinction it makes is a true WL
 * distinction. Exact integers throughout: colors are dense ranks ≤ |V|, so
 * sum ≤ deg·|V| stays far inside BIGINT at harness scale (envelope: a
 * 10⁶-degree hub over 10¹⁰ colors reaches 10¹⁶).
 *
 * Scale shape: per round, one neighbor aggregate over the cached symmetric
 * edges (PageRank's shuffle profile) + one DISTINCT on signatures + the
 * two-pass range-partitioned [[GraphOps.globalRank]] for the dense rank —
 * no single-partition window (PlanSpec's ban). Rank assignment is
 * inherently global, so each round pays globalRank's O(parts) offset
 * collect — documented driver actions, unlike the pure message-passing
 * drivers.
 */
object WlRefine {

  /** (vid, wlc_k): the vertex's color after exactly k refinement rounds. */
  def refine(spark: SparkSession, edges: DataFrame, k: Int): DataFrame = {
    val sym = GraphOps.symmetrized(
      edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst")))
    refineLaid(spark, Superstep.lay(sym), k)
  }

  /** [[refine]] core over a pre-laid-out symmetric edge table (cached,
    * src-hash-partitioned — e.g. DocGraph.laidSym's one-exchange layout). */
  private[graft] def refineLaid(spark: SparkSession, laidSym: (DataFrame, Long, Int),
                                k: Int): DataFrame = {
    val (e, nE, parts) = laidSym
    // the kernel's crossover, sized here by the laid |E| (an upper bound of
    // |V| on a symmetric table) so the loop needs no |V| count
    val pin = Superstep.pinFor(nE)
    // color_0 = symmetric degree (every vertex of sym appears as a src)
    var st = e.groupBy(col("src").as("vid")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    for (_ <- 1 to k) {
      val nb = e.join(pin(st), e("src") === st("vid"))
        .select(e("dst").as("vid"), col("c"))
        .groupBy("vid").agg(count(lit(1)).as("cnt"), sum(col("c")).as("s"),
          min(col("c")).as("mn"), max(col("c")).as("mx"))
      val sig = st.join(pin(nb), Seq("vid"))
        .select(col("vid"), col("c"), col("cnt"), col("s"), col("mn"), col("mx"))
      val ranked = GraphOps.globalRank(
        sig.select(col("c"), col("cnt"), col("s"), col("mn"), col("mx")).distinct(),
        parts, 0, col("c"), col("cnt"), col("s"), col("mn"), col("mx"))
      val next = sig.join(ranked, Seq("c", "cnt", "s", "mn", "mx"))
        .select(col("vid"), col("rn").as("c"))
        .localCheckpoint(true)
      // `ranked` reads globalRank's eager checkpoint, no longer needed
      Seq(st, ranked).foreach(GraphOps.freeCheckpoint)
      st = next
    }
    val out = st.select(col("vid"), col("c").as(s"wlc$k")).localCheckpoint(true)
    GraphOps.freeCheckpoint(st)
    e.unpersist(false)
    out
  }

  /** Oracle SQL for k WL refinement rounds (see [[refine]]); `graphCtes`
    * must define `sym(src, dst)`. */
  def refineSql(graphCtes: String, k: Int): String = {
    val b = new StringBuilder(graphCtes)
    b.append(
      """,
        |w0 AS MATERIALIZED (SELECT src AS vid, count(*) AS c FROM sym GROUP BY src)""".stripMargin)
    for (i <- 1 to k) {
      val p = i - 1
      b.append(s""",
        |nb$i AS MATERIALIZED (SELECT e.dst AS vid, count(*) AS cnt,
        |        CAST(sum(w.c) AS BIGINT) AS s, min(w.c) AS mn, max(w.c) AS mx
        |        FROM sym e JOIN w$p w ON e.src = w.vid GROUP BY e.dst),
        |w$i AS MATERIALIZED (SELECT v.vid,
        |        CAST(dense_rank() OVER (ORDER BY v.c, n.cnt, n.s, n.mn, n.mx) AS BIGINT) AS c
        |        FROM w$p v JOIN nb$i n ON v.vid = n.vid)""".stripMargin)
    }
    b.append(s"\nSELECT vid, c AS wlc$k FROM w$k")
    b.toString
  }
}
