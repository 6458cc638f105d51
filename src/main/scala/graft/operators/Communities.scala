package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.GraphOps

/**
 * Community-level views of a link graph: supergraph contraction (collapse
 * every vertex to a community attribute, aggregate edges between community
 * pairs) and exact Newman modularity of a given partition (Newman & Girvan,
 * "Finding and evaluating community structure in networks", Phys. Rev. E 69,
 * 2004, eq. 5).
 *
 * Modularity is reported in integer-scaled form so the cross-engine oracle
 * compare is exact, not float-drift-close: for community c with e_c
 * intra-community undirected edges and total incident degree d_c,
 *
 *   Q = Σ_c [ e_c/m − (d_c/2m)² ]      ⇒      Q·4m² = Σ_c [ 4m·e_c − d_c² ]
 *
 * Every term on the right is a BIGINT (web-scale check: m ≈ 1e12 undirected
 * edges would overflow — but per-community terms stay ≤ 4m·e_c ≤ 4·m·m only
 * for a single community holding the whole graph; at realistic host-level
 * granularity e_c and d_c are ≤ the community's own edge volume, and the
 * harness magnitudes are ≤1e11 — far inside the 9.2e18 BIGINT range).
 *
 * 100 TB shape: `contract` is two attribute joins of the edge table against
 * the membership table on the vertex key (hash co-partitioned — the same
 * shuffle pattern as the degree joins the engine already runs everywhere)
 * followed by an aggregate whose cardinality is |communities|², which is
 * tiny relative to |edges| for host-level communities. `modularity` runs the
 * same joins over the canonical undirected set plus one degree aggregate;
 * nothing is quadratic and the only driver-side scalar is the single
 * undirected-edge count m (one job, same discipline as Triangles.count).
 */
object Communities {

  /**
   * Contract a directed edge table (src, dst) over `member` (vid, comm):
   * one row per (src_comm, dst_comm) with the directed link count. Self-pairs
   * (intra-community links) are kept — the diagonal is the signal an
   * intra/inter traffic analysis wants.
   */
  def contract(edges: DataFrame, member: DataFrame): DataFrame = {
    val ms = member.select(col("vid").as("src"), col("comm").as("src_comm"))
    val md = member.select(col("vid").as("dst"), col("comm").as("dst_comm"))
    edges.join(ms, Seq("src")).join(md, Seq("dst"))
      .groupBy("src_comm", "dst_comm").agg(count(lit(1)).as("n_links"))
  }

  /**
   * Exact per-community modularity terms of the partition `member`
   * (vid, comm) over the UNDIRECTED simple graph of `edges`:
   * (comm, e_c, d_c, q_scaled_4m2) with q_scaled_4m2 = 4m·e_c − d_c².
   * Global modularity Q = sum(q_scaled_4m2) / (4m²) — driver arithmetic,
   * like assortativity's r. Communities none of whose vertices touch an
   * edge carry no degree and are absent, matching a fresh computation over
   * the graph's vertex set. Membership must cover every vertex (here it
   * does by construction: vertices ARE doc ids); an unmapped vertex would
   * silently drop its edges from both e_c and d_c, so the caller keeps that
   * contract.
   */
  def modularity(spark: SparkSession, edges: DataFrame, member: DataFrame): DataFrame = {
    // und feeds three consumers (m, degrees, intra-edge counts) — localCheckpoint
    // materializes it once; the count() that produces m rides the same blocks
    val und = GraphOps.undirected(edges).localCheckpoint(true)
    val m   = und.count()
    val deg = GraphOps.undirectedDegrees(und)
    val dc = deg.join(member, Seq("vid"))
      .groupBy("comm").agg(sum(col("deg")).as("d_c"))
    val ma = member.select(col("vid").as("a"), col("comm").as("ca"))
    val mb = member.select(col("vid").as("b"), col("comm").as("cb"))
    val ec = und.join(ma, Seq("a")).join(mb, Seq("b"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("comm")).agg(count(lit(1)).as("e_c"))
    dc.join(ec, Seq("comm"), "left")
      .select(col("comm"),
        coalesce(col("e_c"), lit(0L)).as("e_c"),
        col("d_c"),
        (lit(4L * m) * coalesce(col("e_c"), lit(0L)) - col("d_c") * col("d_c"))
          .as("q_scaled_4m2"))
  }

  /**
   * Exact per-community conductance of the partition `member` (vid, comm)
   * over the UNDIRECTED simple graph: φ(c) = cut(c) / min(vol(c), 2m−vol(c))
   * (Kannan, Vempala & Vetta, "On clusterings: good, bad and spectral",
   * JACM 2004), where cut(c) counts undirected edges with exactly one
   * endpoint in c and vol(c) sums member degrees. Reported integer-exact as
   * (comm, cut_e, vol, phi_ppm) with phi_ppm = ⌊10⁶·cut / min(vol, 2m−vol)⌋
   * — integer division on both engines, so no float crosses the compare.
   * A community holding ALL edge volume (min term 0) reports the −1
   * sentinel. Overflow envelope: 10⁶·cut needs cut ≤ 9.2e12 — i.e. fine
   * for communities up to ~10 T cut edges, far beyond per-community volumes
   * at host-level granularity even on a 100 TB crawl.
   *
   * Same 100 TB shape as [[modularity]]: two membership equi-joins against
   * the canonical undirected set, one degree aggregate, output cardinality
   * |communities|; the per-edge explode for the cut count is a constant 2×.
   */
  def conductance(spark: SparkSession, edges: DataFrame, member: DataFrame): DataFrame = {
    val und = GraphOps.undirected(edges).localCheckpoint(true)
    val m   = und.count()
    val deg = GraphOps.undirectedDegrees(und)
    val vol = deg.join(member, Seq("vid"))
      .groupBy("comm").agg(sum(col("deg")).as("vol"))
    val ma = member.select(col("vid").as("a"), col("comm").as("ca"))
    val mb = member.select(col("vid").as("b"), col("comm").as("cb"))
    // a cut edge leaves BOTH its endpoint communities: one row per side
    val cut = und.join(ma, Seq("a")).join(mb, Seq("b"))
      .filter(col("ca") =!= col("cb"))
      .select(explode(array(col("ca"), col("cb"))).as("comm"))
      .groupBy("comm").agg(count(lit(1)).as("cut_e"))
    val minv = least(col("vol"), lit(2L * m) - col("vol"))
    vol.join(cut, Seq("comm"), "left")
      .select(col("comm"),
        coalesce(col("cut_e"), lit(0L)).as("cut_e"),
        col("vol"),
        when(minv > 0L,
          call_function("div", lit(1000000L) * coalesce(col("cut_e"), lit(0L)), minv))
          .otherwise(lit(-1L)).as("phi_ppm"))
  }
}
