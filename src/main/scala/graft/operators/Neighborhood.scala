package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.HllExprs
import graft.graph.{GraphOps, Superstep}

/**
 * Neighborhood function over a directed link graph: the size of every
 * vertex's out-ball B_k(v) = {w : dist(v,w) ≤ k}. Summed over vertices this
 * is the graph's neighborhood function N(k) — the curve behind "effective
 * diameter", the classic whole-web measurement (Broder et al. WWW 2000;
 * Boldi & Vigna 2013).
 *
 * Two implementations with one contract:
 *
 *  - `exactBall`: the ≤k reachable PAIR set via k rounds of
 *    reach ⋈ edges ∪ reach, deduplicated each round. Exact, oracled — and
 *    intrinsically Θ(Σ|B_k(v)|) rows, which on a web graph explodes within
 *    a few hops (that blowup is WHY HyperBall exists). The exact form is
 *    the small-k / verification path.
 *
 *  - `hyperBall`: per-vertex m-byte HLL counters, one superstep =
 *    counters flow backwards along edges + elementwise-max union
 *    (`BytesMaxAgg`, a real partial-aggregating Catalyst aggregate). Per
 *    superstep the shuffle is |E| rows × (8 + m) bytes REGARDLESS of ball
 *    sizes — map-side combine pre-unions per partition, so the reduce side
 *    sees at most (#map partitions × |V|) counters. This is the 100 TB
 *    path: constant per-edge cost per superstep, no pair materialization.
 *
 * Both are [[Superstep.fixedK]] runs over a laid edge table: zero driver
 * actions per round, one materializing action, the laid table released
 * before the eager result returns. `verts` is the caller's vertex universe.
 */
object Neighborhood {

  /** (vid, ball) — exact |B_k(vid)| including the vertex itself.
    * `verts` is the vertex universe (vid), `laid` the directed (src, dst). */
  def exactBall(verts: DataFrame, laid: Superstep.Laid, k: Int): DataFrame = {
    require(k >= 0 && k <= 4, s"exact ball materializes Σ|B_k| pairs — k=$k refused")
    val g = Superstep(laid)
    val e = renamed(g.edges)
    g.fixedK(verts.select(col("vid").as("src"), col("vid").as("dst")), k,
      out = _.groupBy(col("src").as("vid")).agg(count(lit(1)).as("ball"))) { (reach, _) =>
      reach.union(reach.join(e, col("dst") === col("e_src"))
        .select(col("src"), col("e_dst").as("dst"))).distinct()
    }
  }

  /** fresh projection with disjoint names — a reach⋈edges self-join over
    * shared column names is the AMBIGUOUS_REFERENCE trap (same discipline
    * as RandomWalk's per-step edge renames) */
  private def renamed(edges: DataFrame): DataFrame =
    edges.select(col("src").as("e_src"), col("dst").as("e_dst"))

  /**
   * (vid, harmonic_x{scale}) — exact TRUNCATED harmonic centrality at
   * radius k (Boldi & Vigna, "Axioms for centrality", Internet Math.
   * 2014): h(v) = Σ_{u : 1 ≤ dist(u,v) ≤ k} 1/dist(u,v), i.e. incoming
   * orientation — the web-importance reading. Integer-scaled by `scale`
   * (must be divisible by every d ≤ k, e.g. LCM(1..k)) so the score is
   * pure BIGINT and bit-equal across engines — no float ever crosses the
   * compare. Unreached vertices score 0 (present in the output).
   *
   * Distance layers are peeled exactly: frontier_{d+1} = (frontier_d ⋈
   * edges) ∖ reach, so each pair contributes at its MIN distance only.
   * Like [[exactBall]] this materializes Θ(Σ|B_k(v)|) pairs — the small-k
   * verification path; at web scale the ball curve comes from
   * [[hyperBall]] and harmonic from its per-radius deltas.
   */
  def harmonic(verts: DataFrame, laid: Superstep.Laid, k: Int, scale: Long): DataFrame = {
    require(k >= 1 && k <= 4, s"exact harmonic materializes Σ|B_k| pairs — k=$k refused")
    require((1 to k).forall(d => scale % d == 0),
      s"scale=$scale must be divisible by every distance ≤ $k")
    // no input dedup needed: each step's .distinct() collapses duplicate
    // edges, and the anti-join against the reached pairs (seeded with
    // identity pairs) drops self-loop and shorter-distance pairs — same
    // trust as exactBall. The state is every reached pair with its distance.
    val g = Superstep(laid)
    val e = renamed(g.edges)
    val score = s"harmonic_x$scale"
    g.fixedK(verts.select(col("vid").as("src"), col("vid").as("dst"), lit(0).as("d")), k,
      out = reach => verts.join(reach.filter(col("d") > 0)
          .groupBy(col("dst").as("vid")).agg(sum(expr(s"$scale div d")).as("h")), Seq("vid"), "left")
        .select(col("vid"), coalesce(col("h"), lit(0L)).as(score))) { (reach, i) =>
      val frontier = reach.filter(col("d") === i - 1).join(e, col("dst") === col("e_src"))
        .select(col("src"), col("e_dst").as("dst")).distinct()
        .join(reach, Seq("src", "dst"), "left_anti")
      reach.unionByName(frontier.withColumn("d", lit(i)))
    }
  }

  /**
   * Neighborhood-function CURVE in one pass per path: rows
   * (t, nf_exact, gate_ok) for t ≤ kExact — the exact pair count anchors
   * the HLL estimate sum within `tol` — and (t, −1, est_sum > 0) for
   * kExact < t ≤ k. Each expansion superstep of either path executes
   * exactly ONCE (per-radius calls to [[exactBall]]/[[hyperBall]] re-run
   * 1+2+…+k rounds); per-round states checkpoint LAZILY and each radius'
   * eagerly-checkpointed one-row aggregate is the action that materializes
   * them (one driver action per radius, r6 — formerly two), so every later
   * radius reads shared cached blocks and the Θ(Σ|B_t|) intermediates are
   * freed before returning. This is a measurement query, not a superstep
   * driver: the per-radius aggregate action is its documented cost.
   */
  def nfCurve(verts: DataFrame, edges: DataFrame, kExact: Int, k: Int,
              tol: Double): DataFrame = {
    require(kExact >= 1 && kExact <= 4, s"exact anchors materialize Σ|B_t| pairs — kExact=$kExact refused")
    require(k >= kExact, s"k=$k must cover kExact=$kExact")
    val e = renamed(edges)
    val inter = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var reach = verts.select(col("vid").as("src"), col("vid").as("dst"))
    val nfEx = scala.collection.mutable.ArrayBuffer[DataFrame]()
    // r6: per-round states checkpoint LAZILY — the radius' one-row aggregate
    // (eagerly checkpointed) is the action that materializes the round's
    // blocks, so the next round reads them cached. Halves the driver
    // actions per radius vs the former eager-state + eager-aggregate pair.
    for (t <- 1 to kExact) {
      val step = reach.join(e, col("dst") === col("e_src"))
        .select(col("src"), col("e_dst").as("dst"))
      reach = reach.union(step).distinct().localCheckpoint(false)
      inter += reach
      nfEx += reach.agg(count(lit(1)).as("nf_exact"))
        .select(lit(t.toLong).as("t"), col("nf_exact")).localCheckpoint(true)
    }
    var b = verts.select(col("vid"), HllExprs.hllInit(col("vid")).as("reg"))
      .localCheckpoint(false)
    inter += b
    val estSums = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (t <- 1 to k) {
      val in = e.join(b, col("e_dst") === col("vid"))
        .select(col("e_src").as("vid"), col("reg"))
      b = in.unionByName(b)
        .groupBy("vid").agg(HllExprs.hllUnionAgg(col("reg")).as("reg"))
        .localCheckpoint(false)
      inter += b
      estSums += b.agg(sum(HllExprs.hllEstimate(col("reg"))).as("est_sum"))
        .select(lit(t.toLong).as("t"), col("est_sum")).localCheckpoint(true)
    }
    val gated = (1 to kExact).map { t =>
      nfEx(t - 1).join(estSums(t - 1), Seq("t"))
        .select(col("t"), col("nf_exact"),
          (abs(col("est_sum") - col("nf_exact")) / col("nf_exact") < lit(tol))
            .as("gate_ok"))
    }
    val estOnly = (kExact + 1 to k).map { t =>
      estSums(t - 1).select(col("t"), lit(-1L).as("nf_exact"),
        (col("est_sum") > 0.0).as("gate_ok"))
    }
    val out = (gated ++ estOnly).reduce(_ unionByName _).localCheckpoint(true)
    (inter ++ nfEx ++ estSums).foreach(GraphOps.freeCheckpoint)
    out
  }

  /** (vid, est) — HyperBall estimate of |B_k(vid)| as a double. `laidRev`
    * holds the graph's edges reversed (dst→src): counters flow along them,
    * a join on the laid key. The counter side is pinned shuffle-hash in every
    * session: each row carries a register array, so a row-count broadcast
    * crossover says nothing of its bytes, and unpinned the join plans as a
    * sort-merge join that re-sorts the cached edge side every superstep. */
  def hyperBall(verts: DataFrame, laidRev: Superstep.Laid, k: Int): DataFrame = {
    val g = Superstep(laidRev)
    val e = g.edges
    g.fixedK(verts.select(col("vid"), HllExprs.hllInit(col("vid")).as("reg")), k,
      out = _.select(col("vid"), HllExprs.hllEstimate(col("reg")).as("est"))) { (b, _) =>
      e.join(Superstep.shuffleHash(b), e("src") === b("vid")).select(e("dst").as("vid"), b("reg"))
        .unionByName(b)
        .groupBy("vid").agg(HllExprs.hllUnionAgg(col("reg")).as("reg"))
    }
  }
}
