package graft.graph

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Strongly connected components of a directed graph — the web "bowtie"
 * decomposition (Broder et al., "Graph structure in the Web", WWW 2000):
 * `scc_id(v)` = minimum vertex id in v's SCC. The id is a pure function of
 * the graph, independent of the algorithm, so the driver oracle verifies it
 * against recursive-closure ground truth — no fixed-iteration parity needed.
 *
 * Algorithm: trim + forward-min coloring + backward confirmation, the
 * join/aggregate-friendly decomposition of FW-BW (cf. Orzan's coloring SCC;
 * Hong, Rodia & Olukotun, "On fast parallel detection of strongly connected
 * components in small-world graphs", SC 2013). Per outer round over the
 * remaining subgraph:
 *
 *  1. **TRIM to fixpoint** — a vertex with no in-edge or no out-edge lies on
 *     no cycle: assign it its own singleton SCC and drop it. One aggregation
 *     per sweep (max-of-indicator per endpoint role); consumes entire DAG
 *     regions (the bowtie's IN/OUT/tendrils), so outer rounds are bounded by
 *     the condensation's *cyclic* depth, not the vertex count.
 *  2. **COLOR forward** — f(v) = min vid that reaches v inside the subgraph:
 *     [[ConnectedComponents.hashMin]] over the directed residual edges, run
 *     to fixpoint by [[Superstep.untilStable]] (two supersteps per driver
 *     action).
 *  3. **CONFIRM backward** — every color class has a root r with f(r) = r
 *     (no smaller vertex reaches r). Flag vertices that reach r along
 *     color-homogeneous edges: flagged members of class r are exactly
 *     SCC(r). r is SCC(r)'s minimum — a smaller member u would reach r and
 *     force f(r) ≤ u < r. All classes confirm in parallel; the flag is a
 *     min-label (0 = reaches its root, 1 = not yet), the SAME HashMin run
 *     over the reversed homogeneous edges.
 *  4. Remove confirmed SCCs (paths between surviving mutually-reachable
 *     vertices never pass through a removed SCC — any such intermediate
 *     would share their cycle and have been removed with them); repeat.
 *
 * Scale shape: every step is an equi-join or aggregate on vid — no
 * cartesian, no global sort, no driver-side row data. The O(|V|) label side
 * broadcasts below `broadcastMaxRows` (shuffle-hash beyond), re-sized by the
 * residual |V| each round; the label state is the kernel's checkpoint
 * chain, which keeps its hash partitioning. Worst case (a chain of k
 * non-trivial SCCs behind one minimum color) needs k rounds — the published mitigation is recursing on both reachability sides
 * (FW-BW); web-shaped graphs (one giant SCC, DAG periphery) finish in 1–2
 * rounds after trim, which is why coloring is the distributed choice.
 */
object StronglyConnectedComponents {

  /** All vertices of `edges` (self-loops count as presence), each labeled
    * with the minimum vid of its SCC. Output: (vid, scc_id), one eager
    * checkpoint. `assumeDistinct = true` skips the defensive edge dedup (one
    * whole exchange) when the caller guarantees the input edge set is
    * already distinct — DocGraph.edges / its laid-out variants are. */
  def run(spark: SparkSession, edges: DataFrame, maxRounds: Int = 64,
          broadcastMaxRows: Long = Superstep.BroadcastMaxRows,
          assumeDistinct: Boolean = false): DataFrame = {
    val e0 = edges.select(col("src"), col("dst")).filter(col("src") =!= col("dst"))
    var e = (if (assumeDistinct) e0 else e0.distinct()).localCheckpoint(true)
    val nE = e.count()
    // r6: shuffle width right-sized from the materialized |E| (the former
    // fixed conf width scheduled 32 near-empty tasks per superstep on small
    // remainders — PageRank.run's rationale, applied here)
    val parts = Superstep.width(spark, nE)
    // self-loops are SCC-irrelevant (v is always in its own SCC) but their
    // endpoints are still vertices
    // lazy: the |V| count on the next line is the materializing action (r6)
    var v = GraphOps.vertices(edges).repartition(parts, col("vid")).localCheckpoint(false)
    var nV = v.count()
    // re-sized as the residual vertex set shrinks
    def pin(df: DataFrame): DataFrame = Superstep.pinFor(nV, broadcastMaxRows)(df)

    /** HashMin to fixpoint from `init` (vid, label) along `laid`'s edges,
      * with the residual vertex set as the kernel's vertex table. The input
      * |E| bounds every residual edge set, which the kernel reads only for
      * its empty-graph test and crossover: no count job. */
    def minLabels(laid: DataFrame, init: DataFrame): DataFrame = {
      val g = new Superstep((laid, nE, parts), broadcastMaxRows, Some(v -> nV))
      g.untilStable(init, Int.MaxValue, col("label") < col("old"))(ConnectedComponents.hashMin(g))
    }

    val results = ArrayBuffer.empty[DataFrame]
    var round = 0
    while (nV > 0 && round < maxRounds) {
      // 1. trim to fixpoint — two jobs per cascading sweep (survivor count +
      // edge-set shrink); the dropped-singleton bookkeeping is ONE deferred
      // anti-join against the pre-trim vertex set, not a per-sweep pass
      var trimming = true
      var cur = v // current survivor set
      while (trimming && nV > 0) {
        val keep = e.select(col("src").as("vid"), lit(1).as("o"), lit(0).as("i"))
          .unionByName(e.select(col("dst").as("vid"), lit(0).as("o"), lit(1).as("i")))
          .groupBy("vid").agg(max(col("o")).as("o"), max(col("i")).as("i"))
          .filter(col("o") === 1 && col("i") === 1)
          .select("vid").localCheckpoint(false)
        val nKeep = keep.count() // materializes the lazy checkpoint
        if (nKeep == nV) {
          GraphOps.freeCheckpoint(keep)
          trimming = false
        } else {
          nV = nKeep
          val e2 = e.join(pin(keep.select(col("vid").as("src"))), Seq("src"), "left_semi")
            .join(pin(keep.select(col("vid").as("dst"))), Seq("dst"), "left_semi")
            .select(col("src"), col("dst")).localCheckpoint(true)
          GraphOps.freeCheckpoint(e)
          e = e2
          if (cur ne v) GraphOps.freeCheckpoint(cur)
          cur = keep
        }
      }
      if (cur ne v) {
        // everything peeled across all sweeps, in one pass; isolated vertices
        // never reach `keep` (no edge rows), so the anti-join drops them too
        results += v.join(cur, Seq("vid"), "left_anti")
          .select(col("vid"), col("vid").as("scc_id")).localCheckpoint(true)
        GraphOps.freeCheckpoint(v)
        v = cur
      }
      if (nV > 0) {
        // 2. forward min-label coloring: f as `label`
        val f = minLabels(e, v.select(col("vid"), col("vid").as("label")))
        // 3. backward confirmation over the reversed color-homogeneous edges
        // lazy: the backward phase's first action materializes these blocks
        // (f is still alive then — it is freed only after `found`
        // materializes), saving one driver action (r6)
        val he = e
          .join(pin(f.select(col("vid").as("src"), col("label").as("fs"))), Seq("src"))
          .join(pin(f.select(col("vid").as("dst"), col("label").as("fd"))), Seq("dst"))
          .filter(col("fs") === col("fd"))
          .select(col("dst").as("src"), col("src").as("dst")).localCheckpoint(false)
        val fl = minLabels(he,
          f.select(col("vid"), when(col("vid") === col("label"), 0L).otherwise(1L).as("label")))
        val found = f.join(fl.filter(col("label") === 0L).select("vid"), Seq("vid"), "left_semi")
          .select(col("vid"), col("label").as("scc_id")).localCheckpoint(true)
        results += found
        Seq(he, f, fl).foreach(GraphOps.freeCheckpoint)
        val v2 = v.join(found, Seq("vid"), "left_anti").localCheckpoint(true)
        GraphOps.freeCheckpoint(v)
        v = v2
        nV = v.count()
        val e2 = e.join(pin(v.select(col("vid").as("src"))), Seq("src"), "left_semi")
          .join(pin(v.select(col("vid").as("dst"))), Seq("dst"), "left_semi")
          .select(col("src"), col("dst")).localCheckpoint(true)
        GraphOps.freeCheckpoint(e)
        e = e2
      }
      round += 1
    }
    require(nV == 0, s"SCC did not finish within $maxRounds rounds ($nV vertices left)")
    // the empty residual vertex set seeds the union: an empty edge table
    // gives an empty result with the usual schema
    val out = results.foldLeft(v.select(col("vid"), col("vid").as("scc_id")))(_ unionByName _)
      .localCheckpoint(true)
    (results ++ Seq(v, e)).foreach(GraphOps.freeCheckpoint)
    out
  }
}
