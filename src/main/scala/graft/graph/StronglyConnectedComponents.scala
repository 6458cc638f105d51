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
 *     directed HashMin, ONE job per superstep (the vertex's own row carries
 *     its previous label so the closing aggregate yields both the new state
 *     and the exact change count — ConnectedComponents.run's fold).
 *  3. **CONFIRM backward** — every color class has a root r with f(r) = r
 *     (no smaller vertex reaches r). Flag vertices that reach r along
 *     color-homogeneous edges: flagged members of class r are exactly
 *     SCC(r). r is SCC(r)'s minimum — a smaller member u would reach r and
 *     force f(r) ≤ u < r. All classes confirm in parallel; the flag is a 0/1
 *     label under max-propagation, the SAME one-job fold as step 2 run
 *     against edge direction.
 *  4. Remove confirmed SCCs (paths between surviving mutually-reachable
 *     vertices never pass through a removed SCC — any such intermediate
 *     would share their cycle and have been removed with them); repeat.
 *
 * Scale shape: every step is an equi-join or aggregate on vid — no
 * cartesian, no global sort, no driver-side row data. The O(|V|) label side
 * broadcasts below `broadcastMaxRows` (shuffle-hash beyond), mirroring
 * ConnectedComponents; state is localCheckpoint-truncated per step. Worst
 * case (a chain of k non-trivial SCCs behind one minimum color) needs k
 * rounds — the published mitigation is recursing on both reachability sides
 * (FW-BW); web-shaped graphs (one giant SCC, DAG periphery) finish in 1–2
 * rounds after trim, which is why coloring is the distributed choice.
 */
object StronglyConnectedComponents {

  /** All vertices of `edges` (self-loops count as presence), each labeled
    * with the minimum vid of its SCC. Output: (vid, scc_id). */
  /** `assumeDistinct = true` skips the defensive edge dedup (one whole
    * exchange) when the caller guarantees the input edge set is already
    * distinct — DocGraph.edges / its laid-out variants are. */
  def run(spark: SparkSession, edges: DataFrame, maxRounds: Int = 64,
          broadcastMaxRows: Long = Superstep.BroadcastMaxRows, verbose: Boolean = false,
          assumeDistinct: Boolean = false): DataFrame = {
    def say(s: => String): Unit = if (verbose) Console.err.println(s"[scc] $s")
    val t0 = System.nanoTime()
    def ms: Long = (System.nanoTime() - t0) / 1000000L
    val e0 = edges.select(col("src"), col("dst")).filter(col("src") =!= col("dst"))
    var e = (if (assumeDistinct) e0 else e0.distinct()).localCheckpoint(true)
    // r6: shuffle width right-sized from the materialized |E| (the former
    // fixed conf width scheduled 32 near-empty tasks per propagate superstep
    // on small remainders — PageRank.run's rationale, applied here)
    val parts = GraphOps.rightSizedParts(e.count(),
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    // self-loops are SCC-irrelevant (v is always in its own SCC) but their
    // endpoints are still vertices
    // lazy: the |V| count on the next line is the materializing action (r6)
    var v = GraphOps.vertices(edges).repartition(parts, col("vid")).localCheckpoint(false)
    var nV = v.count()
    // re-sized as the residual vertex set shrinks
    def pin(df: DataFrame): DataFrame = Superstep.pinFor(nV, broadcastMaxRows)(df)

    /** Label propagation to fixpoint, STRIDED (r6): two supersteps per
      * driver round-trip — the first chains lazily (no `old` bookkeeping,
      * no action), the second carries its previous label and the counting
      * aggregate materializes both in one job. A superstep applied to an
      * already-converged state is the identity (min/max folds are
      * idempotent at fixpoint), so `changed == 0` on the second superstep
      * is exactly the former per-superstep stop test; the cost is at most
      * ONE redundant superstep per propagate call — bounded, stated, and
      * tiny against the halved driver-action count (the forward+backward
      * phases of a web-shaped graph run ~25 supersteps, measured at
      * ~250 ms of action latency each at sf0.1). */
    def propagate(init: DataFrame, labelOf: DataFrame => DataFrame,
                  better: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
                  fold: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
      // lazy: the first stride's counting aggregate materializes it (r6)
      var st = init.repartition(parts, col("vid")).localCheckpoint(false)
      var changed = 1L
      while (changed > 0) {
        // superstep A: lazy, label-only
        val midMsgs = labelOf(st)
        val midOwn  = st.select(col("vid"), col("l"),
          lit(null).cast("long").as("old"))
        val mid = midMsgs.unionByName(midOwn)
          .groupBy("vid").agg(fold(col("l")).as("l"))
          .localCheckpoint(false)
        // superstep B: carries A's label as `old`; the counting agg is the
        // one action that materializes A and B together
        val msgs = labelOf(mid)
        val own  = mid.select(col("vid"), col("l"), col("l").as("old"))
        val mat = msgs.unionByName(own)
          .groupBy("vid").agg(fold(col("l")).as("l"), fold(col("old")).as("old"))
          .localCheckpoint(false)
        changed = mat.agg(sum(when(better(col("l"), col("old")), 1L).otherwise(0L)))
          .first().getLong(0)
        GraphOps.freeCheckpoint(st)
        GraphOps.freeCheckpoint(mid)
        st = mat.select("vid", "l")
        say(s"prop stride (2 steps) changed=$changed at ${ms}ms")
      }
      st
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
        say(s"trim sweep $nV -> $nKeep at ${ms}ms")
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
        // 2. forward min-label coloring (f as `l`)
        val f = propagate(
          v.select(col("vid"), col("vid").as("l")),
          st => e.join(pin(st), e("src") === st("vid"))
            .select(e("dst").as("vid"), st("l"), lit(null).cast("long").as("old")),
          (l, old) => l < old, min)
        // 3. backward confirmation over color-homogeneous edges (flag as `l`)
        // lazy: the backward propagate's first counting aggregate
        // materializes these blocks (f is still alive then — it is freed
        // only after `found` materializes), saving one driver action (r6)
        val he = e
          .join(pin(f.select(col("vid").as("src"), col("l").as("fs"))), Seq("src"))
          .join(pin(f.select(col("vid").as("dst"), col("l").as("fd"))), Seq("dst"))
          .filter(col("fs") === col("fd"))
          .select(col("src"), col("dst")).localCheckpoint(false)
        val fl = propagate(
          f.select(col("vid"), when(col("vid") === col("l"), 1L).otherwise(0L).as("l")),
          st => he.join(pin(st), he("dst") === st("vid"))
            .select(he("src").as("vid"), st("l"), lit(null).cast("long").as("old")),
          (l, old) => l > old, max)
        val found = f.join(fl.filter(col("l") === 1L).select("vid"), Seq("vid"), "left_semi")
          .select(col("vid"), col("l").as("scc_id")).localCheckpoint(true)
        results += found
        GraphOps.freeCheckpoint(he)
        GraphOps.freeCheckpoint(f)
        GraphOps.freeCheckpoint(fl)
        val v2 = v.join(found, Seq("vid"), "left_anti").localCheckpoint(true)
        GraphOps.freeCheckpoint(v)
        v = v2
        nV = v.count()
        say(s"round $round confirmed SCCs; $nV vertices left at ${ms}ms")
        val e2 = e.join(pin(v.select(col("vid").as("src"))), Seq("src"), "left_semi")
          .join(pin(v.select(col("vid").as("dst"))), Seq("dst"), "left_semi")
          .select(col("src"), col("dst")).localCheckpoint(true)
        GraphOps.freeCheckpoint(e)
        e = e2
      }
      round += 1
    }
    require(nV == 0, s"SCC did not finish within $maxRounds rounds ($nV vertices left)")
    GraphOps.freeCheckpoint(v)
    GraphOps.freeCheckpoint(e)
    results.reduce(_.unionByName(_))
  }
}
