package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * J4 — hub-vertex salting for the superstep contribution join
 * (BASELINE.json:6,14: "hub-vertex salting, AQE skew-join splits" — this is
 * the explicit layer; AQE skew-join is enabled in session conf as layer 2).
 *
 * AQE splits skewed *shuffle partitions* after the fact, but a single hot key
 * (a hub page with 10⁷ out-links) still hashes to one task. Salting fixes the
 * key itself: the hub's rank row is replicated `S` ways with an explicit salt
 * column, hub edges pick a deterministic salt from `xxhash64(dst)`, and the
 * join key becomes `(vid, salt)` — spreading one hot key over S tasks.
 *
 * Hub membership travels as a broadcast DataFrame semi-join, never as a
 * collected `isin` literal: a heavy-tailed 10¹²-vertex graph can put 10⁵–10⁶
 * vertices over any degree threshold, and a multi-megabyte literal predicate
 * serialized into every task is exactly the driver bottleneck the broadcast
 * avoids. Only hub keys are salted; the (vastly larger) non-hub edge set
 * takes the plain co-partitioned join with zero overhead. Salt values derive
 * from `xxhash64`, never `rand()` (determinism rule, SURVEY.md §7.4).
 */
object Salting {

  /**
   * Per-destination contribution SUMS `(dst, s)` of `edges ⋈ rankDeg on
   * src = vid`. `rankDeg` columns: (vid, w) where w = rank/outDeg. `hubs`
   * columns: (vid) — the hub vertex set; `hubCount` is its
   * (caller-materialized) size so the zero-hub fast path costs nothing.
   * `pin` is the superstep kernel's physical join for the rank side
   * ([[Superstep.pin]]: broadcast for small rank tables, shuffle-hash
   * co-partitioned with the cached edge layout otherwise; never SMJ, which
   * would re-sort the O(|E|) edge side every superstep).
   *
   * The hub and non-hub branches are PRE-aggregated separately and merged
   * by union + re-aggregate (r6, guide §2.3 "aggregate before you
   * shuffle"): each branch reduces to ≤|V| per-destination partials, not
   * O(|E|) raw contributions, before the wire — on a dst-partitioned edge
   * layout (the broadcast regime's) both partial aggregations run
   * exchange-free. The merge deliberately uses UNION, not
   * a join of the two aggregated branches: plan-stat estimation SUMS a
   * union's sizeInBytes but MULTIPLIES a join's, and a per-superstep join
   * of two subtrees that both reference the previous superstep's
   * checkpoint compounds the estimate exponentially across supersteps —
   * measured as a Catalyst planning livelock (minutes of BigInteger
   * arithmetic inside stats rewrite) by superstep ~20 when this merge was
   * first written as a full-outer join. Summation order differs from the
   * single-aggregate form by one extra add level per hub destination —
   * inside every caller's pinned tolerance (goldens 1e-9, e7/round-7
   * oracles).
   */
  def contribSums(edges: DataFrame, rankDeg: DataFrame,
                  hubs: DataFrame, hubCount: Long, saltBuckets: Int,
                  pin: DataFrame => DataFrame): DataFrame = {
    def sums(e: DataFrame, r: DataFrame, on: Column): DataFrame =
      e.join(r, on).select(e("dst"), r("w")).groupBy("dst").agg(sum(col("w")).as("s"))
    val ranks = pin(rankDeg)
    if (hubCount == 0 || saltBuckets <= 1) sums(edges, ranks, edges("src") === ranks("vid"))
    else {
      val h = broadcast(hubs.select(col("vid").as("hub")))
      val hubEdges = edges.join(h, edges("src") === h("hub"), "left_semi")
        .withColumn("salt", pmod(xxhash64(col("dst")), lit(saltBuckets)).cast("int"))
      val restEdges = edges.join(h, edges("src") === h("hub"), "left_anti")
      // hub rank rows are few relative to |V| — broadcast the replicated side
      val hubRanks = broadcast(
        rankDeg.join(h, rankDeg("vid") === h("hub"), "left_semi")
          .withColumn("salt", explode(sequence(lit(0), lit(saltBuckets - 1)))))
      sums(restEdges, ranks, restEdges("src") === ranks("vid"))
        .unionByName(sums(hubEdges, hubRanks,
          hubEdges("src") === hubRanks("vid") && hubEdges("salt") === hubRanks("salt")))
        .groupBy("dst").agg(sum(col("s")).as("s"))
    }
  }
}
