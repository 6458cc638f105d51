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

  def run(spark: SparkSession, edges: DataFrame,
          numPartitions: Int = 0, maxIter: Int = 20,
          broadcastMaxRows: Long = 500000L): DataFrame = {
    // explicit numPartitions honored exactly; otherwise right-sized from the
    // materialized symmetric edge count (same rationale as PageRank.run)
    val laid =
      if (numPartitions > 0) {
        val s0 = GraphOps.partitionForIteration(GraphOps.symmetrized(edges), numPartitions)
        (s0, s0.count(), numPartitions)
      } else {
        GraphOps.layoutForIteration(GraphOps.symmetrized(edges),
          spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
      }
    runLaid(spark, laid, maxIter, broadcastMaxRows)
  }

  /** [[run]] core over a pre-laid-out symmetric edge table (cached,
    * src-hash-partitioned — e.g. DocGraph.laidSym's one-exchange layout). */
  private[graft] def runLaid(spark: SparkSession, laidSym: (DataFrame, Long, Int),
                             maxIter: Int = 20,
                             broadcastMaxRows: Long = 500000L): DataFrame = {
    val (sym, _, parts) = laidSym
    // lazy: the |V| count below is the materializing action (r6)
    var labels = GraphOps.vertices(sym)
      .select(col("vid"), col("vid").as("label"))
      .repartition(parts, col("vid"))
      .localCheckpoint(false)

    // same broadcast-or-shuffle-hash selection as PageRank/CC: broadcast the
    // O(|V|) label side while it fits, co-partitioned SHJ beyond — never SMJ
    val nV = labels.count()
    def pin(df: DataFrame): DataFrame =
      if (nV <= broadcastMaxRows) broadcast(df) else df.hint("shuffle_hash")

    // one synchronous LPA superstep: most frequent neighbor label, ties →
    // smallest, via an overflow-free descending key (~label is monotone-
    // decreasing over all longs — ANSI-safe, unlike -label on Long.MinValue)
    def superstep(st: DataFrame): DataFrame = {
      val nbr = sym.join(pin(st), sym("src") === st("vid"))
        .select(sym("dst").as("vid"), st("label"))
      val freq = nbr.groupBy("vid", "label").agg(count(lit(1)).as("cnt"))
      val winner = freq.groupBy("vid")
        .agg(max_by(col("label"),
          struct(col("cnt"), bitwise_not(col("label")).as("nl"))).as("newLabel"))
      st.join(pin(winner), Seq("vid"), "left")
        .select(col("vid"), coalesce(col("newLabel"), col("label")).as("label"),
          col("label").as("old"))
    }

    var iter    = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      // STRIDED (r6): up to two supersteps per driver round-trip — the first
      // chains lazily, the second's materializing aggregate folds the
      // changed-count (the former one-job-per-superstep shape, now one job
      // per PAIR). A synchronous-LPA superstep at `changed == 0` is the
      // identity, so the strided stop test equals the per-superstep one;
      // `maxIter` is respected EXACTLY (tail stride shrinks), which is
      // load-bearing: a capped run (q_lp's maxIter = 10) must execute
      // exactly the oracle's superstep count.
      val steps = math.min(2, maxIter - iter)
      val mid =
        if (steps < 2) labels
        else superstep(labels).select("vid", "label").localCheckpoint(false)
      val mat = superstep(mid).localCheckpoint(false) // materialized below
      changed = mat.agg(coalesce(sum(when(col("label") =!= col("old"), 1L).otherwise(0L)), lit(0L)))
        .first().getLong(0)
      GraphOps.freeCheckpoint(labels)
      if (mid ne labels) GraphOps.freeCheckpoint(mid)
      labels = mat.select("vid", "label")
      iter += steps
    }
    sym.unpersist(false)
    labels
  }
}
