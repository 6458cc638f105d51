package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Connected components via iterative min-label hash-join propagation
 * (HashMin — BASELINE.json:6; cf. Kiveris et al., "Connected Components in
 * MapReduce and Beyond", SoCC 2014). Labels are **exact**: label(v) = min
 * vertex id reachable from v treating edges as undirected.
 *
 * Each superstep: every vertex sends its current label along every undirected
 * edge; new label = min(own, received). Converged when no label changes —
 * integer exactness makes the stop test exact. The loop is
 * [[Superstep.untilStable]] over the src-partitioned cached symmetric edge
 * table, so per-superstep shuffle is O(|V|) labels, not O(|E|) edges.
 *
 * HashMin rounds = graph diameter; web graphs are small-diameter so this is
 * the right trade at scale ([[runAlternating]] is the O(log n)-round variant
 * behind the same output contract).
 */
object ConnectedComponents {

  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 100,
          broadcastMaxRows: Long = Superstep.BroadcastMaxRows): DataFrame =
    runLaid(Superstep.lay(GraphOps.symmetrized(edges)), maxIter, broadcastMaxRows)

  /** [[run]] over a laid symmetric edge table (e.g. DocGraph.laidSym's
    * one-exchange layout), which is unpersisted on return. */
  private[graft] def runLaid(laidSym: Superstep.Laid, maxIter: Int = 100,
                             broadcastMaxRows: Long = Superstep.BroadcastMaxRows): DataFrame = {
    val g = Superstep(laidSym, broadcastMaxRows)
    g.untilStable(g.vertices.select(col("vid"), col("vid").as("label")), maxIter,
      col("label") < col("old"))(hashMin(g))
  }

  /** One HashMin superstep over `g`'s symmetric edges: the least of a
    * vertex's own and its neighbours' labels, with the previous label in
    * `old`. */
  private[graft] def hashMin(g: Superstep)(st: DataFrame): DataFrame = {
    val sym = g.edges
    sym.join(g.pin(st), sym("src") === st("vid"))
      .select(sym("dst").as("vid"), st("label"), lit(null).cast("long").as("old"))
      .unionByName(st.select(col("vid"), col("label"), col("label").as("old")))
      .groupBy("vid").agg(min(col("label")).as("label"), min(col("old")).as("old"))
  }

  // ---------------------------------------------------------------------------
  // Alternating large-star / small-star (Kiveris et al., SoCC 2014, Alg. 3):
  // O(log n) rounds regardless of diameter — the scale-safe variant for
  // high-diameter graphs where HashMin's rounds = diameter is the bottleneck.
  // Maintains a parent-pointer edge set that contracts into star forests.
  // ---------------------------------------------------------------------------

  /** large-star: every node attaches its STRICTLY LARGER neighbors to the
    * minimum of its closed neighborhood — emits (v, m(u)) for v ∈ Γ(u), v > u,
    * m(u) = min(Γ(u) ∪ {u}). Output edges always point larger→smaller.
    * `pin` selects the physical join for the O(|V|) min-table side
    * (broadcast below the crossover, shuffle-hash beyond — a blanket
    * shuffle_hash hint blocks AQE's broadcast at small |V|, the same measured
    * anti-pattern that cost q_lp 3× before its pin). */
  private[graph] def largeStar(e: DataFrame,
                               pin: DataFrame => DataFrame, parts: Int): DataFrame = {
    // width control is per-plan (explicit repartition on the shuffle keys —
    // the following groupBy/join/distinct reuse that partitioning, so no
    // second exchange appears), NOT a session-conf override: mutating the
    // session's shuffle width for the loop's duration silently clamped
    // any concurrent query on the same session (ADVICE r4)
    val sym = e.select(col("src").as("u"), col("dst").as("v"))
      .union(e.select(col("dst").as("u"), col("src").as("v")))
      .repartition(parts, col("u"))
    val m = sym.groupBy("u").agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("mv"), col("u")).as("m"))
    sym.join(pin(m), "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("src"), col("m").as("dst"))
      .repartition(parts, col("src"), col("dst"))
      .distinct()
  }

  /** small-star: seen from each edge's LARGER endpoint u over its smaller
    * neighbors N(u) — emits (u, m) and (v, m) for v ∈ N(u) \ {m},
    * m = min(N(u)). */
  private[graph] def smallStar(e: DataFrame,
                               pin: DataFrame => DataFrame, parts: Int): DataFrame = {
    val dir = e.filter(col("src") =!= col("dst")).select(
      greatest(col("src"), col("dst")).as("u"),
      least(col("src"), col("dst")).as("v"))
      .repartition(parts, col("u"))
    val withM = dir.join(pin(dir.groupBy("u").agg(min(col("v")).as("m"))), "u")
    withM.select(col("u").as("src"), col("m").as("dst"))
      .union(withM.filter(col("v") =!= col("m"))
        .select(col("v").as("src"), col("m").as("dst")))
      .repartition(parts, col("src"), col("dst"))
      .distinct()
  }

  /**
   * Connected components by alternating large-star/small-star contraction —
   * O(log n) rounds regardless of diameter (HashMin above needs
   * diameter-many). Same output contract as [[run]]: (vid, label) with
   * label = min vertex id of the component, exactly.
   *
   * Convergence = exact edge-set fixpoint (empty symmetric difference —
   * sufficient because both sides are distinct sets). A weaker structural
   * test like "no dst appears as src" is NOT safe: a node can hold parents
   * into two not-yet-merged stars of one component and still pass it. At the
   * true fixpoint the paper guarantees one min-rooted star per component.
   */
  def runAlternating(spark: SparkSession, edges: DataFrame,
                     maxIter: Int = 50,
                     broadcastMaxRows: Long = Superstep.BroadcastMaxRows): DataFrame =
    runAlternatingDetailed(spark, edges, maxIter, broadcastMaxRows)._1

  /** [[runAlternating]] plus the number of contraction rounds it took — the
    * round count feeds the jobs-per-round regression test (wall-clock bench
    * evidence proved contaminable; the structural job count is not). */
  private[graft] def runAlternatingDetailed(
      spark: SparkSession, edges: DataFrame,
      maxIter: Int = 50,
      broadcastMaxRows: Long = Superstep.BroadcastMaxRows): (DataFrame, Int) = {
    val verts = GraphOps.vertices(edges).localCheckpoint(true)
    var e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .localCheckpoint(true)
    // the per-round min tables are keyed by vertex — the kernel's crossover,
    // sized by a cheap count on the checkpointed vertex set
    val pin = Superstep.pinFor(verts.count(), broadcastMaxRows)
    // right-size the per-round shuffle width from the materialized edge count
    // (stars symmetrize, hence 2×) — applied as explicit repartitions on the
    // shuffle keys inside the star operators, which the downstream
    // groupBy/join/distinct reuse. At scale the clamp is inert and the
    // configured width is kept.
    val eCnt = e.count()
    val parts = Superstep.width(spark, eCnt * 2)
    try {
      var iter  = 0
      var fixed = false
      while (!fixed && iter < maxIter) {
        val next = smallStar(largeStar(e, pin, parts), pin, parts).localCheckpoint(false)
        // ONE job per round: the symmetric-difference count over a full-outer
        // join decides the exact fixpoint in the same action that materializes
        // the lazily-checkpointed next edge set (both sides are distinct sets,
        // so zero mismatches ⟺ set equality — same criterion as the former
        // count + anti-join pair, without their two extra driver actions).
        val mism = next.withColumn("inN", lit(1))
          .join(e.withColumn("inO", lit(1)), Seq("src", "dst"), "full_outer")
          .agg(coalesce(sum(when(col("inN").isNull || col("inO").isNull, 1L)
            .otherwise(0L)), lit(0L)))
          .first().getLong(0)
        fixed = mism == 0L
        GraphOps.freeCheckpoint(e)
        e = next
        iter += 1
      }
      // at the fixpoint every vertex holds exactly one min-rooted parent; an
      // exhausted maxIter would instead leave arbitrary multi-parent state that
      // dropDuplicates would silently resolve wrong — fail loudly instead
      require(fixed,
        s"alternating CC did not reach the edge-set fixpoint in $maxIter rounds " +
          s"(graph needs more rounds — raise maxIter; labels would be arbitrary)")
      // materialize BEFORE freeing the vertex/edge checkpoints the plan reads
      // (the eager localCheckpoint makes `labels` independent of them; the
      // finally block then frees verts/e on success AND failure paths alike —
      // the require above previously leaked both block sets, ADVICE r4)
      val labels = verts
        .join(e.withColumnRenamed("src", "vid").withColumnRenamed("dst", "root")
          .dropDuplicates("vid"), Seq("vid"), "left")
        .select(col("vid"), coalesce(col("root"), col("vid")).as("label"))
        .localCheckpoint(true)
      (labels, iter)
    } finally {
      GraphOps.freeCheckpoint(verts)
      GraphOps.freeCheckpoint(e)
    }
  }
}
