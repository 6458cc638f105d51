package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Per-partition lineage stat for one superstep (rows that landed in each
  * hash partition of the new rank state — BASELINE.json:6 "per-partition
  * lineage + iteration metrics"). */
final case class PartStat(pid: Int, rows: Long)

/** Per-superstep metrics (BASELINE.json:6 — checkpointed with the ranks). */
final case class IterMetrics(
    iter: Int,
    l1: Double,
    danglingMass: Double,
    edgesProcessed: Long,
    wallMs: Long,
    partStats: Seq[PartStat])

final case class PageRankResult(
    ranks: DataFrame,
    metrics: Seq[IterMetrics],
    iterations: Int,
    /** how many sources have an out-degree above the (possibly derived) hub
      * threshold this run. A measurement only: no layout or join depends on
      * it ([[PageRank.layout]]). */
    hubCount: Long = 0L,
    hubThreshold: Long = 0L)

final case class PageRankConfig(
    damping: Double = 0.85,
    eps: Double = 1e-9,
    maxIter: Int = 200,
    numPartitions: Int = 0,          // 0 → right-sized, Superstep.width
    /** out-degree above which a source vertex counts as a hub in
      * [[PageRankResult.hubCount]]. 0 → derived from the run's own degree
      * stats (A8): max(1024, |E| / (2·partitions)) — a key holding more than
      * half an average partition's edges is a genuine single-task skew source. */
    hubDegreeThreshold: Long = 0L,
    /** durable checkpoint every k supersteps (resume point); lineage is truncated every superstep regardless. */
    ckptEvery: Int = 5,
    /** the superstep join's crossover (BASELINE.json:6 "broadcast-or-shuffle
      * hash join", [[Superstep.broadcasts]]): the rank side is broadcast while
      * the session allows broadcast joins and |V| ≤ broadcastMaxRows, a
      * co-partitioned shuffle-hash join otherwise; never SMJ, which would
      * re-sort the O(|E|) cached edge side every superstep. 0 forces the
      * shuffle regime, as does a session whose
      * `spark.sql.autoBroadcastJoinThreshold` is negative. */
    broadcastMaxRows: Long = Superstep.BroadcastMaxRows)

/**
 * Damped power-iteration PageRank (d=0.85, dangling-mass redistribution,
 * L1-convergence epsilon) — BASELINE.json:6; golden values FIXTURES.md §2.
 *
 * Superstep = one shuffle-hash (or broadcast) join of ranks against the
 * cached edge table, then a groupBy-destination sum with map-side partial
 * aggregation — the Spark-native form of the reference's CSR gather + block
 * reduction kernels [R].
 *
 * Scale design (SURVEY.md §4.2):
 *  - edges are hash-partitioned ONCE ([[layout]]: on `src` in the shuffle
 *    regime, on `dst` in the broadcast regime) and persisted; every
 *    superstep join reuses that partitioning, so per-iteration shuffle
 *    traffic is O(|V|) ranks + O(|V|) partial sums, never O(|E|) edges;
 *  - the rank state `(vid, rank, outDeg)` is laid out by an explicit
 *    `repartition(parts, vid)` that both the contribution join and the
 *    update join read; AQE can coalesce neither an explicit-count exchange
 *    nor the partial-sum shuffle joined against it, so the state stays
 *    `parts` wide. The update join's output keeps that layout, and the
 *    state's checkpoint records it ([[CheckpointShim]]; Spark's own local
 *    checkpoint under AQE records none), so from the second
 *    superstep on the planner drops the repartition: the state is never
 *    shuffled again;
 *  - dangling mass needs no extra pass: each non-dangling vertex transmits
 *    exactly its rank, so danglingMass = 1 − Σ rank over non-dangling
 *    vertices. That sum and the L1 delta are observed on the pass that
 *    eagerly checkpoints the new state (no closing aggregate, no extra
 *    shuffle) and are summed exactly in fixed point, so the L1 trail and the
 *    superstep count are bit-identical run to run;
 *  - the per-superstep scalar enters the plan through a closure UDF, not a
 *    literal, so every superstep generates the same code and the codegen
 *    cache compiles it once per JVM;
 *  - hub skew: in the broadcast regime every edge is laid by `dst`, so a
 *    hub's edges spread over every partition. In the shuffle regime a
 *    hub's edges stay in its own `src` partition: splitting them off to
 *    join their broadcast rank rows was measured slower than not splitting
 *    (ROADMAP direction 7), and AQE's skew-join splits cannot split the
 *    cached edge scan. `hubCount` reports the hubs either way;
 *  - the loop is the kernel's [[Superstep.converge]], one superstep per
 *    driver action; every `ckptEvery` supersteps the materialized state is
 *    written through the pluggable [[Checkpointer]], so a run resumes
 *    mid-iteration; the run itself continues from memory.
 *
 * Spark jobs per superstep (JobCountSpec). With AQE off, 1: one job runs
 * every stage. With AQE on, each query stage is its own job, so 2: the
 * partial-sum exchange (shuffle regime) or the broadcast build (broadcast
 * regime), then the materializing pass. One exception: in the shuffle regime
 * with `parts` other than the session's shuffle-partition count, the planner
 * lays the update join out at the session's width, so the state is exchanged for
 * the contribution join and again for the update join (4 jobs).
 */
object PageRank {

  /** Pluggable durable checkpoint (implemented by ckpt.IcebergLikeStore). */
  trait Checkpointer {
    /** Persist ranks+metrics for `iter`; return the persisted ranks. `run`
      * continues from its own materialized state and does not read the
      * returned frame. */
    def save(iter: Int, ranks: DataFrame, metrics: Seq[IterMetrics]): DataFrame
    /** Most recent saved state, if any: (iter, ranks, metrics so far). */
    def latest(): Option[(Int, DataFrame, Seq[IterMetrics])]
  }

  /** No durability: nothing is written. */
  object NoopCheckpointer extends Checkpointer {
    def save(iter: Int, ranks: DataFrame, metrics: Seq[IterMetrics]): DataFrame = ranks
    def latest(): Option[(Int, DataFrame, Seq[IterMetrics])] = None
  }

  /** Fixed-point scale of the observed sums. Σ|Δrank| ≤ 2 and Σ rank ≤ 1, so
    * the scaled sums stay below 2^62; each term is rounded to the nearest
    * 2^-60. Long addition is exact, so the order in which task results merge
    * on the driver cannot change the result. */
  private val Scale = math.pow(2, 60)

  /** `t` in fixed point at [[Scale]], for an exact observed sum. */
  private def fixed(t: Column): Column = rint(t * lit(Scale)).cast("long")

  /**
   * The superstep's edge layout. `eSrc` is the edge table laid by `src` at
   * `parts`; `all` says the whole rank state is broadcast (the broadcast
   * regime). There every edge is re-laid by `dst` and `eSrc` is released:
   * the superstep join needs no src clustering (the rank side ships as a
   * hash relation), so the per-destination aggregate lands on the cached
   * partitioning and the superstep runs with NO shuffle — one edge shuffle
   * up front buys `maxIter` shuffle-free supersteps (r6, guide §2.4), and a
   * hub's edges spread over every partition by `pmod(hash(dst), parts)`.
   * The shuffle regime keeps `eSrc`: its join streams the cached edge side.
   * Why the crossover stays at 500k rows: [[Superstep.BroadcastMaxRows]],
   * OPTIMIZATION_r06.md.
   *
   * The dst layout is laid from the src layout at its final width: the
   * order of a destination's in-edges, and so the rounding of its
   * contribution sum, is then the same whether that width was pinned or
   * right-sized.
   */
  private[graft] def layout(eSrc: DataFrame, parts: Int, all: Boolean): DataFrame =
    if (!all) eSrc else {
      val e = Superstep.lay(eSrc, key = "dst", parts = parts)._1
      eSrc.unpersist(false)
      e
    }

  /** Per-destination contribution sums `(dst, s)` of one superstep: the laid
    * edges `e` joined with the pinned rank rows `(vid, w)` of their sources,
    * w = rank/outDeg, summed by `dst`. */
  private[graft] def contribSums(e: DataFrame, r: DataFrame): DataFrame =
    e.join(r, e("src") === r("vid")).select(e("dst"), r("w"))
      .groupBy("dst").agg(sum(col("w")).as("s"))

  def run(spark: SparkSession, edges: DataFrame,
          cfg: PageRankConfig = PageRankConfig(),
          ckpt: Checkpointer = NoopCheckpointer): PageRankResult = {
    val typedEdges =
      edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))

    // --- static per-run state, partitioned for the iteration and cached ---
    // the right-sized width's floor is 2: a one-partition exchange plans as
    // SinglePartition, which the co-partitioned superstep joins do not accept
    // — they re-shuffle the state (and the shuffle regime's edges) each time
    val (eSrc, edgeCount, parts) =
      Superstep.lay(typedEdges, parts = cfg.numPartitions, minParts = 2)

    // hubs: sources above an out-degree threshold, from the run's own degree
    // stats when not pinned (SURVEY.md §5.2)
    val hubThreshold =
      if (cfg.hubDegreeThreshold > 0) cfg.hubDegreeThreshold
      else math.max(1024L, edgeCount / (2L * parts))

    // the vertex table (vid, outDeg), outDeg null for dangling vertices, from
    // ONE aggregation over the laid edges; cached: it is the cold-start state
    // and the resume path's degree side
    val verts = eSrc.select(col("src").as("vid"), lit(1L).as("o"))
      .unionByName(eSrc.select(col("dst").as("vid"), lit(0L).as("o")))
      .groupBy("vid").agg(sum(col("o")).as("o"))
      .select(col("vid"), when(col("o") > 0L, col("o")).as("outDeg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // rows per hash partition of the rank state at `width` partitions: the
    // state is laid out by vid and the vertex set is fixed, so they hold for
    // every superstep
    def partStatsOf(rows: Array[Row], width: Int): Seq[PartStat] = {
      val byPid = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
      (0 until width).map(p => PartStat(p, byPid.getOrElse(p, 0L)))
    }
    def pid(width: Int): Column = pmod(hash(col("vid")), lit(width)).as("pid")
    // ONE action (it also fills the cache): rows, transmitting rows and hubs
    // per partition of the `parts`-wide state
    val byPart = verts.groupBy(pid(parts))
      .agg(count(lit(1)).as("rows"), count(col("outDeg")).as("out"),
        count_if(col("outDeg") > hubThreshold).as("hubs"))
      .collect()
    val n = byPart.map(_.getLong(1)).sum
    val transmitting = byPart.map(_.getLong(2)).sum
    val hubCount = byPart.map(_.getLong(3)).sum
    var partStats = partStatsOf(byPart, parts)

    val d = cfg.damping

    // the kernel releases the laid table it iterates
    val e = layout(eSrc, parts, Superstep.broadcasts(eSrc.sparkSession, n, cfg.broadcastMaxRows))
    val g = new Superstep((e, edgeCount, parts), cfg.broadcastMaxRows, Some(verts -> n))

    // --- resume or cold start: the rank state (vid, rank, outDeg) and, in
    // fixed point, the L1 of the superstep before it (none yet on a cold
    // start: Long.MaxValue reads as 8, above any L1) and the mass its
    // non-dangling vertices transmit. A finished run resumes finished ---
    val transmits = fixed(when(col("outDeg").isNotNull, col("rank")))
    val (startIter, init, seed, metrics0) = ckpt.latest() match {
      case Some((it, saved, ms)) =>
        val (state, Seq(t)) =
          Superstep.materialize(verts.join(saved, Seq("vid")), Seq("vid", "rank", "outDeg"), transmits)
        (it + 1, state, Seq(ms.lastOption.fold(Long.MaxValue)(m => math.rint(m.l1 * Scale).toLong), t),
          ms.toVector)
      case None =>
        (0, verts.select(col("vid"), lit(1.0 / n).as("rank"), col("outDeg")),
          Seq(Long.MaxValue, math.rint(transmitting.toDouble / n * Scale).toLong),
          Vector.empty[IterMetrics])
    }

    // the span of a superstep's wallMs starts where its step is built
    var t0       = 0L
    var dangling = 0.0
    var metrics  = metrics0
    val ranks = g.converge(init, seed, Seq(fixed(abs(col("rank") - col("prev"))), transmits),
        stride = 1, cfg.maxIter, startIter) { (st, sums) =>
      t0 = System.nanoTime()
      dangling = math.max(0.0, 1.0 - sums(1) / Scale)
      val base = (1.0 - d) / n + d * dangling / n

      // the state's layout; a no-op once the state is a checkpoint that
      // already has it. Dangling vertices (outDeg null) own no edges, so the
      // inner contribution join drops them without a filter
      val cur = st.repartition(parts, col("vid"))
      val rankDeg = cur.select(col("vid"), (col("rank") / col("outDeg")).as("w"))
      // per-destination partial sums (J1 + A1)
      val contribs = contribSums(g.edges, g.pin(rankDeg))

      // both sides hash-partitioned on the key — pin SHJ so neither is sorted
      val newRank = Superstep.scalar(base) + lit(d) * coalesce(col("s"), lit(0.0))
      cur.join(Superstep.shuffleHash(contribs), cur("vid") === contribs("dst"), "left")
        .select(cur("vid"), newRank.as("rank"), cur("outDeg"), cur("rank").as("prev"))
    }(_.head / Scale < cfg.eps, (iter, sums, mat) => {
      // in the shuffle regime with `parts` other than the session's shuffle
      // width, the planner lays the update join out at the latter width
      // (and exchanges the state twice); count the state's real partitions once
      val width = mat.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.getNumPartitions
      if (width != partStats.size)
        partStats = partStatsOf(verts.groupBy(pid(width)).count().collect(), width)
      val wallMs = (System.nanoTime() - t0) / 1000000
      metrics = metrics :+ IterMetrics(iter, sums.head / Scale, dangling, edgeCount, wallMs, partStats)

      // durable step: write the state that is already materialized
      if (cfg.ckptEvery > 0 && (iter + 1) % cfg.ckptEvery == 0)
        ckpt.save(iter, mat.select("vid", "rank"), metrics)
    }).select("vid", "rank")

    // the final state is durably recorded once (exact resume point = done)
    val iterations = startIter + metrics.size - metrics0.size
    if (metrics.size > metrics0.size && !(cfg.ckptEvery > 0 && iterations % cfg.ckptEvery == 0))
      ckpt.save(iterations - 1, ranks, metrics)

    PageRankResult(ranks, metrics, iterations, hubCount, hubThreshold)
  }
}
