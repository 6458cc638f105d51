package graft.graph

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointShim
import org.apache.spark.storage.StorageLevel

/**
 * The superstep loop of a vertex program over a laid edge table
 * ([[Superstep.lay]]). PageRank,
 * connected components, label propagation, the two label phases of strongly
 * connected components, condensation layering, k-truss peeling, the exact
 * and HyperBall neighbourhood balls, harmonic centrality and the fixed-k
 * doc-graph drivers supply an initial state and one superstep; the kernel
 * owns the rest:
 *
 *  - the vertex table: `(vid)`, hash-laid at the edges' width, or one the
 *    caller built with its |V| (PageRank's `(vid, outDeg)`);
 *  - the join pin, decided by the engine's one broadcast-or-shuffle-hash
 *    crossover ([[broadcasts]]). It is sized by |V|, because the state side
 *    of a superstep join holds a row per vertex: broadcast while the session
 *    allows broadcast joins and |V| ≤ `broadcastMaxRows`, a co-partitioned
 *    shuffle-hash join otherwise. Never sort-merge, which would re-sort the
 *    cached O(|E|) edge side every superstep. |V| ≤ 2|E|, so |V| is counted
 *    only when 2|E| passes the crossover. `broadcastMaxRows` is
 *    [[Superstep.BroadcastMaxRows]] for every driver but PageRank, which
 *    passes its config's;
 *  - the checkpoint chain. Each superstep's state is a lazy
 *    `localCheckpoint`: the plan is truncated, execution waits for the one
 *    closing action, so a fixed-k run costs no driver action per superstep.
 *    A step that attaches an in-plan scalar (`GraphOps.attachScalar`)
 *    checkpoints eagerly beyond the crossover, so the scalar's broadcast
 *    build never carries a whole superstep inside
 *    `spark.sql.broadcastTimeout`. A converging run ([[converge]])
 *    checkpoints eagerly once per action and observes its stop test's sums
 *    in that same pass;
 *  - freeing: the intermediate checkpoints, the laid edges and a
 *    caller-built vertex table are released before the result returns. Only
 *    the result's own checkpoint stays, and the caller frees it;
 *  - an empty graph: no superstep runs, and the result is the (empty)
 *    output of the initial state.
 *
 * The state's columns are the initial state's; columns a step adds, such as
 * the previous value a change test reads, are dropped after the step.
 */
final class Superstep private[graph] (laid: Superstep.Laid, broadcastMaxRows: Long,
                                      table: Option[(DataFrame, Long)]) {
  val (edges: DataFrame, numEdges: Long, parts: Int) = laid

  /** every vertex id, laid out by `vid` at `parts`; or `table`, a
    * caller-built vertex table with its |V|, released with the laid edges */
  val vertices: DataFrame =
    table.fold(GraphOps.vertices(edges).repartition(parts, col("vid")))(_._1)

  /** |V|, counted on first use */
  lazy val nV: Long = table.fold(vertices.count())(_._2)

  // lazy: a driver whose joins are unpinned never counts |V|
  private lazy val broadcasts = Superstep.broadcasts(edges.sparkSession,
    if (2 * numEdges <= broadcastMaxRows) 2 * numEdges else nV, broadcastMaxRows)

  lazy val pin: DataFrame => DataFrame = Superstep.pinWhen(broadcasts)

  /** Exactly `k` supersteps from `init`; `step(state, i)` computes the i-th
    * (1-based). `scalar` marks a step that attaches an in-plan scalar. The
    * result is `out` of the last state, eagerly checkpointed. */
  def fixedK(init: DataFrame, k: Int, scalar: Boolean = false,
             out: DataFrame => DataFrame = identity)
            (step: (DataFrame, Int) => DataFrame): DataFrame = {
    val keep = init.columns.map(col).toSeq
    val eager = scalar && !broadcasts
    val chain = ArrayBuffer(init.localCheckpoint(false))
    for (i <- 1 to (if (numEdges == 0) 0 else k)) {
      val next = step(chain.last, i).select(keep: _*)
      chain += (if (eager) CheckpointShim.localCheckpoint(next) else next.localCheckpoint(false))
    }
    release(CheckpointShim.localCheckpoint(out(chain.last)), chain)
  }

  /**
   * Supersteps from `init` until one changes no row, at most `maxIter`.
   * `changed` is evaluated on a step's output, before its extra columns are
   * dropped. Supersteps run in pairs, one driver action per pair
   * ([[converge]] with stride 2 over the change count). A superstep whose
   * input is a fixpoint is the identity, so stopping on the second step's
   * zero count stops at the same state as a test after every step, at the
   * cost of at most one redundant superstep.
   */
  def untilStable(init: DataFrame, maxIter: Int, changed: Column)
                 (step: DataFrame => DataFrame): DataFrame =
    converge(init.localCheckpoint(false), Seq(1L), Seq(when(changed, 1L).otherwise(0L)),
      stride = 2, maxIter)((st, _) => step(st))(_.head == 0)

  /**
   * Supersteps from `init` until `stop` holds, at most `maxIter` counting
   * the `from` that ran before (a resumed run; the last action shrinks to
   * keep it exactly). Each driver action runs `stride` supersteps: the first
   * `stride - 1` chain lazily, and the pass that eagerly checkpoints the last
   * observes the exact sums of the long `terms` over its rows, before the
   * step's extra columns are dropped ([[Superstep.materialize]]).
   * `step(state, sums)` gets the previous action's sums (`seed` before the
   * first), which `stop` tests before every action; `each(iter, sums,
   * state)` runs after every action, `iter` its last superstep (0-based).
   * Each state is freed once the next is materialized; the last is returned.
   */
  def converge(init: DataFrame, seed: Seq[Long], terms: Seq[Column],
               stride: Int, maxIter: Int, from: Int = 0)
              (step: (DataFrame, Seq[Long]) => DataFrame)
              (stop: Seq[Long] => Boolean,
               each: (Int, Seq[Long], DataFrame) => Unit = (_, _, _) => ()): DataFrame = {
    val keep = init.columns.toSeq
    var state = init
    var sums  = seed
    var iter  = from
    while (numEdges > 0 && iter < maxIter && !stop(sums)) {
      val chain = ArrayBuffer(state)
      for (_ <- 1 until math.min(stride, maxIter - iter))
        chain += step(chain.last, sums).select(keep.map(col): _*).localCheckpoint(false)
      val (next, s) = Superstep.materialize(step(chain.last, sums), keep, terms: _*)
      iter += chain.size
      each(iter - 1, s, next)
      chain.foreach(free)
      state = next
      sums = s
    }
    if (state ne init) release(state, Nil)
    else release(CheckpointShim.localCheckpoint(init), Seq(init))
  }

  /** Frees `state` if it is a checkpoint. A state that is a plan (a cold
    * start over a cached table) reads the caller's input, not ours to free. */
  private def free(state: DataFrame): Unit =
    if (state.queryExecution.logical.isInstanceOf[LogicalRDD]) GraphOps.freeCheckpoint(state)

  private def release(result: DataFrame, chain: Iterable[DataFrame]): DataFrame = {
    chain.foreach(free)
    edges.unpersist(false)
    table.foreach(_._1.unpersist(false))
    result
  }
}

object Superstep {

  /** An edge table laid out for iteration: (cached edges, |E|, partitions). */
  type Laid = (DataFrame, Long, Int)

  /** Edges per task of a right-sized width. */
  private val EdgesPerPart = 50000L

  /**
   * The width of an iteration over `rows` edges: one partition per 50k
   * edges, at least `minParts` and at most the session width
   * (`spark.sql.shuffle.partitions`), which caps `minParts` too. A superstep
   * stage schedules one task per partition, so a 20k-edge graph at 32
   * partitions pays 32 near-empty tasks per superstep (3.6 s against 0.6 s
   * per superstep at sf0.1). At scale the rule is inert: past
   * 50k × session width edges the session width is kept.
   *
   * The floor is the caller's, because no one floor suits every driver. A
   * one-partition layout plans as `SinglePartition`, which PageRank's
   * co-partitioned superstep joins do not accept, so it floors at 2. On the
   * 45k-edge perfbench graphs (4 cores, AQE), PageRank in the broadcast
   * regime took 5.2–6.4 s at width 1 against 3.7–4.2 s at width 2, while LP
   * took 2.9–3.4 s at width 1 against 4.1–4.7 s at width 2.
   */
  def width(spark: SparkSession, rows: Long, minParts: Int = 1): Int = {
    val session = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    math.max(math.min(minParts, session), math.min(session.toLong, rows / EdgesPerPart).toInt)
  }

  /**
   * `edges` laid out for iteration, with its exact |E| and its width:
   * hash-partitioned on `key`, so every superstep join on it reuses the
   * layout and only the state side shuffles; sorted within partitions, so a
   * superstep's probe side streams per-key runs; persisted MEMORY_AND_DISK
   * for all supersteps. The width ([[width]], floored at `minParts`) is
   * picked one of three ways:
   *
   *  - `parts` > 0 pins it: laid at exactly `parts`, then counted;
   *  - `estimate`, a job-free estimate of |E|, right-sizes it before the one
   *    exchange, and the exact (src, dst) dedup rides that exchange:
   *    `HashPartitioning(key)` satisfies the distinct's
   *    `ClusteredDistribution(src, dst)`, so Catalyst inserts no second
   *    shuffle. The raw rows shuffle unaggregated (the explicit repartition
   *    precedes the dedup, so there is no map-side combine): use it only
   *    where raw ≈ distinct, as in the doc graph, whose duplicates are
   *    per-doc hash collisions (≲0.2%). The estimate picks only the width;
   *    |E| is counted;
   *  - otherwise laid at the session width and counted, then, when the
   *    count right-sizes it narrower, re-laid once from the cache (one small
   *    shuffle, saved on every superstep).
   *
   * Lifetime: the caller owns the cached table. Every iterative driver that
   * takes one (the [[Superstep]] drivers and WL refinement) unpersists it
   * before returning its eagerly checkpointed result.
   */
  def lay(edges: DataFrame, key: String = "src", parts: Int = 0, minParts: Int = 1,
          estimate: Option[Long] = None): Laid = {
    val spark = edges.sparkSession
    def at(p: Int, df: DataFrame, dedup: Boolean): DataFrame = {
      val ex = df.repartition(p, col(key))
      (if (dedup) ex.dropDuplicates("src", "dst") else ex)
        .sortWithinPartitions(key).persist(StorageLevel.MEMORY_AND_DISK)
    }
    val first = if (parts > 0) parts else width(spark, estimate.getOrElse(Long.MaxValue), minParts)
    val e0 = at(first, edges, estimate.isDefined)
    val n = e0.count()
    val p = if (parts > 0 || estimate.isDefined) first else width(spark, n, minParts)
    if (p == first) (e0, n, p)
    else {
      val e = at(p, e0, dedup = false)
      e.count()
      e0.unpersist(false)
      (e, n, p)
    }
  }

  /** |V| up to which a superstep broadcasts its vertex-state side. Raising it
    * past 500k rows was probed at the 2M-vertex headline and rejected: the
    * per-superstep broadcast build (collect plus a hash relation of |V| rows)
    * cost more than the contribution shuffle it replaced. */
  val BroadcastMaxRows = 500000L

  def apply(laid: Laid): Superstep = new Superstep(laid, BroadcastMaxRows, None)

  /** The engine's one broadcast-or-shuffle-hash crossover: a join side of
    * `rows` rows broadcasts when `spark` allows broadcast joins (Spark's own
    * `spark.sql.autoBroadcastJoinThreshold` is not negative) and `rows` ≤
    * `maxRows`. An explicit broadcast hint overrides a session that disabled
    * broadcast joins, so every pin asks here first. `rows` is evaluated only
    * when the session allows broadcasts. */
  def broadcasts(spark: SparkSession, rows: => Long, maxRows: Long = BroadcastMaxRows): Boolean =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.autoBroadcastJoinThreshold >= 0 &&
      rows <= maxRows

  /** The join pin for a vertex-keyed side of `rows` rows in the session of
    * the frame it pins ([[broadcasts]]): broadcast, or a shuffle-hash join. */
  def pinFor(rows: Long): DataFrame => DataFrame =
    df => pinWhen(broadcasts(df.sparkSession, rows))(df)

  private def pinWhen(broadcasts: Boolean): DataFrame => DataFrame =
    if (broadcasts) broadcast(_) else shuffleHash

  /** The shuffle-hash pin, also for a join whose sides are both already
    * hash-partitioned on its key, so that neither is sorted. */
  val shuffleHash: DataFrame => DataFrame = _.hint("shuffle_hash")

  /** Eagerly checkpoint `df` projected to `keep`, keeping its hash
    * partitioning ([[CheckpointShim]]), and return the exact sums of the
    * long-valued `terms` over its rows, observed in the same pass. A sum
    * over no rows is 0. */
  def materialize(df: DataFrame, keep: Seq[String], terms: Column*): (DataFrame, Seq[Long]) = {
    val sums = terms.zipWithIndex.map { case (t, i) => sum(t).as(s"s$i") }
    val observed = df.observe("superstep_sums", sums.head, sums.tail: _*)
      .select(keep.map(col): _*)
    val cp = CheckpointShim.localCheckpoint(observed)
    val row = observed.queryExecution.observedMetrics("superstep_sums")
    (cp, terms.indices.map(i => if (row.isNullAt(i)) 0L else row.getLong(i)))
  }

  /** `v` as a column whose generated code does not depend on `v`: a literal
    * is inlined into the generated code, so a new value compiles anew. */
  def scalar(v: Double): Column = udf(() => v).asNonNullable().apply()
}
