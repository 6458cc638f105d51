package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointShim

import graft.functions.Html

/** Directed edge over 64-bit vertex ids (`xxhash64(url)` or raw doc ids). */
final case class Edge(src: Long, dst: Long)

/**
 * Edge-table construction and shared graph primitives (SURVEY.md §3, §4.1).
 *
 * Everything is declarative DataFrame/Dataset — Catalyst prunes the `pages`
 * scan down to `(url, html)` and pushes filters into the parquet reader; the
 * only opaque pieces are the two extraction UDFs, deliberately placed in
 * projections (never in filters) so pushdown survives (SURVEY.md §5.1).
 */
object GraphOps {

  /**
   * §4.1 ingest: pages → deduplicated directed edge table over xxhash64 ids.
   *
   * Scale notes: the scan reads only `url` + `html` (column pruning); the
   * explode fans out before the hash so no array ever crosses a shuffle; the
   * final `dropDuplicates` is the single shuffle (hash on (src,dst), partial
   * aggregation map-side).
   */
  def edgesFromPages(pages: DataFrame): DataFrame = {
    pages
      .select(col("url"), Html.extract_outlinks(col("html")).as("links"))
      .select(col("url"), explode(col("links")).as("raw"))
      .select(col("url"), Html.normalize_url(col("raw"), col("url")).as("link"))
      .filter(col("link").isNotNull)
      .filter(col("link").rlike("^https?://"))        // P3 valid-link predicate
      .select(xxhash64(col("url")).as("src"), xxhash64(col("link")).as("dst"))
      .filter(col("src") =!= col("dst"))              // self-loop removal
      .dropDuplicates("src", "dst")                   // A7
  }

  /** url → vid mapping table (for joining ranks back to urls). */
  def vertexUrls(pages: DataFrame): DataFrame =
    pages.select(xxhash64(col("url")).as("vid"), col("url")).dropDuplicates("vid")

  /** All vertex ids appearing anywhere in the edge set. */
  def vertices(edges: DataFrame): DataFrame =
    edges.select(col("src").as("vid"))
      .union(edges.select(col("dst").as("vid")))
      .distinct()

  /** A2 — out-degree per source vertex (map-side combine then final agg). */
  def outDegrees(edges: DataFrame): DataFrame =
    edges.groupBy(col("src").as("vid")).agg(count(lit(1)).as("outDeg"))
      .select(col("vid"), col("outDeg"))

  def inDegrees(edges: DataFrame): DataFrame =
    edges.groupBy(col("dst").as("vid")).agg(count(lit(1)).as("inDeg"))
      .select(col("vid"), col("inDeg"))

  /** J5 — dangling vertices: V ∖ src(E). */
  def danglingVertices(edges: DataFrame): DataFrame =
    vertices(edges).join(edges.select("src").distinct(),
      col("vid") === col("src"), "left_anti")

  /**
   * U1 — canonical undirected edge set: one row per unordered pair {a,b},
   * a < b, self-loops dropped. Input may be directed and/or contain both
   * orientations; output is exact-deduplicated.
   */
  def undirected(edges: DataFrame): DataFrame =
    edges
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
              greatest(col("src"), col("dst")).as("b"))
      .dropDuplicates("a", "b")

  /** Both directions of the canonical undirected set (for message passing). */
  def symmetrized(edges: DataFrame): DataFrame = {
    val und = undirected(edges)
    und.select(col("a").as("src"), col("b").as("dst"))
      .union(und.select(col("b").as("src"), col("a").as("dst")))
  }

  /**
   * Attach a one-row scalar frame to EVERY row of `df` as a broadcast HASH
   * join on a degenerate NON-foldable key: both sides key on `attr * 0`
   * (always 0, but an attribute expression, so constant folding cannot
   * collapse the join condition to `true` — a literal key folds and plans
   * as the banned BroadcastNestedLoopJoin). This is the r6 idiom behind the
   * zero-actions-per-superstep drivers' in-plan dangling-mass / normalizer
   * scalars; keep the BNLJ-avoidance reasoning HERE, in one audited place.
   * `keyAttr` / `scalarKeyAttr` must be numeric columns of their frames and
   * non-NaN (NaN*0 = NaN would unmatch the key) — vertex ids and
   * coalesced sums qualify.
   */
  def attachScalar(df: DataFrame, keyAttr: Column,
                   scalar: DataFrame, scalarKeyAttr: Column): DataFrame =
    df.withColumn("__k", (keyAttr * 0).cast("int"))
      .join(broadcast(scalar.withColumn("__k", (scalarKeyAttr * 0).cast("int"))),
        Seq("__k"))
      .drop("__k")

  /**
   * Free the block-store storage of a `localCheckpoint`ed DataFrame. The
   * ContextCleaner only drops checkpoint blocks after the RDD is GC'd on the
   * driver — in a tight superstep loop that lags far behind allocation and
   * shows up as spill/GC spikes, so iterative drivers free the previous
   * superstep's blocks explicitly ([[CheckpointShim.free]]).
   */
  def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => CheckpointShim.free(lr.rdd)
      case _ => ()
    }

  /**
   * W3 at scale — global dense row-number (+ optional ntile) over a STRICT
   * total order, without the single-partition `Window.orderBy(…)` funnel
   * (the textbook 100×-scale-killer: every row serializes through one task's
   * sort). Two passes, both parallel:
   *
   *  1. range-partition on the sort keys + sort within partitions (the only
   *     shuffle), tag each row with `monotonically_increasing_id()` — its
   *     documented layout is (partitionId « 33) | per-partition sequence in
   *     evaluation order, which after `sortWithinPartitions` IS the sorted
   *     order — and pin partition identity with an eager checkpoint;
   *  2. collect the ≤`parts` per-partition row counts (longs, never row
   *     data), fold them into cumulative offsets, and emit
   *     `rn = offset(partition) + sequence + 1` as a literal-map lookup —
   *     pure projection, no second shuffle, no window at all.
   *
   * With a strict total order (caller must include a unique tiebreaker
   * column) `rank()` ≡ `row_number()`, and `ntile(t)` is a closed-form
   * expression of (rn, n, t) — both SQL-standard definitions, matching
   * Spark's and DuckDB's window functions exactly (NtileSpec pins this).
   * Output: input columns + `rn` (+ `tile` when `numTiles > 0`).
   */
  def globalRank(df: DataFrame, parts: Int, numTiles: Int, sortCols: Column*): DataFrame = {
    require(sortCols.nonEmpty, "globalRank needs sort columns")
    // fail loudly instead of clobbering: `rn`/`tile` are outputs, `__pid`/
    // `__seq` are internals dropped at the end — an input frame carrying any
    // of them (plausible when re-ranking ranked data) would be silently
    // overwritten or lose the column
    val reserved = Seq("rn", "__pid", "__seq") ++ (if (numTiles > 0) Seq("tile") else Nil)
    val clash = df.columns.toSet.intersect(reserved.toSet)
    require(clash.isEmpty, s"globalRank reserves columns ${clash.mkString(", ")} — rename them first")
    val seqMask = (1L << 33) - 1
    val laid = df.repartitionByRange(math.max(parts, 1), sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__seq", monotonically_increasing_id().bitwiseAND(lit(seqMask)))
      .localCheckpoint(true)
    val counts = laid.groupBy("__pid").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.scanLeft((0, 0L)) { case ((_, acc), (pid, c)) => (pid, acc + c) }
    val offByPid: Map[Int, Long] =
      counts.map(_._1).zip(offsets.map(_._2)).toMap // offset BEFORE each pid
    val n = counts.map(_._2).sum
    val rn = (coalesce(element_at(typedLit(offByPid), col("__pid")), lit(0L))
      + col("__seq") + lit(1L)).as("rn")
    val withRn = laid.withColumn("rn", rn)
    val out =
      if (numTiles <= 0) withRn
      else withRn.withColumn("tile", ntileOf(col("rn"), n, numTiles))
    out.drop("__pid", "__seq")
  }

  /** SQL-standard `ntile(t)` of global row-number `rn` over `n` rows as a
    * closed-form expression: the first `n % t` buckets get `n/t + 1` rows,
    * the rest `n/t` (exactly Spark's and DuckDB's NTILE distribution). */
  private[graft] def ntileOf(rn: Column, n: Long, t: Int): Column = {
    val base = n / t
    val rem  = n % t
    val cut  = rem * (base + 1) // rows in the big buckets
    when(rn <= cut, (rn - 1) / (base + 1) + 1)
      .otherwise(lit(rem) + (rn - 1 - cut) / math.max(base, 1L) + 1)
      .cast("long")
  }

  /**
   * Common-neighbor link prediction over the undirected graph: for every
   * non-adjacent pair (a, b) with at least `minCommon` shared neighbors,
   * emit the common-neighbor count and the neighborhood-Jaccard score in
   * integer parts-per-million — `cn * 1e6 / (deg(a) + deg(b) - cn)` — the
   * two classic similarity baselines (Liben-Nowell & Kleinberg, "The link
   * prediction problem for social networks", CIKM 2003).
   *
   * Scale shape: the wedge self-join through a center vertex z produces
   * deg(z)² candidate rows, so an uncapped web-scale hub (deg 10⁷) alone
   * contributes 10¹⁴ wedges. `maxHubDegree` drops wedge CENTERS above the
   * cap before the join — the standard mitigation: hubs connect everything
   * to everything and carry no similarity signal (their wedges dominate
   * volume while contributing a near-zero Jaccard increment). Scoring
   * degrees stay UNcapped, so the Jaccard denominator is exact. Both the
   * cap and the scores are integer-deterministic and SQL-expressible —
   * the driver oracle replays them exactly.
   *
   * Plan: two shuffles (wedge join on z, pair aggregation), one broadcast-
   * able degree join, one anti-join against the existing edge set. No
   * cartesian anything; candidate volume is Σ_z min(deg(z), cap)².
   */
  def linkPrediction(edges: DataFrame, minCommon: Int = 2,
                     maxHubDegree: Int = 64): DataFrame = {
    val und = undirected(edges)
    val sym = symmetrized(edges)
    val deg = sym.groupBy(col("src").as("vid")).agg(count(lit(1)).as("deg"))
    // the capped common-center pair count is the same self-join co-citation
    // and coupling share — one implementation, no drift
    val cand = pairsByCenter(sym.select(col("src").as("z"), col("dst").as("n")),
        minCommon, maxHubDegree, "cn")
      .select(col("a").as("x"), col("b").as("y"), col("cn"))
    val nonAdj = cand.join(und,
      cand("x") === und("a") && cand("y") === und("b"), "left_anti")
    nonAdj
      .join(deg.select(col("vid").as("x"), col("deg").as("dega")), Seq("x"))
      .join(deg.select(col("vid").as("y"), col("deg").as("degb")), Seq("y"))
      .select(col("x").as("a"), col("y").as("b"), col("cn"),
        call_function("div", col("cn") * lit(1000000L),
          col("dega") + col("degb") - col("cn")).as("jaccard_ppm"))
  }

  /**
   * Co-citation (Small, JASIS 1973): pairs (a, b) linked together by at
   * least `minCommon` distinct sources. The center of each generated pair
   * is the CITING doc, so the quadratic fan-out is bounded by capping the
   * citing out-degree at `maxFanDegree` (a hub source contributes deg²
   * pairs — same hub discipline as [[linkPrediction]]). Directed.
   */
  def coCitation(edges: DataFrame, minCommon: Int = 2, maxFanDegree: Int = 64): DataFrame =
    pairsByCenter(edges.select(col("src").as("z"), col("dst").as("n")),
      minCommon, maxFanDegree, "cocite")

  /**
   * Bibliographic coupling (Kessler, American Documentation 1963): pairs
   * (a, b) citing at least `minCommon` common targets — co-citation's
   * dual, centered on the cited target's in-degree.
   */
  def coupling(edges: DataFrame, minCommon: Int = 2, maxFanDegree: Int = 64): DataFrame =
    pairsByCenter(edges.select(col("dst").as("z"), col("src").as("n")),
      minCommon, maxFanDegree, "coupled")

  /** Common-center pair counts with the center's fan-out capped: the one
    * self-join both measures share. Output (a, b, <cntName>), a < b. */
  private def pairsByCenter(zn: DataFrame, minCommon: Int, maxFan: Int,
                            cntName: String): DataFrame = {
    val deg = zn.groupBy("z").agg(count(lit(1)).as("dz"))
    val ok  = deg.filter(col("dz") <= maxFan).select("z")
    val capped = zn.join(ok, Seq("z"), "left_semi")
    capped.select(col("z"), col("n").as("a"))
      .join(capped.select(col("z"), col("n").as("b")), Seq("z"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as(cntName))
      .filter(col(cntName) >= minCommon)
  }

  /** S5 — SNAP-style text edge-list ingest (`src<ws>dst`, `#` comments). */
  def edgeListText(spark: SparkSession, path: String): Dataset[Edge] = {
    import spark.implicits._
    spark.read.text(path)
      .filter(!col("value").startsWith("#") && length(trim(col("value"))) > 0)
      .select(split(trim(col("value")), "\\s+").as("f"))
      .select(element_at(col("f"), 1).cast("long").as("src"),
              element_at(col("f"), 2).cast("long").as("dst"))
      .as[Edge]
  }
}
