package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph._
import graft.graph.Superstep.Laid

/**
 * Harness-facing deterministic link graph derived from the driver's
 * `documents.parquet` (FIXTURES.md §5). The derivation uses only
 * SQL-expressible integer arithmetic so every downstream query has an exact
 * DuckDB oracle on the same parquet:
 *
 *   doc i  →  (i*2654435761 + j*97 + 13) mod n      for j in 0..(i mod 7)
 *   (self-loops removed, duplicates removed)
 *
 * `doc_id` is contiguous 0..n-1 in the testdata, so vertex ids are doc ids.
 */
object DocGraph {

  def docs(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  // One count() job per sfDir per JVM, not per query: the testdata tables are
  // immutable for a run, and ~20 graph queries each need |docs| to derive the
  // edge table — uncached that is one extra Spark job per query.
  private val nDocsMemo = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def nDocs(spark: SparkSession, sfDir: String): Long =
    nDocsMemo.computeIfAbsent(sfDir, d => docs(spark, d).count()).longValue()

  /** The derived edge table (src, dst) — matches the `edges` CTE in oracle SQL. */
  def edges(spark: SparkSession, sfDir: String): DataFrame =
    rawEdges(spark, sfDir).distinct()

  /** [[edges]] minus the final dedup — the input the one-exchange laid-out
    * builders below fold their dedup into. Self-loops already removed. */
  private def rawEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val n = nDocs(spark, sfDir)
    docs(spark, sfDir)
      .select(col("doc_id"))
      .withColumn("j", explode(sequence(lit(0L), col("doc_id") % lit(7L))))
      .select(col("doc_id").as("src"),
        ((col("doc_id") * lit(2654435761L) + col("j") * lit(97L) + lit(13L)) % lit(n)).as("dst"))
      .filter(col("src") =!= col("dst"))
  }

  /** Expected |E| with NO job: each doc emits `doc_id % 7 + 1` candidate
    * links (mean 4, exact over any id-contiguous corpus); self-loop and
    * duplicate losses are ≲0.2 %. Only ever used to pick a partition count
    * (Superstep.width) — correctness never depends on it. */
  private def estEdges(spark: SparkSession, sfDir: String): Long =
    4L * math.max(1L, nDocs(spark, sfDir))

  /** Directed doc edge table laid out for iteration — same rows as
    * [[edges]], produced with ONE exchange (dedup folded into the
    * src-partitioned layout shuffle, guide §2.4) instead of the former
    * distinct-exchange → repartition-exchange → re-layout triple. The
    * consuming driver unpersists it. */
  private[graft] def laidDirected(spark: SparkSession, sfDir: String): Laid =
    Superstep.lay(rawEdges(spark, sfDir), estimate = Some(estEdges(spark, sfDir)))

  /** [[laidDirected]] partitioned on `dst` instead of `src` — the layout the
    * broadcast-regime fixed-k PageRank wants: its per-superstep groupBy(dst)
    * lands on the cached partitioning (zero exchange), while the rank side
    * ships as a broadcast hash relation and never needs src clustering. */
  private[graft] def laidDirectedDst(spark: SparkSession, sfDir: String): Laid =
    Superstep.lay(rawEdges(spark, sfDir), key = "dst", estimate = Some(estEdges(spark, sfDir)))

  /** Directed doc edges REVERSED (dst→src), laid out in one exchange —
    * the landmark driver's propagation orientation. */
  private[graft] def laidReversed(spark: SparkSession, sfDir: String): Laid =
    Superstep.lay(reversed(rawEdges(spark, sfDir)), estimate = Some(estEdges(spark, sfDir)))

  /** Symmetric doc edge set (both orientations, distinct — identical rows to
    * `GraphOps.symmetrized(edges(…))`), laid out in ONE exchange: distinct of
    * the union of both orientations ≡ both orientations of the distinct
    * undirected set. */
  private[graft] def laidSym(spark: SparkSession, sfDir: String): Laid = {
    val r = rawEdges(spark, sfDir)
    Superstep.lay(r.unionByName(reversed(r)), estimate = Some(2L * estEdges(spark, sfDir)))
  }

  /** Canonical undirected pairs a < b as (src, dst) — identical rows to
    * `GraphOps.undirected(edges(…))` under that renaming — laid out in ONE
    * exchange. */
  private[graft] def laidUnd(spark: SparkSession, sfDir: String): Laid =
    Superstep.lay(rawEdges(spark, sfDir).select(
        least(col("src"), col("dst")).as("src"), greatest(col("src"), col("dst")).as("dst")),
      estimate = Some(estEdges(spark, sfDir)))

  /** Any (src, dst) edge table with its ids cast to long, oriented by
    * `orient` and laid out for iteration as it is (no dedup) — the drivers'
    * `*IterLaid` entry on an edge table of the caller's. Orientations:
    * identity (directed), [[reversed]], `GraphOps.symmetrized`,
    * [[canonical]]. */
  private[graft] def lay(edges: DataFrame, orient: DataFrame => DataFrame = identity): Laid =
    Superstep.lay(orient(edges.select(
      col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))))

  /** Edges dst→src. */
  private[graft] def reversed(edges: DataFrame): DataFrame =
    edges.select(col("dst").as("src"), col("src").as("dst"))

  /** `GraphOps.undirected` pairs a < b as (src, dst). */
  private[graft] def canonical(edges: DataFrame): DataFrame =
    GraphOps.undirected(edges).select(col("a").as("src"), col("b").as("dst"))

  /** SQL prefix defining the same edge table for the DuckDB oracle.
    * Iterative oracles chain CTEs that are each referenced more than once —
    * `AS MATERIALIZED` stops DuckDB from inlining them (inlining doubles the
    * plan per iteration: 2^k blowup for a k-superstep oracle). */
  val edgesCte: String =
    """WITH edges AS MATERIALIZED (
      |  SELECT DISTINCT d.doc_id AS src,
      |         (d.doc_id*2654435761 + f.j*97 + 13) % (SELECT count(*) FROM documents) AS dst
      |  FROM documents d
      |  JOIN (SELECT unnest(range(0,7)) AS j) f ON f.j <= d.doc_id % 7
      |  WHERE d.doc_id <> (d.doc_id*2654435761 + f.j*97 + 13) % (SELECT count(*) FROM documents)
      |)""".stripMargin

  /** Shared graph CTEs on top of `edges` (undirected set, degrees, vertices). */
  val graphCtes: String = edgesCte +
    """,
      |und AS MATERIALIZED (SELECT DISTINCT least(src,dst) AS a, greatest(src,dst) AS b FROM edges),
      |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM und UNION ALL SELECT b AS src, a AS dst FROM und),
      |verts AS MATERIALIZED (SELECT DISTINCT vid FROM (SELECT src AS vid FROM edges UNION ALL SELECT dst AS vid FROM edges)),
      |outdeg AS MATERIALIZED (SELECT src AS vid, count(*) AS c FROM edges GROUP BY src),
      |nv AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts)""".stripMargin

  /** A fixed-k result score `r` as an integer, `floor(r*1e7 + 0.5 + 1e-6)`:
    * the engine and the oracle compute r identically to ≲1e-11 absolute at
    * this scale, and the 1e-6 nudge moves the discretization boundary away
    * from the exact .5 points that plain `round` hits when ranks are short
    * decimal fractions — making the integer comparison robust cross-engine. */
  private def e7(r: Column): Column =
    floor(r * lit(1.0e7) + lit(0.500001)).cast("long")

  /**
   * Exactly k PageRank supersteps (same arithmetic as PageRank.run), output
   * as [[e7]] integers. Below the broadcast crossover the edges are laid by
   * DST: the per-superstep groupBy(dst) then reuses the cached layout and
   * the superstep has no exchange, while the rank side ships as a broadcast
   * hash relation. |docs| bounds |V| without a job.
   */
  def prIter(spark: SparkSession, sfDir: String, k: Int): DataFrame =
    prIterLaid(
      if (nDocs(spark, sfDir) <= Superstep.BroadcastMaxRows) laidDirectedDst(spark, sfDir)
      else laidDirected(spark, sfDir), k)

  /** [[prIter]] over a laid directed edge table. The dangling term is
    * in-plan ([[massFlow]]), so the broadcast regime runs the k supersteps
    * as one job. */
  private[graft] def prIterLaid(laid: Laid, k: Int, d: Double = 0.85,
                                broadcastMaxRows: Long = Superstep.BroadcastMaxRows): DataFrame = {
    val g = Superstep(laid, broadcastMaxRows)
    val n = g.nV.toDouble
    massFlow(g, GraphOps.outDegrees(g.edges), k, s"pr${k}e7", lit(1.0 / n),
      col("r") / col("deg"),
      (tm, s) => lit(1.0 - d) / lit(n) + (lit(d) * greatest(lit(0.0), lit(1.0) - tm)) / lit(n)
        + lit(d) * s)
  }

  /**
   * Fixed-k PageRank-family loop over state (vid, r, deg): every vertex with
   * a degree sends `contrib` (over r, deg and the edge's src/dst) along each
   * out-edge, and the new score is `next(tm, s)` of the received sum s and
   * the mass tm the previous state transmitted (Σ r over vertices with a
   * degree; 1 − tm is the dangling mass). tm is a one-row in-plan aggregate
   * attached by `GraphOps.attachScalar`, so a superstep needs no driver
   * action. Arithmetic order mirrors the oracle term by term, so only the
   * e7-absorbed summation order differs.
   */
  private def massFlow(g: Superstep, deg: DataFrame, k: Int, name: String, init: Column,
                       contrib: Column, next: (Column, Column) => Column): DataFrame = {
    val e = g.edges
    val st0 = g.vertices.join(deg, Seq("vid"), "left")
      .select(col("vid"), init.as("r"), col(deg.columns(1)).as("deg"))
    g.fixedK(st0, k, scalar = true, out = _.select(col("vid"), e7(col("r")).as(name))) { (st, _) =>
      val live = st.filter(col("deg").isNotNull)
      val tm = live.agg(sum(col("r")).as("tm")).select(coalesce(col("tm"), lit(0.0)).as("tm"))
      val sums = e.join(g.pin(live), e("src") === live("vid"))
        .groupBy(e("dst").as("dvid")).agg(sum(contrib).as("s"))
      GraphOps.attachScalar(st.join(g.pin(sums), st("vid") === sums("dvid"), "left"),
          st("vid"), tm, col("tm"))
        .select(st("vid"), next(col("tm"), coalesce(col("s"), lit(0.0))).as("r"), st("deg"))
    }
  }

  /** Oracle SQL for exactly k PageRank supersteps (k small; CTE per superstep). */
  def prIterSql(k: Int): String = {
    val sb = new StringBuilder(graphCtes)
    sb.append(
      """,
        |r0 AS MATERIALIZED (SELECT vid, CAST(1.0 AS DOUBLE)/nv.n AS r FROM verts CROSS JOIN nv)""".stripMargin)
    for (i <- 1 to k) {
      sb.append(s""",
        |s$i AS MATERIALIZED (SELECT e.dst AS vid, sum(r${i - 1}.r / o.c) AS s
        |        FROM edges e JOIN r${i - 1} ON e.src = r${i - 1}.vid JOIN outdeg o ON e.src = o.vid
        |        GROUP BY e.dst),
        |d$i AS MATERIALIZED (SELECT CAST(1.0 AS DOUBLE) - sum(s) AS dm FROM s$i),
        |r$i AS MATERIALIZED (SELECT v.vid,
        |               CAST(0.15 AS DOUBLE)/nv.n + CAST(0.85 AS DOUBLE)*d$i.dm/nv.n
        |                 + CAST(0.85 AS DOUBLE)*coalesce(s$i.s, 0) AS r
        |        FROM verts v CROSS JOIN nv CROSS JOIN d$i LEFT JOIN s$i ON v.vid = s$i.vid)""".stripMargin)
    }
    sb.append(s"\nSELECT vid, CAST(floor(r*1e7 + 0.500001) AS BIGINT) AS pr${k}e7 FROM r$k")
    sb.toString
  }

  /**
   * Exactly k personalized-PageRank supersteps (random walk with restart to
   * the seed set `vid % 100 == 0`): r₀ = uniform over seeds;
   * rᵢ₊₁(v) = (1−d)·p(v) + d·(Σ_{u→v} rᵢ(u)/out(u) + danglingᵢ·p(v)), with
   * dangling mass restarted at the seeds (Σ r stays exactly 1). Same
   * integer pinning and arithmetic-order discipline as [[prIter]]. A graph
   * without seeds has all-zero scores.
   */
  def pprIter(spark: SparkSession, sfDir: String, k: Int,
              d: Double = 0.85): DataFrame =
    pprIterLaid(laidDirected(spark, sfDir), k, d)

  private[graft] def pprIterLaid(laid: Laid, k: Int, d: Double = 0.85,
                                 broadcastMaxRows: Long = Superstep.BroadcastMaxRows): DataFrame = {
    val g = Superstep(laid, broadcastMaxRows)
    val seed = col("vid") % 100 === 0
    val nS = g.vertices.filter(seed).count().toDouble
    massFlow(g, GraphOps.outDegrees(g.edges), k, s"ppr${k}e7",
      when(seed, lit(1.0 / nS)).otherwise(lit(0.0)),
      col("r") / col("deg"),
      (tm, s) => when(seed, lit((1.0 - d) / nS) + (lit(d) * (lit(1.0) - tm)) / lit(nS))
        .otherwise(lit(0.0)) + lit(d) * s)
  }

  /** Oracle SQL for exactly k personalized-PageRank supersteps. `d` must
    * match the engine call's damping — the constants are generated from it
    * (Double.toString round-trips exactly through DuckDB's literal parser),
    * so a non-default damping can't silently diverge from its oracle. */
  def pprIterSql(k: Int, d: Double = 0.85): String = {
    val restart = (1.0 - d).toString
    val damp    = d.toString
    val sb = new StringBuilder(graphCtes)
    sb.append(
      """,
        |sd AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS ns FROM verts WHERE vid % 100 = 0),
        |p0 AS MATERIALIZED (SELECT v.vid,
        |        CASE WHEN v.vid % 100 = 0 THEN CAST(1.0 AS DOUBLE)/sd.ns ELSE CAST(0.0 AS DOUBLE) END AS r
        |        FROM verts v CROSS JOIN sd)""".stripMargin)
    for (i <- 1 to k) {
      sb.append(s""",
        |ps$i AS MATERIALIZED (SELECT e.dst AS vid, sum(p${i - 1}.r / o.c) AS s
        |        FROM edges e JOIN p${i - 1} ON e.src = p${i - 1}.vid JOIN outdeg o ON e.src = o.vid
        |        GROUP BY e.dst),
        |pd$i AS MATERIALIZED (SELECT CAST(1.0 AS DOUBLE) - coalesce(sum(s), CAST(0.0 AS DOUBLE)) AS dm FROM ps$i),
        |p$i AS MATERIALIZED (SELECT v.vid,
        |        CASE WHEN v.vid % 100 = 0
        |          THEN CAST($restart AS DOUBLE)/sd.ns + CAST($damp AS DOUBLE)*pd$i.dm/sd.ns
        |          ELSE CAST(0.0 AS DOUBLE) END
        |          + CAST($damp AS DOUBLE)*coalesce(ps$i.s, 0) AS r
        |        FROM verts v CROSS JOIN sd CROSS JOIN pd$i LEFT JOIN ps$i ON v.vid = ps$i.vid)""".stripMargin)
    }
    sb.append(s"\nSELECT vid, CAST(floor(r*1e7 + 0.500001) AS BIGINT) AS ppr${k}e7 FROM p$k")
    sb.toString
  }

  /**
   * Exactly k HITS iterations (Kleinberg 1999): h₀ = 1;
   * aᵢ(v) = Σ_{u→v} hᵢ₋₁(u), L1-normalized; hᵢ(v) = Σ_{v→w} aᵢ(w),
   * L1-normalized. L1 (not the textbook L2) keeps every operation a
   * sum/divide with bit-reproducible cross-engine shape — the fixed-point
   * direction is identical and the e7 floor pins the output exactly, the
   * same discipline as [[prIter]]/[[pprIter]].
   */
  def hitsIter(spark: SparkSession, sfDir: String, k: Int): DataFrame =
    hitsIterLaid(laidDirected(spark, sfDir), k)

  private[graft] def hitsIterLaid(laid: Laid, k: Int,
                                  broadcastMaxRows: Long = Superstep.BroadcastMaxRows): DataFrame =
    linkAnalysis(laid, k, broadcastMaxRows, salsa = false, "auth", "hub")

  /**
   * Exactly k SALSA iterations (Lempel & Moran, "The stochastic approach
   * for link-structure analysis", WWW 2000): HITS's mutual reinforcement
   * with each contribution divided by the SENDER's degree —
   * a(v) = Σ_{u→v} h(u)/outdeg(u), h(u) = Σ_{u→v} a(v)/indeg(v). The
   * per-edge division makes each half-step a stochastic matrix multiply,
   * so L1 mass is conserved over the non-dangling set and no normalizer is
   * needed. e7 floor pins FP summation order like every double-valued
   * driver here.
   */
  def salsaIter(spark: SparkSession, sfDir: String, k: Int): DataFrame =
    salsaIterLaid(laidDirected(spark, sfDir), k)

  private[graft] def salsaIterLaid(laid: Laid, k: Int,
                                   broadcastMaxRows: Long = Superstep.BroadcastMaxRows): DataFrame =
    linkAnalysis(laid, k, broadcastMaxRows, salsa = true, "salsa_a", "salsa_h")

  /**
   * HITS and SALSA as 2k half-steps over one state (vid, h, a, outDeg,
   * inDeg), both scores starting at 1: an odd half-step sets the
   * authorities from the hubs along the edges, an even one the hubs from
   * the authorities against them. SALSA divides each message by the
   * sender's degree. HITS divides each half-step by its L1 normalizer, which
   * is derivable from the previous state — Σ_{(u→v)} h(u) = Σ_u h(u)·out(u)
   * and Σ_{(u→v)} a(v) = Σ_v a(v)·in(v) — and is attached in-plan; 1 on an
   * edgeless graph keeps the all-zero scores zero instead of NaN.
   */
  private def linkAnalysis(laid: Laid, k: Int, broadcastMaxRows: Long, salsa: Boolean,
                           aName: String, hName: String): DataFrame = {
    val g = Superstep(laid, broadcastMaxRows)
    val e = g.edges
    val init = g.vertices.join(GraphOps.outDegrees(e), Seq("vid"), "left")
      .join(GraphOps.inDegrees(e), Seq("vid"), "left")
      .select(col("vid"), lit(1.0).as("h"), lit(1.0).as("a"), col("outDeg"), col("inDeg"))
    val out = (st: DataFrame) =>
      st.select(col("vid"), e7(col("a")).as(s"$aName${k}e7"), e7(col("h")).as(s"$hName${k}e7"))
    g.fixedK(init, 2 * k, scalar = !salsa, out = out) { (st, i) =>
      val (from, deg, to, at, nb) =
        if (i % 2 == 1) ("h", "outDeg", "a", e("src"), e("dst"))
        else ("a", "inDeg", "h", e("dst"), e("src"))
      val live = st.filter(col(deg).isNotNull)
      val msg = if (salsa) col(from) / col(deg) else col(from)
      val sums = e.join(g.pin(live.select(col("vid"), msg.as("c"))), at === col("vid"))
        .groupBy(nb.as("nb")).agg(sum(col("c")).as("s"))
      val joined = st.join(g.pin(sums), st("vid") === sums("nb"), "left")
      val got = coalesce(col("s"), lit(0.0))
      if (salsa) joined.withColumn(to, got)
      else {
        val nrm = live.agg(sum(col(from) * col(deg)).as("nrm"))
          .select(coalesce(col("nrm"), lit(1.0)).as("nrm"))
        GraphOps.attachScalar(joined, st("vid"), nrm, col("nrm")).withColumn(to, got / col("nrm"))
      }
    }
  }

  /** Oracle SQL for exactly k SALSA iterations (see [[salsaIter]]). */
  def salsaIterSql(k: Int): String = {
    val sb = new StringBuilder(graphCtes)
    sb.append(
      """,
        |indeg AS MATERIALIZED (SELECT dst AS vid, count(*) AS c FROM edges GROUP BY dst),
        |s_h0 AS MATERIALIZED (SELECT vid, CAST(1.0 AS DOUBLE) AS h FROM verts)""".stripMargin)
    for (i <- 1 to k) {
      val p = i - 1
      sb.append(s""",
        |s_ar$i AS MATERIALIZED (SELECT e.dst AS vid, sum(s_h$p.h / od.c) AS s
        |        FROM edges e JOIN s_h$p ON e.src = s_h$p.vid
        |        JOIN outdeg od ON od.vid = e.src GROUP BY e.dst),
        |s_a$i AS MATERIALIZED (SELECT v.vid, coalesce(s_ar$i.s, CAST(0.0 AS DOUBLE)) AS a
        |        FROM verts v LEFT JOIN s_ar$i ON v.vid = s_ar$i.vid),
        |s_hr$i AS MATERIALIZED (SELECT e.src AS vid, sum(s_a$i.a / idg.c) AS s
        |        FROM edges e JOIN s_a$i ON e.dst = s_a$i.vid
        |        JOIN indeg idg ON idg.vid = e.dst GROUP BY e.src),
        |s_h$i AS MATERIALIZED (SELECT v.vid, coalesce(s_hr$i.s, CAST(0.0 AS DOUBLE)) AS h
        |        FROM verts v LEFT JOIN s_hr$i ON v.vid = s_hr$i.vid)""".stripMargin)
    }
    sb.append(s"""
      |SELECT s_a$k.vid, CAST(floor(a*1e7 + 0.500001) AS BIGINT) AS salsa_a${k}e7,
      |       CAST(floor(h*1e7 + 0.500001) AS BIGINT) AS salsa_h${k}e7
      |FROM s_a$k JOIN s_h$k ON s_a$k.vid = s_h$k.vid""".stripMargin)
    sb.toString
  }

  /** Oracle SQL for exactly k HITS iterations (L1-normalized, see [[hitsIter]]). */
  def hitsIterSql(k: Int): String = {
    val sb = new StringBuilder(graphCtes)
    sb.append(",\nh0 AS MATERIALIZED (SELECT vid, CAST(1.0 AS DOUBLE) AS h FROM verts)")
    for (i <- 1 to k) {
      sb.append(s""",
        |ar$i AS MATERIALIZED (SELECT e.dst AS vid, sum(h${i - 1}.h) AS s
        |        FROM edges e JOIN h${i - 1} ON e.src = h${i - 1}.vid GROUP BY e.dst),
        |at$i AS MATERIALIZED (SELECT coalesce(sum(s), CAST(1.0 AS DOUBLE)) AS t FROM ar$i),
        |a$i AS MATERIALIZED (SELECT v.vid, coalesce(ar$i.s, CAST(0.0 AS DOUBLE))/at$i.t AS a
        |        FROM verts v CROSS JOIN at$i LEFT JOIN ar$i ON v.vid = ar$i.vid),
        |hr$i AS MATERIALIZED (SELECT e.src AS vid, sum(a$i.a) AS s
        |        FROM edges e JOIN a$i ON e.dst = a$i.vid GROUP BY e.src),
        |ht$i AS MATERIALIZED (SELECT coalesce(sum(s), CAST(1.0 AS DOUBLE)) AS t FROM hr$i),
        |h$i AS MATERIALIZED (SELECT v.vid, coalesce(hr$i.s, CAST(0.0 AS DOUBLE))/ht$i.t AS h
        |        FROM verts v CROSS JOIN ht$i LEFT JOIN hr$i ON v.vid = hr$i.vid)""".stripMargin)
    }
    sb.append(s"""
      |SELECT a$k.vid, CAST(floor(a*1e7 + 0.500001) AS BIGINT) AS auth${k}e7,
      |       CAST(floor(h*1e7 + 0.500001) AS BIGINT) AS hub${k}e7
      |FROM a$k JOIN h$k ON a$k.vid = h$k.vid""".stripMargin)
    sb.toString
  }

  /**
   * Exactly k multi-source BFS supersteps over DIRECTED edges from the
   * vid%100 seed set: dist₀ = 0 at seeds; distᵢ₊₁(v) = min(distᵢ(v),
   * min_{u→v} distᵢ(u)+1). Exact integer arithmetic — unreached vertices
   * report -1 (a NULL-free sentinel for the driver's hash compare).
   */
  def bfsIter(spark: SparkSession, sfDir: String, k: Int): DataFrame =
    bfsIterLaid(laidDirected(spark, sfDir), k)

  private[graft] def bfsIterLaid(laid: Laid, k: Int,
                                 broadcastMaxRows: Long = Superstep.BroadcastMaxRows): DataFrame =
    relax(laid, k, broadcastMaxRows, lit(1L), s"dist$k")

  /** k min-plus relaxation supersteps from the vid%100 seeds along directed
    * edges weighted `w` (an expression over src and dst); unreached
    * vertices report -1. */
  private def relax(laid: Laid, k: Int, broadcastMaxRows: Long, w: Column,
                    name: String): DataFrame = {
    val g = Superstep(laid, broadcastMaxRows)
    val e = g.edges
    val init = g.vertices.select(col("vid"),
      when(col("vid") % 100 === 0, lit(0L)).otherwise(lit(null).cast("long")).as("d"))
    g.fixedK(init, k, out = _.select(col("vid"), coalesce(col("d"), lit(-1L)).as(name))) {
      (dist, _) =>
        e.join(g.pin(dist), e("src") === dist("vid"))
          .filter(col("d").isNotNull)
          .select(e("dst").as("vid"), (col("d") + w).as("d"))
          .unionByName(dist)
          .groupBy("vid").agg(min(col("d")).as("d"))
    }
  }

  /** Oracle SQL for exactly k multi-source BFS supersteps (see [[bfsIter]]). */
  def bfsIterSql(k: Int): String = {
    val sb = new StringBuilder(graphCtes)
    sb.append(
      """,
        |b0 AS MATERIALIZED (SELECT vid,
        |        CASE WHEN vid % 100 = 0 THEN CAST(0 AS BIGINT) ELSE NULL END AS d FROM verts)""".stripMargin)
    for (i <- 1 to k) {
      sb.append(s""",
        |b$i AS MATERIALIZED (SELECT vid, min(d) AS d FROM (
        |          SELECT e.dst AS vid, b${i - 1}.d + 1 AS d
        |          FROM edges e JOIN b${i - 1} ON e.src = b${i - 1}.vid
        |          WHERE b${i - 1}.d IS NOT NULL
        |          UNION ALL SELECT vid, d FROM b${i - 1}
        |        ) GROUP BY vid)""".stripMargin)
    }
    sb.append(s"\nSELECT vid, coalesce(d, -1) AS dist$k FROM b$k")
    sb.toString
  }

  /**
   * Exactly k Bellman-Ford supersteps of multi-source WEIGHTED single-source
   * shortest path over DIRECTED edges with the deterministic integer weight
   * w(u,v) = (u+v) mod 5 + 1 (the [[wprIter]] convention): dist₀ = 0 at the
   * vid%100 seeds; distᵢ₊₁(v) = min(distᵢ(v), min_{u→v} distᵢ(u) + w(u,v)).
   * The min-plus semiring generalizes [[bfsIter]]'s hop count (w ≡ 1);
   * after k supersteps dist(v) is exact over all ≤k-edge paths. Exact
   * integers; unreached vertices report -1.
   */
  def ssspIter(spark: SparkSession, sfDir: String, k: Int): DataFrame =
    ssspIterLaid(laidDirected(spark, sfDir), k)

  private[graft] def ssspIterLaid(laid: Laid, k: Int,
                                  broadcastMaxRows: Long = Superstep.BroadcastMaxRows): DataFrame =
    relax(laid, k, broadcastMaxRows, (col("src") + col("dst")) % 5L + 1L, s"sdist$k")

  /** Oracle SQL for exactly k weighted Bellman-Ford supersteps (see [[ssspIter]]). */
  def ssspIterSql(k: Int): String = {
    val sb = new StringBuilder(graphCtes)
    sb.append(
      """,
        |s0 AS MATERIALIZED (SELECT vid,
        |        CASE WHEN vid % 100 = 0 THEN CAST(0 AS BIGINT) ELSE NULL END AS d FROM verts)""".stripMargin)
    for (i <- 1 to k) {
      sb.append(s""",
        |s$i AS MATERIALIZED (SELECT vid, min(d) AS d FROM (
        |          SELECT e.dst AS vid, s${i - 1}.d + (e.src + e.dst) % 5 + 1 AS d
        |          FROM edges e JOIN s${i - 1} ON e.src = s${i - 1}.vid
        |          WHERE s${i - 1}.d IS NOT NULL
        |          UNION ALL SELECT vid, d FROM s${i - 1}
        |        ) GROUP BY vid)""".stripMargin)
    }
    sb.append(s"\nSELECT vid, coalesce(d, -1) AS sdist$k FROM s$k")
    sb.toString
  }

  /**
   * Truncated Katz centrality (Katz, "A new status index derived from
   * sociometric analysis", Psychometrika 1953) with attenuation α = 1/8,
   * cut at k hops and scaled by 8^k so every quantity is an exact BIGINT:
   * katz_k(v)·8^k = Σ_{i=1..k} walks_i(v) · 8^{k-i}, where walks_i(v) is
   * the number of directed length-i walks ending at v. Computed by the
   * recurrence acc_i = 8·acc_{i-1} + w_i with w_i(v) = Σ_{u→v} w_{i-1}(u),
   * w_0 ≡ 1 — one edges⋈state join + aggregate per superstep.
   *
   * Overflow envelope: walks_i ≤ (max in-degree)^i, so at k = 3 a vertex
   * fed by three consecutive 10⁶-degree hubs reaches ~10¹⁸ — the BIGINT
   * edge. This integer form is the small-k verification path; large-k /
   * web-hub Katz belongs in floats (same division of labor as
   * [[graft.operators.Neighborhood.harmonic]] vs hyperBall).
   */
  def katzIter(spark: SparkSession, sfDir: String, k: Int): DataFrame =
    katzIterLaid(laidDirected(spark, sfDir), k)

  private[graft] def katzIterLaid(laid: Laid, k: Int,
                                  broadcastMaxRows: Long = Superstep.BroadcastMaxRows): DataFrame = {
    val g = Superstep(laid, broadcastMaxRows)
    val e = g.edges
    g.fixedK(g.vertices.select(col("vid"), lit(1L).as("w"), lit(0L).as("acc")), k,
        out = _.select(col("vid"), col("acc").as(s"katz${k}s"))) { (st, _) =>
      val msgs = e.join(g.pin(st), e("src") === st("vid"))
        .select(e("dst").as("vid"), col("w"))
        .groupBy("vid").agg(sum(col("w")).as("wn"))
      st.join(g.pin(msgs), Seq("vid"), "left")
        .select(col("vid"),
          coalesce(col("wn"), lit(0L)).as("w"),
          (col("acc") * 8L + coalesce(col("wn"), lit(0L))).as("acc"))
    }
  }

  /** Oracle SQL for k truncated-Katz supersteps (see [[katzIter]]). */
  def katzIterSql(k: Int): String = {
    val sb = new StringBuilder(graphCtes)
    sb.append(
      """,
        |k0 AS MATERIALIZED (SELECT vid, CAST(1 AS BIGINT) AS w,
        |        CAST(0 AS BIGINT) AS acc FROM verts)""".stripMargin)
    for (i <- 1 to k) {
      val p = i - 1
      sb.append(s""",
        |kw$i AS MATERIALIZED (SELECT e.dst AS vid, sum(s.w) AS wn
        |        FROM edges e JOIN k$p s ON e.src = s.vid GROUP BY e.dst),
        |k$i AS MATERIALIZED (SELECT s.vid, CAST(coalesce(w.wn, 0) AS BIGINT) AS w,
        |        CAST(s.acc*8 + coalesce(w.wn, 0) AS BIGINT) AS acc
        |        FROM k$p s LEFT JOIN kw$i w ON s.vid = w.vid)""".stripMargin)
    }
    sb.append(s"\nSELECT vid, acc AS katz${k}s FROM k$k")
    sb.toString
  }

  /** Injective hash priority for [[misIter]]: v ↦ (v·2654435761 + 17) mod P
    * with P = 1e9+7 prime and the multiplier coprime to P, so the map is a
    * bijection on [0, P) — priorities are UNIQUE for vid < P (doc-graph vids
    * are doc ids < |docs|, far inside), and min() needs no tie-break. */
  private val MisPrime = 1000000007L
  private def misPri(v: Column): Column =
    (v * lit(2654435761L) + lit(17L)) % lit(MisPrime)

  /** Luby state over `g`'s symmetric edges: (vid, priority, c = 0 active). */
  private def lubyInit(g: Superstep): DataFrame =
    g.vertices.select(col("vid"), misPri(col("vid")).as("pri"), lit(0L).as("c"))

  /** One Luby round's winners (vid, w = 1): the active vertices (c = 0)
    * whose priority beats every active neighbour's. */
  private def lubyWinners(g: Superstep, st: DataFrame): DataFrame = {
    val e = g.edges
    val act = st.filter(col("c") === 0L)
    // sym edges: the src side carries the neighbour's priority to dst
    val nm = e.join(g.pin(act), e("src") === act("vid"))
      .select(e("dst").as("vid"), col("pri"))
      .groupBy("vid").agg(min(col("pri")).as("nm"))
    act.join(g.pin(nm), Seq("vid"), "left")
      .filter(col("pri") < coalesce(col("nm"), lit(Long.MaxValue)))
      .select(col("vid"), lit(1L).as("w"))
  }

  /**
   * Exactly k rounds of Luby's maximal-independent-set algorithm (Luby,
   * "A simple parallel algorithm for the maximal independent set problem",
   * SIAM J. Comput. 1986) over the UNDIRECTED doc graph, derandomized with
   * the injective hash priority [[misPri]]: an active vertex joins the MIS
   * when its priority beats every active neighbor's; MIS members' active
   * neighbors are removed; repeat. Deterministic, exact-integer, and each
   * round strictly shrinks the active set (expected-constant fraction per
   * round — O(log n) rounds to empty whp).
   *
   * Output: (vid, mis_st) with 1 = in MIS, 2 = removed (dominated by a MIS
   * neighbor), 0 = still active after k rounds.
   *
   * 100 TB shape: each round is two src-keyed hash joins against the cached
   * symmetric edge table plus a groupBy min — the PageRank superstep's
   * shuffle profile, with the message volume shrinking as vertices settle.
   */
  def misIter(spark: SparkSession, sfDir: String, k: Int): DataFrame =
    misIterLaid(laidSym(spark, sfDir), k)

  private[graft] def misIterLaid(laid: Laid, k: Int,
                                 broadcastMaxRows: Long = Superstep.BroadcastMaxRows): DataFrame = {
    val g = Superstep(laid, broadcastMaxRows)
    val e = g.edges
    g.fixedK(lubyInit(g), k, out = _.select(col("vid"), col("c").as("mis_st"))) { (st, _) =>
      val win = lubyWinners(g, st)
      val rm = e.join(g.pin(win), e("src") === win("vid"))
        .select(e("dst").as("vid")).distinct().withColumn("r", lit(1L))
      st.join(g.pin(win), Seq("vid"), "left")
        .join(g.pin(rm), Seq("vid"), "left")
        .select(col("vid"), col("pri"),
          when(col("c") =!= 0L, col("c"))
            .when(col("w").isNotNull, lit(1L))
            .when(col("r").isNotNull, lit(2L))
            .otherwise(lit(0L)).as("c"))
    }
  }

  /** Oracle SQL for exactly k Luby MIS rounds (see [[misIter]]). */
  def misIterSql(k: Int): String = {
    val sb = new StringBuilder(graphCtes)
    sb.append(
      s""",
        |s0 AS MATERIALIZED (SELECT vid, (vid*2654435761 + 17) % $MisPrime AS pri,
        |        CAST(0 AS BIGINT) AS st FROM verts)""".stripMargin)
    for (i <- 1 to k) {
      val p = i - 1
      sb.append(s""",
        |nm$i AS MATERIALIZED (SELECT e.dst AS vid, min(s.pri) AS nm
        |        FROM sym e JOIN s$p s ON e.src = s.vid AND s.st = 0 GROUP BY e.dst),
        |w$i AS MATERIALIZED (SELECT s.vid FROM s$p s LEFT JOIN nm$i n ON s.vid = n.vid
        |        WHERE s.st = 0 AND s.pri < coalesce(n.nm, 9223372036854775807)),
        |r$i AS MATERIALIZED (SELECT DISTINCT e.dst AS vid FROM sym e JOIN w$i w ON e.src = w.vid),
        |s$i AS MATERIALIZED (SELECT s.vid, s.pri,
        |        CASE WHEN s.st <> 0 THEN s.st
        |             WHEN w.vid IS NOT NULL THEN CAST(1 AS BIGINT)
        |             WHEN r.vid IS NOT NULL THEN CAST(2 AS BIGINT)
        |             ELSE CAST(0 AS BIGINT) END AS st
        |        FROM s$p s LEFT JOIN w$i w ON s.vid = w.vid
        |                   LEFT JOIN r$i r ON s.vid = r.vid)""".stripMargin)
    }
    sb.append(s"\nSELECT vid, st AS mis_st FROM s$k")
    sb.toString
  }

  /**
   * Exactly k rounds of Luby-style greedy graph coloring over the
   * UNDIRECTED doc graph: each round, every still-uncolored vertex whose
   * [[misPri]] priority beats all its UNCOLORED neighbors' takes the round
   * index as its color. The round's winners are an independent set of the
   * residual graph, so two adjacent vertices can never receive the same
   * color — a proper partial coloring by construction, using ≤ k colors.
   * This is the round-synchronous member of the Jones–Plassmann / Luby
   * family (Jones & Plassmann, "A parallel graph coloring heuristic",
   * SIAM J. Sci. Comput. 1993), trading color count for a message pattern
   * identical to [[misIter]] minus the removal wave: one neighbor-min
   * shuffle + one state join per round, volume shrinking as vertices color.
   *
   * Output: (vid, color) with color ∈ [1, k], or 0 = still uncolored after
   * k rounds.
   */
  def colorIter(spark: SparkSession, sfDir: String, k: Int): DataFrame =
    colorIterLaid(laidSym(spark, sfDir), k)

  private[graft] def colorIterLaid(laid: Laid, k: Int,
                                   broadcastMaxRows: Long = Superstep.BroadcastMaxRows): DataFrame = {
    val g = Superstep(laid, broadcastMaxRows)
    g.fixedK(lubyInit(g), k, out = _.select(col("vid"), col("c").as("color"))) { (st, i) =>
      st.join(g.pin(lubyWinners(g, st)), Seq("vid"), "left")
        .select(col("vid"), col("pri"),
          when(col("c") =!= 0L, col("c"))
            .when(col("w").isNotNull, lit(i.toLong))
            .otherwise(lit(0L)).as("c"))
    }
  }

  /** Oracle SQL for exactly k Luby-coloring rounds (see [[colorIter]]). */
  def colorIterSql(k: Int): String = {
    val sb = new StringBuilder(graphCtes)
    sb.append(
      s""",
        |c0 AS MATERIALIZED (SELECT vid, (vid*2654435761 + 17) % $MisPrime AS pri,
        |        CAST(0 AS BIGINT) AS color FROM verts)""".stripMargin)
    for (i <- 1 to k) {
      val p = i - 1
      sb.append(s""",
        |cn$i AS MATERIALIZED (SELECT e.dst AS vid, min(s.pri) AS nm
        |        FROM sym e JOIN c$p s ON e.src = s.vid AND s.color = 0 GROUP BY e.dst),
        |cw$i AS MATERIALIZED (SELECT s.vid FROM c$p s LEFT JOIN cn$i n ON s.vid = n.vid
        |        WHERE s.color = 0 AND s.pri < coalesce(n.nm, 9223372036854775807)),
        |c$i AS MATERIALIZED (SELECT s.vid, s.pri,
        |        CASE WHEN s.color <> 0 THEN s.color
        |             WHEN w.vid IS NOT NULL THEN CAST($i AS BIGINT)
        |             ELSE CAST(0 AS BIGINT) END AS color
        |        FROM c$p s LEFT JOIN cw$i w ON s.vid = w.vid)""".stripMargin)
    }
    sb.append(s"\nSELECT vid, color FROM c$k")
    sb.toString
  }

  /** Injective per-edge priority for [[matchIter]] on canonical pairs
    * (a < b): the scalar hash hp = (misPri(a) + (b·40503 + 29) mod P) mod P
    * CAN collide across edges, so the algorithm's total order is the tuple
    * (hp, a, b) — unique because (a, b) is. Engine compares it as a struct
    * min (Spark structs order lexicographically); the oracle replays the
    * same order via row_number() OVER (ORDER BY hp, a, b). */
  private def edgePri(a: Column, b: Column) =
    (misPri(a) + (b * lit(40503L) + lit(29L)) % lit(MisPrime)) % lit(MisPrime)

  /**
   * Exactly k rounds of derandomized parallel greedy MAXIMAL MATCHING over
   * the UNDIRECTED doc graph (the Israeli–Itai family, "An improved parallel
   * algorithm for maximal matching", IPL 1986, derandomized like [[misIter]]):
   * each round, an edge between two unmatched endpoints joins the matching
   * iff its (hp, a, b) priority is the minimum among active edges incident
   * to BOTH endpoints. Winners are vertex-disjoint by construction (two
   * winners sharing v would both be v's unique incident minimum), so the
   * update never conflicts; each round strictly shrinks the active edge set
   * and at fixpoint the matching is maximal. Deterministic, exact-integer.
   *
   * Output: (vid, mate) = matched partner vid, or −1 if unmatched after k
   * rounds.
   *
   * 100 TB shape: per round, two semi-joins restrict the cached canonical
   * edge set to active×active, one union+groupBy computes the per-vertex
   * incident minimum (message volume = 2·|active edges|, shrinking), two
   * equi-joins select winners. No step is super-linear in |E|; state is
   * O(|V|).
   */
  def matchIter(spark: SparkSession, sfDir: String, k: Int): DataFrame =
    matchIterLaid(laidUnd(spark, sfDir), k)

  /** [[matchIter]] over canonical pairs laid as (src, dst) = (a, b), a < b. */
  private[graft] def matchIterLaid(laid: Laid, k: Int,
                                   broadcastMaxRows: Long = Superstep.BroadcastMaxRows): DataFrame = {
    val g = Superstep(laid, broadcastMaxRows)
    val und = g.edges.select(col("src").as("a"), col("dst").as("b"))
    g.fixedK(g.vertices.select(col("vid"), lit(null).cast("long").as("mate")), k,
        out = _.select(col("vid"), coalesce(col("mate"), lit(-1L)).as(s"mate$k"))) { (st, _) =>
      val act = st.filter(col("mate").isNull).select(col("vid"))
      val ae = und
        .join(g.pin(act.select(col("vid").as("a"))), Seq("a"), "left_semi")
        .join(g.pin(act.select(col("vid").as("b"))), Seq("b"), "left_semi")
        .withColumn("pr", struct(edgePri(col("a"), col("b")).as("hp"),
          col("a").as("pa"), col("b").as("pb")))
      val vm = ae.select(col("a").as("vid"), col("pr"))
        .unionByName(ae.select(col("b").as("vid"), col("pr")))
        .groupBy("vid").agg(min(col("pr")).as("mp"))
      val win = ae
        .join(g.pin(vm.select(col("vid").as("a"), col("mp").as("mpa"))), Seq("a"))
        .join(g.pin(vm.select(col("vid").as("b"), col("mp").as("mpb"))), Seq("b"))
        .filter(col("pr") === col("mpa") && col("pr") === col("mpb"))
      val newm = win.select(col("a").as("vid"), col("b").as("m2"))
        .unionByName(win.select(col("b").as("vid"), col("a").as("m2")))
      st.join(g.pin(newm), Seq("vid"), "left")
        .select(col("vid"), coalesce(col("mate"), col("m2")).as("mate"))
    }
  }

  /** Oracle SQL for exactly k greedy maximal-matching rounds (see [[matchIter]]). */
  def matchIterSql(k: Int): String = {
    val sb = new StringBuilder(graphCtes)
    sb.append(
      s""",
        |mm0 AS MATERIALIZED (SELECT vid, CAST(NULL AS BIGINT) AS mate FROM verts)""".stripMargin)
    for (i <- 1 to k) {
      val p = i - 1
      sb.append(s""",
        |mae$i AS MATERIALIZED (SELECT u.a, u.b,
        |        ((u.a*2654435761 + 17) % $MisPrime
        |         + (u.b*40503 + 29) % $MisPrime) % $MisPrime AS hp
        |        FROM und u JOIN mm$p sa ON u.a = sa.vid JOIN mm$p sb ON u.b = sb.vid
        |        WHERE sa.mate IS NULL AND sb.mate IS NULL),
        |minc$i AS MATERIALIZED (SELECT vid, a, b FROM (
        |        SELECT vid, a, b, row_number() OVER (PARTITION BY vid ORDER BY hp, a, b) AS rn
        |        FROM (SELECT a AS vid, hp, a, b FROM mae$i
        |              UNION ALL SELECT b AS vid, hp, a, b FROM mae$i)) WHERE rn = 1),
        |mw$i AS MATERIALIZED (SELECT e.a, e.b FROM mae$i e
        |        JOIN minc$i va ON va.vid = e.a AND va.a = e.a AND va.b = e.b
        |        JOIN minc$i vb ON vb.vid = e.b AND vb.a = e.a AND vb.b = e.b),
        |mm$i AS MATERIALIZED (SELECT s.vid, coalesce(s.mate, n.m2) AS mate
        |        FROM mm$p s LEFT JOIN (SELECT a AS vid, b AS m2 FROM mw$i
        |                               UNION ALL SELECT b AS vid, a AS m2 FROM mw$i) n
        |        ON s.vid = n.vid)""".stripMargin)
    }
    sb.append(s"\nSELECT vid, coalesce(mate, -1) AS mate$k FROM mm$k")
    sb.toString
  }

  /**
   * Landmark distance sketch (Potamias, Bonchi, Castillo & Gionis, "Fast
   * shortest path distance estimation in large networks", CIKM 2009): exact
   * hop distances from every vertex TO a fixed landmark set within k
   * supersteps — the embedding behind scalable closeness-centrality and
   * point-to-point distance estimates (d(u,v) ≲ min over landmarks of
   * d(u,l)+d(l,v)). Unlike [[bfsIter]] (min over the seed SET), the state
   * here is PER-LANDMARK: key (vid, seed), so the shuffle distributes over
   * both and a hub vertex's rows spread across |L| keys. State volume is
   * O(|V|·|L|) worst case — the landmark-count knob is the scale envelope,
   * stated here rather than discovered: |L| = |V|/97 keeps the sketch a
   * constant factor of the vertex table.
   *
   * Output per vertex (exact integers, −1/0 sentinels — no NULLs in the
   * hash): n_lm = landmarks reached within k hops, sum_d = Σ distances to
   * them (the closeness numerator), min_d = nearest-landmark distance.
   * Landmarks are propagated along REVERSED edges so `d` is the forward
   * distance vid→landmark.
   */
  def landmarkIter(spark: SparkSession, sfDir: String, k: Int): DataFrame =
    landmarkIterLaid(laidReversed(spark, sfDir), k)

  /** [[landmarkIter]] over REVERSED edges laid for iteration. */
  private[graft] def landmarkIterLaid(laid: Laid, k: Int,
                                      broadcastMaxRows: Long = Superstep.BroadcastMaxRows): DataFrame = {
    val g = Superstep(laid, broadcastMaxRows)
    val e = g.edges
    val init = g.vertices.filter(col("vid") % 97 === 0)
      .select(col("vid"), col("vid").as("seed"), lit(0L).as("d"))
    def sketch(dist: DataFrame): DataFrame = {
      val sk = dist.groupBy("vid").agg(count(lit(1)).as("n_lm"),
        sum(col("d")).as("sum_d"), min(col("d")).as("min_d"))
      g.vertices.join(sk, Seq("vid"), "left")
        .select(col("vid"), coalesce(col("n_lm"), lit(0L)).as("n_lm"),
          coalesce(col("sum_d"), lit(-1L)).as("sum_d"),
          coalesce(col("min_d"), lit(-1L)).as("min_d"))
    }
    g.fixedK(init, k, out = sketch) { (dist, _) =>
      e.join(g.pin(dist), e("src") === dist("vid"))
        .select(e("dst").as("vid"), dist("seed"), (col("d") + 1L).as("d"))
        .unionByName(dist)
        .groupBy("vid", "seed").agg(min(col("d")).as("d"))
    }
  }

  /** Oracle SQL for exactly k landmark-sketch supersteps (see [[landmarkIter]]).
    * Edges are reversed in the propagation join, mirroring the engine. */
  def landmarkIterSql(k: Int): String = {
    val sb = new StringBuilder(graphCtes)
    sb.append(
      """,
        |l0 AS MATERIALIZED (SELECT vid, vid AS seed, CAST(0 AS BIGINT) AS d
        |        FROM verts WHERE vid % 97 = 0)""".stripMargin)
    for (i <- 1 to k) {
      sb.append(s""",
        |l$i AS MATERIALIZED (SELECT vid, seed, min(d) AS d FROM (
        |          SELECT e.src AS vid, l${i - 1}.seed, l${i - 1}.d + 1 AS d
        |          FROM edges e JOIN l${i - 1} ON e.dst = l${i - 1}.vid
        |          UNION ALL SELECT vid, seed, d FROM l${i - 1}
        |        ) GROUP BY vid, seed)""".stripMargin)
    }
    sb.append(s""",
      |sk AS MATERIALIZED (SELECT vid, count(*) AS n_lm, CAST(sum(d) AS BIGINT) AS sum_d,
      |        CAST(min(d) AS BIGINT) AS min_d FROM l$k GROUP BY vid)
      |SELECT v.vid, coalesce(sk.n_lm, 0) AS n_lm, coalesce(sk.sum_d, -1) AS sum_d,
      |       coalesce(sk.min_d, -1) AS min_d
      |FROM verts v LEFT JOIN sk ON sk.vid = v.vid""".stripMargin)
    sb.toString
  }

  /**
   * Exactly `rounds` peel rounds toward the K-core of the UNDIRECTED doc
   * graph: S₀ = V; Sᵢ₊₁ = { v ∈ Sᵢ : deg_{Sᵢ}(v) ≥ K }. After ≥ degeneracy
   * rounds this is the exact K-core; the fixed round count keeps an exact
   * chained-CTE oracle (same fixed-k discipline as [[prIter]]). Output:
   * (vid, deg) for v ∈ S_rounds, deg being its degree within S_{rounds-1}
   * (the value the final selection used) — exact integers. A round is two
   * semi-joins against the cached symmetric edges plus one degree aggregate.
   */
  def kcoreIter(spark: SparkSession, sfDir: String, kCore: Int, rounds: Int): DataFrame =
    kcoreIterLaid(laidSym(spark, sfDir), kCore, rounds)

  private[graft] def kcoreIterLaid(laid: Laid, kCore: Int, rounds: Int,
                                   broadcastMaxRows: Long = Superstep.BroadcastMaxRows): DataFrame = {
    require(rounds >= 1, "need at least one peel round")
    val g = Superstep(laid, broadcastMaxRows)
    val sym = g.edges
    g.fixedK(g.vertices.select(col("vid"), lit(null).cast("long").as("deg")), rounds) {
      (st, _) =>
        val surv = st.select(col("vid"))
        sym.join(g.pin(surv), sym("src") === surv("vid"), "left_semi")
          .join(g.pin(surv.withColumnRenamed("vid", "v2")), col("dst") === col("v2"), "left_semi")
          .groupBy(col("src").as("vid")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= kCore)
    }
  }

  /** Oracle SQL for exactly `rounds` K-core peel rounds (see [[kcoreIter]]). */
  def kcoreIterSql(kCore: Int, rounds: Int): String = {
    val sb = new StringBuilder(graphCtes)
    sb.append(",\nk0 AS MATERIALIZED (SELECT vid FROM verts)")
    for (i <- 1 to rounds) {
      sb.append(s""",
        |kd$i AS MATERIALIZED (SELECT s.src AS vid, count(*) AS deg FROM sym s
        |        JOIN k${i - 1} a ON s.src = a.vid JOIN k${i - 1} b ON s.dst = b.vid
        |        GROUP BY s.src),
        |k$i AS MATERIALIZED (SELECT vid, deg FROM kd$i WHERE deg >= $kCore)""".stripMargin)
    }
    sb.append(s"\nSELECT vid, deg FROM k$rounds")
    sb.toString
  }

  /**
   * Exactly k WEIGHTED PageRank supersteps over the doc graph with the
   * deterministic edge weight w(u,v) = (u+v) mod 5 + 1: rank flows
   * proportionally to weight — contribution of u along (u,v) is
   * r(u)·w(u,v)/S(u), S(u) = Σ_x w(u,x) the out-strength. Dangling mass and
   * damping exactly as [[prIter]]; per-edge arithmetic is written
   * (r·w)/S in BOTH engines so even the floating-point op order matches;
   * the e7 floor pins the output. Σ transmitted = Σ r over non-dangling
   * holds because Σ_v w(u,v)/S(u) = 1 exactly as in the unweighted case.
   */
  def wprIter(spark: SparkSession, sfDir: String, k: Int,
              d: Double = 0.85): DataFrame =
    wprIterLaid(laidDirected(spark, sfDir), k, d)

  private[graft] def wprIterLaid(laid: Laid, k: Int, d: Double = 0.85,
                                 broadcastMaxRows: Long = Superstep.BroadcastMaxRows): DataFrame = {
    val g = Superstep(laid, broadcastMaxRows)
    val n = g.nV.toDouble
    val w = (col("src") + col("dst")) % 5L + 1L
    massFlow(g, g.edges.groupBy(col("src").as("vid")).agg(sum(w).as("outS")), k,
      s"wpr${k}e7", lit(1.0 / n),
      col("r") * w / col("deg"),
      (tm, s) => lit((1.0 - d) / n) + (lit(d) * (lit(1.0) - tm)) / lit(n) + lit(d) * s)
  }

  /** Oracle SQL for exactly k weighted-PageRank supersteps (see [[wprIter]]). */
  def wprIterSql(k: Int, d: Double = 0.85): String = {
    val restart = (1.0 - d).toString
    val damp    = d.toString
    val sb = new StringBuilder(graphCtes)
    sb.append(
      """,
        |we AS MATERIALIZED (SELECT src, dst, (src + dst) % 5 + 1 AS w FROM edges),
        |wstr AS MATERIALIZED (SELECT src AS vid, sum(w) AS s FROM we GROUP BY src),
        |w0 AS MATERIALIZED (SELECT vid, CAST(1.0 AS DOUBLE)/nv.n AS r FROM verts CROSS JOIN nv)""".stripMargin)
    for (i <- 1 to k) {
      sb.append(s""",
        |ws$i AS MATERIALIZED (SELECT e.dst AS vid, sum(w${i - 1}.r * e.w / o.s) AS s
        |        FROM we e JOIN w${i - 1} ON e.src = w${i - 1}.vid JOIN wstr o ON e.src = o.vid
        |        GROUP BY e.dst),
        |wd$i AS MATERIALIZED (SELECT CAST(1.0 AS DOUBLE) - coalesce(sum(s), CAST(0.0 AS DOUBLE)) AS dm FROM ws$i),
        |w$i AS MATERIALIZED (SELECT v.vid,
        |               CAST($restart AS DOUBLE)/nv.n + CAST($damp AS DOUBLE)*wd$i.dm/nv.n
        |                 + CAST($damp AS DOUBLE)*coalesce(ws$i.s, 0) AS r
        |        FROM verts v CROSS JOIN nv CROSS JOIN wd$i LEFT JOIN ws$i ON v.vid = ws$i.vid)""".stripMargin)
    }
    sb.append(s"\nSELECT vid, CAST(floor(r*1e7 + 0.500001) AS BIGINT) AS wpr${k}e7 FROM w$k")
    sb.toString
  }

  /** Exactly k HashMin connected-component supersteps (exact integer
    * labels): [[ConnectedComponents]]'s superstep over the laid symmetric
    * table. */
  def ccIter(spark: SparkSession, sfDir: String, k: Int): DataFrame =
    ccIterLaid(laidSym(spark, sfDir), k)

  private[graft] def ccIterLaid(laid: Laid, k: Int): DataFrame = {
    val g = Superstep(laid)
    g.fixedK(g.vertices.select(col("vid"), col("vid").as("label")), k)(
      (st, _) => ConnectedComponents.hashMin(g)(st))
  }

  def ccIterSql(k: Int): String = {
    val sb = new StringBuilder(graphCtes)
    sb.append(",\nl0 AS (SELECT vid, vid AS label FROM verts)")
    for (i <- 1 to k) {
      sb.append(s""",
        |l$i AS MATERIALIZED (SELECT vid, min(label) AS label FROM (
        |          SELECT s.dst AS vid, l${i - 1}.label FROM sym s JOIN l${i - 1} ON s.src = l${i - 1}.vid
        |          UNION ALL SELECT vid, label FROM l${i - 1}
        |        ) GROUP BY vid)""".stripMargin)
    }
    sb.append(s"\nSELECT vid, label FROM l$k")
    sb.toString
  }

  /** Exactly k synchronous label-propagation supersteps:
    * [[LabelPropagation]]'s superstep over the laid symmetric table. */
  def lpIter(spark: SparkSession, sfDir: String, k: Int): DataFrame =
    lpIterLaid(laidSym(spark, sfDir), k)

  private[graft] def lpIterLaid(laid: Laid, k: Int): DataFrame = {
    val g = Superstep(laid)
    g.fixedK(g.vertices.select(col("vid"), col("vid").as("label")), k)(
      (st, _) => LabelPropagation.vote(g)(st))
  }

  def lpIterSql(k: Int): String = {
    val sb = new StringBuilder(graphCtes)
    sb.append(",\np0 AS (SELECT vid, vid AS label FROM verts)")
    for (i <- 1 to k) {
      sb.append(s""",
        |n$i AS MATERIALIZED (SELECT s.dst AS vid, p${i - 1}.label FROM sym s JOIN p${i - 1} ON s.src = p${i - 1}.vid),
        |f$i AS MATERIALIZED (SELECT vid, label, count(*) AS c FROM n$i GROUP BY vid, label),
        |w$i AS MATERIALIZED (SELECT vid, label FROM (
        |          SELECT vid, label, row_number() OVER (PARTITION BY vid ORDER BY c DESC, label ASC) AS rn
        |          FROM f$i) WHERE rn = 1),
        |p$i AS MATERIALIZED (SELECT p.vid, coalesce(w$i.label, p.label) AS label
        |        FROM p${i - 1} p LEFT JOIN w$i ON p.vid = w$i.vid)""".stripMargin)
    }
    sb.append(s"\nSELECT vid, label FROM p$k")
    sb.toString
  }
}
