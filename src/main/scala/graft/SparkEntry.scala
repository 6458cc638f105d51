package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.graph._
import graft.operators.{Dedup, DocGraph, Similarity, TextOps}

/**
 * Driver contract (SURVEY.md §4.3): every implemented operator keyed here;
 * SQL-expressible ones carry an exact DuckDB oracle over the same parquet.
 *
 * Oracle-parity rules used throughout (SURVEY.md §6):
 *  - money/double aggregates go through integer cents
 *    (`CAST(round(x*100) AS BIGINT)`) so sums are exact in both engines;
 *  - the only floating-point oracled outputs are fixed-k PageRank supersteps,
 *    pinned by `round(…, 7)` (cross-engine double drift ≲1e-15 per value);
 *  - every top-k has a deterministic total-order tie-break;
 *  - column names are identical on both sides (the driver hashes by
 *    name-sorted columns).
 */
object SparkEntry {

  /** integer cents of a 2-dp double column — exact cross-engine arithmetic. */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** id offsets separating planted twins from the real corpus (recall gates).
    * Guarded at query time by [[requireIdHeadroom]]: a corpus whose ids reach
    * the offset would alias planted pairs with natural ones and silently
    * corrupt the oracle — fail loudly instead. */
  private val DocTwinOff = 10000000L
  private val EmbTwinOff = 1000000L

  /** Per-JVM memo hygiene: entries are keyed by applicationId, so a stopped
    * session's entries are never hit again — but they would pin that
    * session's plans forever in a long-lived JVM. Each memo access first
    * drops entries belonging to stopped contexts. */
  private def pruneStopped[V](m: java.util.concurrent.ConcurrentHashMap[String, (SparkSession, V)]): Unit =
    m.entrySet().removeIf(e => e.getValue._1.sparkContext.isStopped)

  private val headroomMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (SparkSession, java.lang.Long)]()

  private def requireIdHeadroom(s: SparkSession, dir: String, df: DataFrame,
                                idCol: String, off: Long): Unit = {
    // max-id is a property of the immutable corpus — one scan per JVM per
    // (dir, id column), not one per gate query
    pruneStopped(headroomMemo)
    val maxId = headroomMemo.computeIfAbsent(
      s.sparkContext.applicationId + "@" + dir + "@" + idCol,
      _ => {
        val m = df.agg(max(col(idCol))).first()
        (s, if (m.isNullAt(0)) -1L else m.getLong(0))
      })._2.longValue()
    require(maxId < off,
      s"twin offset $off collides with real $idCol ids (max=$maxId) — " +
        "planted-pair oracles would alias natural pairs; raise the offset")
  }

  /** Per-(SparkContext, sfDir) memoized MinHash signature + capped-bucket
    * index of the documents corpus (VERDICT r3 #3): the corpus is immutable
    * for a run and the recall gate would otherwise re-shingle and re-bucket
    * it end-to-end — the second-most-expensive row in the round-3 bench.
    * `localCheckpoint` blocks survive `spark.catalog.clearCache()` (they are
    * RDD-persisted, not CacheManager entries), so the memo holds across the
    * bench sweep; keyed by applicationId so a stopped test session's entries
    * are never resurrected. */
  private val lshIndexMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (SparkSession, (DataFrame, DataFrame))]()

  private def lshIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    pruneStopped(lshIndexMemo)
    lshIndexMemo.computeIfAbsent(s.sparkContext.applicationId + "@" + dir, _ => {
      val sigs = Dedup.signatures(docs(s, dir), "doc_id", "text").localCheckpoint(true)
      val bk   = Dedup.cappedBuckets(sigs).localCheckpoint(true)
      (s, (sigs, bk))
    })._2
  }

  /** Exact-duplicate twins of every embedding row (perturbation 0). Chosen so
    * the recall gates are PROVABLE: an identical vector lands in the identical
    * sign-LSH bucket, so the candidate join cannot miss the pair and cosine is
    * exactly 1 ≥ any threshold. A perturbed twin (ε=5e-4) was measured to flip
    * a plane outside the 4 probed bits for ~0.5% of pairs on this corpus —
    * fine for the scalatest recall-≥-x specs (which keep gating perturbation
    * tolerance), wrong for an exact-rows oracle. */
  private def embTwins(e: DataFrame): DataFrame =
    e.select((col("vec_id") + lit(EmbTwinOff)).as("vec_id"), col("embedding"))

  private def docs(s: SparkSession, dir: String)   = s.read.parquet(s"$dir/documents.parquet")

  /** The capped per-doc term universe shared by q_term_cooccur / q_pmi_top /
    * q_anchor_terms: distinct whitespace tokens per doc, kept only the 12
    * lexicographically smallest — bounds every downstream pair/anchor
    * fan-out (≤66 pairs, ≤12 anchor terms per doc) regardless of doc
    * length. ONE definition so the three queries can never drift apart. */
  private def cappedTerms(s: SparkSession, dir: String): DataFrame = {
    val t = docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0).distinct()
    val w = Window.partitionBy("doc_id").orderBy("term")
    t.withColumn("rn", row_number().over(w)).filter(col("rn") <= 12)
      .select(col("doc_id"), col("term"))
  }

  /** The same capped universe as a `t`,`tc` CTE fragment (no leading WITH,
    * so it composes after other CTE prefixes such as the edges CTE). */
  private val CappedTermsCtes: String =
    """t AS (SELECT DISTINCT doc_id, term FROM (
      |       SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |     WHERE length(term) > 0),
      |tc AS (SELECT doc_id, term FROM (
      |       SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY term) AS rn
      |       FROM t) WHERE rn <= 12)""".stripMargin
  private def emb(s: SparkSession, dir: String)    = s.read.parquet(s"$dir/embeddings.parquet")
  private def li(s: SparkSession, dir: String)     = s.read.parquet(s"$dir/lineitem.parquet")
  private def orders(s: SparkSession, dir: String) = s.read.parquet(s"$dir/orders.parquet")
  private def cust(s: SparkSession, dir: String)   = s.read.parquet(s"$dir/customer.parquet")

  /** Oracle CTE prefix matching [[dupClusters]]: pair graph at ppm ≥ 8000
    * over the ±3-offset band, recursive closure, min reachable id. */
  private val dupClusterCtes: String =
    """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, greatest(len(tk)-2, 1)),
      |    i -> array_to_string(tk[i:i+2], ' ')))) AS s
      |  FROM toks),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |cand AS (SELECT a.doc_id AS a, b.doc_id AS b
      |         FROM documents a
      |         JOIN (SELECT unnest([1,2,3]) AS k) ks ON true
      |         JOIN documents b ON b.doc_id = a.doc_id + ks.k),
      |ix AS (SELECT c.a, c.b, count(*) AS n FROM cand c
      |       JOIN sh sa ON sa.doc_id = c.a
      |       JOIN sh sb ON sb.doc_id = c.b AND sa.s = sb.s
      |       GROUP BY c.a, c.b),
      |pairs AS MATERIALIZED (
      |  SELECT c.a, c.b FROM cand c
      |  LEFT JOIN ix ON ix.a = c.a AND ix.b = c.b
      |  JOIN sz za ON za.doc_id = c.a
      |  JOIN sz zb ON zb.doc_id = c.b
      |  WHERE (coalesce(ix.n,0)*1000000) // (za.n + zb.n - coalesce(ix.n,0)) >= 8000),
      |se AS MATERIALIZED (SELECT a AS s, b AS t FROM pairs UNION SELECT b, a FROM pairs),
      |reach AS (SELECT s, t FROM se
      |          UNION SELECT r.s, e.t FROM reach r JOIN se e ON e.s = r.t),
      |mn AS MATERIALIZED (SELECT s, min(t) AS m FROM reach GROUP BY s)""".stripMargin

  /** Near-dup cluster election shared by q_dup_clusters / q_corpus_kept:
    * exact-Jaccard pairs at ppm ≥ 8000 over the ±3-offset candidate band →
    * connected components → min-id representative. (doc_id, cluster_id,
    * is_rep); singletons self-represent. */
  private def dupClusters(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d).select(col("doc_id"), col("text"))
    val cand = dd.select(col("doc_id").as("a"))
      .withColumn("k", explode(array(lit(1L), lit(2L), lit(3L))))
      .select(col("a"), (col("a") + col("k")).as("b"))
      .join(dd.select(col("doc_id").as("b")), Seq("b"), "left_semi")
    // r6: the pair set is tiny (near-dup pairs of a ±3-id band) and feeds an
    // iterative engine — materialize it ONCE (eager checkpoint) so the CC
    // layout doesn't re-run the shingle pipeline, count it for an exact
    // layout estimate, and hand CC a single-exchange laid symmetric table
    // (both orientations of a<b pairs are distinct by construction).
    val pairs = Dedup.jaccardCounts(dd, cand, "doc_id", "text")
      .select(col("a"), col("b"),
        call_function("div", col("inter") * lit(1000000L),
          col("sza") + col("szb") - col("inter")).as("ppm"))
      .filter(col("ppm") >= 8000L)
      .localCheckpoint(true)
    val dirPairs = pairs.select(col("a").as("src"), col("b").as("dst"))
    val cc = ConnectedComponents.runLaid(
      Superstep.lay(dirPairs.unionByName(pairs.select(col("b").as("src"), col("a").as("dst"))),
        estimate = Some(2L * pairs.count())))
    // cc's labels are materialized and the laid pair table is unpersisted by
    // runLaid, so the pair checkpoint has no live reader left — free it
    // (eager-checkpoint blocks survive clearCache; Verify never clears)
    GraphOps.freeCheckpoint(pairs)
    docs(s, d).select(col("doc_id"))
      .join(cc.withColumnRenamed("vid", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .withColumn("is_rep", col("doc_id") === col("cluster_id"))
  }
  private def events(s: SparkSession, dir: String) = s.read.parquet(s"$dir/events.parquet")

  /** Flagship: full PageRank over the deterministic doc-derived link graph at sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val e   = DocGraph.edges(spark, dir)
    val res = PageRank.run(spark, e, PageRankConfig(eps = 1e-8, maxIter = 50, ckptEvery = 0))
    res.ranks
      .join(GraphOps.inDegrees(e), Seq("vid"), "left")
      .select(col("vid"), round(col("rank"), 6).as("pagerank"),
        coalesce(col("inDeg"), lit(0L)).as("n_in"))
      .orderBy(desc("pagerank"), col("vid"))
      .limit(100)
  }

  // ==========================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- link graph over the deterministic doc-derived edge table ----------
    "q_edges" -> ((s, d) => DocGraph.edges(s, d)),

    "q_outdeg" -> ((s, d) => DocGraph.edges(s, d)
      .groupBy(col("src").as("vid")).agg(count(lit(1)).as("n_out"))
      .select("vid", "n_out")),

    "q_indeg" -> ((s, d) => DocGraph.edges(s, d)
      .groupBy(col("dst").as("vid")).agg(count(lit(1)).as("n_in"))
      .select("vid", "n_in")),

    "q_deg_hist" -> ((s, d) => DocGraph.edges(s, d)
      .groupBy("src").agg(count(lit(1)).as("n_out"))
      .groupBy("n_out").agg(count(lit(1)).as("n_vertices"))),

    "q_dangling" -> ((s, d) => GraphOps.danglingVertices(DocGraph.edges(s, d))),

    "q_undirected" -> ((s, d) => GraphOps.undirected(DocGraph.edges(s, d))),

    "q_top_indeg" -> ((s, d) => DocGraph.edges(s, d)
      .groupBy(col("dst").as("vid")).agg(count(lit(1)).as("n_in"))
      .orderBy(desc("n_in"), col("vid")).limit(20)),

    // global rank/ntile WITHOUT the single-partition Window.orderBy funnel
    // (VERDICT r4 #3): two-pass range-partitioned GraphOps.globalRank — the
    // (n_in desc, vid) order is strict, so rank() ≡ row_number ≡ rn, and the
    // oracle stays the plain window form
    "q_rank_window" -> ((s, d) => {
      val indeg = DocGraph.edges(s, d)
        .groupBy(col("dst").as("vid")).agg(count(lit(1)).as("n_in"))
      val parts = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      GraphOps.globalRank(indeg, parts, numTiles = 10, desc("n_in"), col("vid"))
        .select(col("vid"), col("n_in"), col("rn").as("rnk"), col("tile").as("decile"))
    }),

    "q_top_docs_per_lang" -> ((s, d) => {
      val w = Window.partitionBy("lang").orderBy(desc("n_chars"), col("doc_id"))
      docs(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
    }),

    "q_except_nonen" -> ((s, d) =>
      docs(s, d).select("doc_id")
        .except(docs(s, d).filter(col("lang") === "en").select("doc_id"))),

    "q_intersect_sources" -> ((s, d) =>
      docs(s, d).filter(col("lang") === "en").select("source")
        .intersect(docs(s, d).filter(col("n_chars") > 300).select("source"))),

    "q_pr_iter2" -> ((s, d) => DocGraph.prIter(s, d, 2)),
    "q_pr_iter3" -> ((s, d) => DocGraph.prIter(s, d, 3)),
    // personalized PageRank (random walk with restart to the vid%100 seed
    // set, dangling mass restarted at seeds) — fixed-k with an exact oracle
    "q_ppr_iter3" -> ((s, d) => DocGraph.pprIter(s, d, 3)),
    // HITS hubs & authorities, L1-normalized fixed-k with an exact oracle
    "q_hits_iter2" -> ((s, d) => DocGraph.hitsIter(s, d, 2)),
    // multi-source BFS distances from the vid%100 seed set (exact integers)
    "q_bfs_iter4" -> ((s, d) => DocGraph.bfsIter(s, d, 4)),
    // weighted Bellman-Ford SSSP, 4 supersteps, w(u,v) = (u+v)%5+1 —
    // the min-plus semiring generalization of BFS (exact integers)
    "q_sssp_iter4" -> ((s, d) => DocGraph.ssspIter(s, d, 4)),
    // truncated Katz centrality, α=1/8 scaled by 8³ to exact BIGINTs
    "q_katz_iter3" -> ((s, d) => DocGraph.katzIter(s, d, 3)),
    // 2 SALSA iterations (degree-normalized HITS — the third classical
    // link-analysis scorer beside PageRank and HITS)
    "q_salsa_iter2" -> ((s, d) => DocGraph.salsaIter(s, d, 2)),
    // 3 derandomized Luby MIS rounds: 1 = in MIS, 2 = dominated, 0 = active
    "q_mis_iter3" -> ((s, d) => DocGraph.misIter(s, d, 3)),
    // 4 Luby-coloring rounds: color = winning round index (proper partial
    // coloring by construction), 0 = still uncolored
    "q_color_iter4" -> ((s, d) => DocGraph.colorIter(s, d, 4)),
    // 3 derandomized greedy maximal-matching rounds (Israeli–Itai family):
    // mate = matched partner vid, -1 = still unmatched
    "q_match_iter3" -> ((s, d) => DocGraph.matchIter(s, d, 3)),

    // UNDIRECTED Newman degree assortativity (companion to the directed
    // q_assortativity moments below), emitted as the three exact integer
    // Pearson components over sym edges (r = num / sqrt(denx*deny)) — no
    // float ever crosses the compare. decimal(38,0) intermediates mirror
    // the oracle's HUGEINT; the final values fit BIGINT at harness SFs
    // (at 100 TB, emit the decimals).
    "q_assortativity_und" -> ((s, d) => {
      val dec = "decimal(38,0)"
      val sym = GraphOps.symmetrized(DocGraph.edges(s, d))
      val deg = sym.groupBy(col("src").as("vid")).agg(count(lit(1)).as("deg"))
      val xy = sym
        .join(deg.withColumnRenamed("vid", "src").withColumnRenamed("deg", "x"), Seq("src"))
        .join(deg.withColumnRenamed("vid", "dst").withColumnRenamed("deg", "y"), Seq("dst"))
      xy.agg(count(lit(1)).cast(dec).as("m"),
          sum(col("x")).cast(dec).as("sx"), sum(col("y")).cast(dec).as("sy"),
          sum(col("x").cast(dec) * col("y")).as("sxy"),
          sum(col("x").cast(dec) * col("x")).as("sxx"),
          sum(col("y").cast(dec) * col("y")).as("syy"))
        .select(
          (col("m") * col("sxy") - col("sx") * col("sy")).cast("long").as("num"),
          (col("m") * col("sxx") - col("sx") * col("sx")).cast("long").as("denx"),
          (col("m") * col("syy") - col("sy") * col("sy")).cast("long").as("deny"),
          col("m").cast("long").as("m"))
    }),

    // 3-truss peel, 2 rounds: drop edges in no triangle, then re-check on
    // the shrunken graph (cascading deletions — the edge-level core test)
    "q_truss3_iter2" -> ((s, d) =>
      // laidUnd IS the canonical undirected pair set — one exchange, cached
      // across the peel rounds' repeated references (r6)
      Truss.peelUnd(DocGraph.laidUnd(s, d), k = 3, rounds = 2)),

    // exact ≤2-hop out-ball size per vertex — the neighborhood function
    // N(2) behind effective-diameter measurements; exact form is the
    // verification path, HyperBall (gated below) is the scale path
    "q_nhop2" -> ((s, d) => {
      // cached laid table: each expansion round references the edge set, and
      // an unpersisted derivation would re-run explode+distinct per round (r6)
      val laid = DocGraph.laidDirected(s, d)
      operators.Neighborhood.exactBall(GraphOps.vertices(laid._1), laid, 2)
    }),

    // exact truncated harmonic centrality at radius 2, ×6-integer-scaled
    // (6 for distance 1, 3 for distance 2 — LCM keeps it pure BIGINT)
    "q_harmonic2" -> ((s, d) => {
      val laid = DocGraph.laidDirected(s, d) // cached across peel layers (r6)
      operators.Neighborhood.harmonic(GraphOps.vertices(laid._1), laid, 2, 6L)
    }),

    // HyperBall vs exact gate: mean relative error of the m=64-register
    // HLL ball estimate over all vertices. Hash-deterministic registers +
    // idempotent unions ⇒ the error is a fixed number per corpus (measured
    // ≈2% at sf0.001/sf0.01 — ≤2-hop balls sit in the linear-counting
    // regime); the 10% gate has 5× margin so FP summation order can't flip
    // it. Exact anchors (n_vertices, sum_ball) keep the row non-vacuous.
    "q_nhop2_hb_gate" -> ((s, d) => {
      // each path on its own laid table; HyperBall's counters flow along the
      // reversed edges, keyed like its state. The vertex universe reads the
      // reversed table, which stays cached until HyperBall returns.
      val rev = DocGraph.laidReversed(s, d)
      val v = GraphOps.vertices(rev._1)
      val exact = operators.Neighborhood.exactBall(v, DocGraph.laidDirected(s, d), 2)
      val est = operators.Neighborhood.hyperBall(v, rev, 2)
      val out = exact.join(est, "vid").agg(
        count(lit(1)).as("n_vertices"),
        sum(col("ball")).as("sum_ball"),
        ((sum(abs(col("est") - col("ball")) / col("ball")) / count(lit(1)))
          < lit(0.10)).as("err_ok")).localCheckpoint(true)
      Seq(exact, est).foreach(GraphOps.freeCheckpoint)
      out
    }),

    // landmark distance sketch (per-landmark BFS state, key (vid, seed)) —
    // the closeness-centrality / distance-estimation embedding; exact hop
    // integers within 4 supersteps (see DocGraph.landmarkIter)
    "q_landmark4" -> ((s, d) => DocGraph.landmarkIter(s, d, 4)),

    // neighborhood function N(t) = Σ_v |B_t(v)| — the distance-distribution
    // curve behind effective-diameter estimates (Boldi–Rosa–Vigna HyperBall,
    // WSDM 2011): exact anchor + HLL-sum gate at t ≤ 3, estimate-only at
    // t = 4 (the radius where exact materialization is the thing HyperBall
    // exists to avoid). Measured sum-level rel err: 0.83/3.9/7.8 % at
    // t = 1/2/3 on the 500-doc graph (sf0.001/sf0.01 — the driver's
    // compare scale) and 0.58/1.1/2.2 % on the 5000-doc graph (sf0.1):
    // the per-vertex m=64 error partially cancels in the sum as |V| grows,
    // so the small-|V| 7.8 % is the worst case and the 0.10 gate is safe
    // in both directions — and HLL is deterministic, so the margin covers
    // nothing stochastic. One row per radius; oracle emits the exact
    // anchors + TRUE.
    "q_nf_hb" -> ((s, d) => {
      // cached laid table: 3 exact + 4 HLL rounds each reference the edge
      // set in a separately-materialized checkpoint plan (r6)
      val (laid, _, _) = DocGraph.laidDirected(s, d)
      val out = operators.Neighborhood.nfCurve(GraphOps.vertices(laid), laid,
        kExact = 3, k = 4, tol = 0.10)
      laid.unpersist(false) // nfCurve's output is eagerly checkpointed
      out
    }),

    // Newman degree-assortativity building blocks (Newman 2002): per edge
    // x = outdeg(src), y = indeg(dst); the exact integer moments m, Σx, Σy,
    // Σxy, Σx², Σy² in one row — r itself is driver arithmetic. The degree
    // tables are aggregates OF the edge table on the join keys, so the three
    // shuffles co-partition and nothing is re-sorted.
    "q_assortativity" -> ((s, d) => {
      val e  = DocGraph.edges(s, d)
      val od = e.groupBy("src").agg(count(lit(1)).as("x"))
      val id = e.groupBy("dst").agg(count(lit(1)).as("y"))
      e.join(od, Seq("src")).join(id, Seq("dst"))
        .agg(count(lit(1)).as("m"),
          sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
          sum(col("x") * col("y")).as("sum_xy"),
          sum(col("x") * col("x")).as("sum_x2"),
          sum(col("y") * col("y")).as("sum_y2"))
    }),
    // supergraph contraction: collapse the doc graph to its `source`
    // communities — (src_comm, dst_comm, n_links) including the diagonal
    "q_source_graph" -> ((s, d) =>
      operators.Communities.contract(DocGraph.edges(s, d),
        docs(s, d).select(col("doc_id").as("vid"), col("source").as("comm")))),

    // exact Newman modularity of the source partition, integer-scaled
    // (Q·4m² per community — see Communities.modularity; Q is driver
    // arithmetic like assortativity's r)
    "q_source_modularity" -> ((s, d) =>
      operators.Communities.modularity(s, DocGraph.edges(s, d),
        docs(s, d).select(col("doc_id").as("vid"), col("source").as("comm")))),

    // exact per-community conductance of the source partition, integer-ppm
    // (cut / min(vol, 2m−vol) — the spectral-clustering quality measure
    // complementing modularity; see Communities.conductance)
    "q_source_conductance" -> ((s, d) =>
      operators.Communities.conductance(s, DocGraph.edges(s, d),
        docs(s, d).select(col("doc_id").as("vid"), col("source").as("comm")))),

    "q_cc_iter2" -> ((s, d) => DocGraph.ccIter(s, d, 2)),
    "q_lp_iter2" -> ((s, d) => DocGraph.lpIter(s, d, 2)),
    // K-core peel (3 fixed rounds toward the 3-core, exact integer degrees)
    "q_kcore3_iter3" -> ((s, d) => DocGraph.kcoreIter(s, d, kCore = 3, rounds = 3)),
    // weighted PageRank (rank flows ∝ deterministic edge weight) — fixed-k
    // with an exact oracle, same e7 pin as the unweighted family
    "q_wpr_iter2" -> ((s, d) => DocGraph.wprIter(s, d, 2)),

    "q_triangles" -> ((s, d) =>
      s.range(1).select(
        lit(Triangles.countTriangles(s, DocGraph.edges(s, d))).as("n_triangles"))),

    // per-vertex participation counts — oracles the join STRUCTURE per vertex
    // (each triangle contributes once to each of its three corners, so the
    // counts are orientation-invariant and match the a<b<c oracle exactly)
    "q_triangles_per_vertex" -> ((s, d) =>
      Triangles.perVertex(s, DocGraph.edges(s, d))),

    // per-vertex LOCAL clustering coefficient (Watts–Strogatz 1998) in
    // integer ppm: 2·t(v) / (deg(v)·(deg(v)−1)) over the undirected simple
    // graph, vertices with deg ≥ 2 only (denominator > 0)
    "q_lcc" -> ((s, d) => {
      val e = DocGraph.edges(s, d)
      val deg = GraphOps.undirectedDegrees(GraphOps.undirected(e))
      val t = Triangles.perVertex(s, e)
      deg.filter(col("deg") >= 2)
        .join(t, Seq("vid"), "left")
        .select(col("vid"), coalesce(col("triangles"), lit(0L)).as("tri"), col("deg"),
          call_function("div", coalesce(col("triangles"), lit(0L)) * lit(2000000L),
            col("deg") * (col("deg") - 1L)).as("lcc_ppm"))
    }),

    // common-neighbor link prediction (non-adjacent pairs, cn >= 2, hub
    // centers capped at deg 64) — exact integer counts + Jaccard ppm
    "q_link_pred" -> ((s, d) =>
      GraphOps.linkPrediction(DocGraph.edges(s, d), minCommon = 2, maxHubDegree = 64)),

    // co-citation / bibliographic coupling (directed duals; fan-capped on
    // the pair-generating center so a hub never emits deg² rows)
    "q_cocitation" -> ((s, d) =>
      GraphOps.coCitation(DocGraph.edges(s, d), minCommon = 2, maxFanDegree = 64)),
    "q_coupling" -> ((s, d) =>
      GraphOps.coupling(DocGraph.edges(s, d), minCommon = 2, maxFanDegree = 64)),

    // full iterative runs, each with an EXACT oracle:
    //  - q_pagerank: 40 fixed supersteps (converged to ≲1e-7 L1 at these
    //    scales; the eps-driven variant is exercised by entry() + goldens) —
    //    the oracle replays the same 40 supersteps in chained CTEs;
    //  - q_cc: run to convergence; HashMin's fixpoint equals HashMin after
    //    ≥diameter rounds, so a 64-round CTE chain reproduces it exactly
    //    (web-graph diameters are ≲20; a mismatch would fail the driver);
    //  - q_lp: changed==0 is a synchronous fixed point, so the engine's
    //    early-stopped 10-iteration run equals the oracle's exactly-10.
    "q_pagerank" -> ((s, d) => DocGraph.prIter(s, d, 40)),
    // r6: the graph engines below consume DocGraph's laid-out (one-exchange,
    // cached) edge tables instead of re-deriving explode+distinct per
    // internal reference — same rows, guide §2.4
    "q_cc" -> ((s, d) => ConnectedComponents.runLaid(DocGraph.laidSym(s, d))),
    // strongly connected components to convergence — scc_id = min vid of the
    // SCC is algorithm-independent, so the oracle replays it from recursive
    // reachability ground truth, not from the engine's iteration schedule
    "q_scc" -> ((s, d) => {
      val (laid, _, _) = DocGraph.laidDirected(s, d)
      val out = StronglyConnectedComponents.run(s, laid, assumeDistinct = true)
      laid.unpersist(false) // out is eagerly checkpointed
      out
    }),
    // topological layers of the SCC condensation (web-bowtie depth): layer =
    // longest ≤6-edge condensation path ending at the vertex's component
    "q_topo_iter6" -> ((s, d) => {
      val (laid, _, _) = DocGraph.laidDirected(s, d)
      val out = Condensation.topoLayers(s, laid, 6, assumeDistinct = true)
      laid.unpersist(false) // out is eagerly checkpointed
      out
    }),
    // 3 Weisfeiler-Leman refinement rounds: dense structural colors —
    // same color ⇒ locally indistinguishable link shape (template pages)
    "q_wl_iter3" -> ((s, d) => WlRefine.refineLaid(s, DocGraph.laidSym(s, d), 3)),
    // alternating large-star/small-star (O(log n) rounds) — same fixpoint,
    // same oracle as q_cc
    "q_cc_alt" -> ((s, d) => {
      val (laid, _, _) = DocGraph.laidDirected(s, d)
      val out = ConnectedComponents.runAlternating(s, laid)
      laid.unpersist(false) // out is eagerly checkpointed
      out
    }),
    "q_lp" -> ((s, d) => LabelPropagation.runLaid(DocGraph.laidSym(s, d), maxIter = 10)),

    // ---- relational coverage (TPC-H-ish; exact integer-cent arithmetic) ----
    "q1_agg" -> ((s, d) => li(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(cents(col("l_quantity"))).as("sum_qty_cents"),
        sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
        // l_discount has 2 decimals → cents(discount) IS the integer percent;
        // revenue stays in exact integer arithmetic (units: cents × percent)
        sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
          .as("rev_c4"),
        count(lit(1)).as("n_rows"))
      .select("l_returnflag", "l_linestatus", "sum_qty_cents", "sum_base_cents", "rev_c4", "n_rows")),

    // A9 rollup/cube — hierarchical + full grouping-set aggregates with exact
    // integer-cent arithmetic; grouping nulls are projected to 'ALL' in both
    // engines (the raw columns are never null in this data, so coalesce is
    // an unambiguous marker and the driver's hash compare sees no nulls)
    "q_rollup_returns" -> ((s, d) => li(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum(cents(col("l_quantity"))).as("sum_qty_cents"), count(lit(1)).as("n_rows"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("sum_qty_cents"), col("n_rows"))),

    "q_cube_returns" -> ((s, d) => li(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(sum(cents(col("l_extendedprice"))).as("sum_base_cents"), count(lit(1)).as("n_rows"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("sum_base_cents"), col("n_rows"))),

    "q_mkt_rev" -> ((s, d) => {
      val o = orders(s, d); val c = cust(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(sum(cents(col("o_totalprice"))).as("rev_cents"),
          countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n_orders"))
    }),

    "q_top_orders_per_cust" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("tp_cents"), col("o_orderkey"))
      orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), cents(col("o_totalprice")).as("tp_cents"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    }),

    "q_late_ship_priority" -> ((s, d) => {
      val o = orders(s, d); val l = li(s, d)
      val late = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate"))
        .select(l("l_orderkey").as("lk")).distinct()
      o.join(late, o("o_orderkey") === late("lk"), "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
    }),

    "q_events_window" -> ((s, d) => events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 1000).cast("long")).as("val_mills"))),

    // §3.8 session windows, driver-visible through the batch analogue (the
    // same session_window function Structured Streaming runs; the oracle
    // rebuilds gap-based sessions with lag + cumulative break counts —
    // Spark opens a new session when the gap is >= the threshold, so the
    // oracle's break predicate uses >= too)
    "q_sessions" -> ((s, d) => events(s, d)
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(cents(col("value"))).as("val_cents"))
      .select(col("user_id"), col("w.start").as("sess_start"),
        col("n_events"), col("val_cents"))),

    // J8 as-of join (union + running last_value — never an inequality join):
    // for each error event, the latest click by the same user at or before
    // it; DuckDB's native ASOF LEFT JOIN is the oracle. No-match → -1
    // sentinels so the hash compare sees no nulls.
    "q_asof_click" -> ((s, d) => {
      val ev = events(s, d)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id"))
      // pre-dedup to one click per (user_id, ts), keeping the max click_id
      // (ADVICE r4): DuckDB's ASOF LEFT JOIN returns an UNSPECIFIED row on
      // right-side ties, so without this pin the oracle compare would be
      // data-dependent the first time the corpus grows a duplicate-ts click
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"),
          cents(col("value")).as("click_val_cents"))
        .groupBy("user_id", "ts")
        .agg(max_by(struct(col("click_id"), col("click_val_cents")), col("click_id")).as("p"))
        .select(col("user_id"), col("ts"),
          col("p.click_id").as("click_id"), col("p.click_val_cents").as("click_val_cents"))
      operators.TemporalJoins.asofJoin(errors, clicks, "user_id", "ts")
        .select(col("event_id"), col("user_id"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"),
          coalesce(col("click_val_cents"), lit(-1L)).as("click_val_cents"))
    }),

    // J8 range join (bin-bucketed equi-join, constant 2× fan-out): clicks by
    // the same user in the hour before each error; oracle is the plain
    // inequality join DuckDB can afford at oracle scale
    "q_click_rate_1h" -> ((s, d) => {
      val ev = events(s, d)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"))
      operators.TemporalJoins.countInRange(errors, clicks, "user_id", "ts", "ts",
          windowMicros = 3600L * 1000000L)
        .select(col("event_id"), col("user_id"), col("n_in_range").as("n_clicks_1h"))
    }),

    // ---- training-data pipeline: dedup / text analysis / similarity --------
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exactGroups(docs(s, d), "doc_id", "text")),

    "q_token_count" -> ((s, d) => docs(s, d)
      .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"))),

    "q_token_bpeish" -> ((s, d) => docs(s, d)
      .select(col("doc_id"), TextOps.tokenCountBpeish(col("text")).as("n_subtokens"))),

    "q_quality" -> ((s, d) => docs(s, d)
      .select(col("doc_id"),
        TextOps.alphaChars(col("text")).as("n_alpha"),
        TextOps.occurrences(col("text"), "the").as("n_the"),
        TextOps.tokenCount(col("text")).as("n_tokens"))),

    "q_quality_score" -> ((s, d) => docs(s, d)
      .select(col("doc_id"), TextOps.qualityScorePpm(col("text")).as("quality_ppm"))),

    "q_langid" -> ((s, d) => docs(s, d)
      .select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))),

    "q_fingerprint" -> ((s, d) => docs(s, d)
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))),

    // PII detection + redaction over text with a deterministic injected
    // contact suffix (the raw word-salad corpus contains no PII, so the
    // suffix gives every row a nonzero signal); counts are exact ints and
    // the redacted length pins the replace-all semantics cross-engine
    "q_pii_redact" -> ((s, d) => {
      val t2 = concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com or +1-555-"),
        lpad((col("doc_id") % 10000L).cast("string"), 4, "0"))
      docs(s, d).select(col("doc_id"),
        TextOps.emailCount(t2).as("n_emails"),
        TextOps.phoneCount(t2).as("n_phones"),
        length(TextOps.piiRedact(t2)).cast("long").as("red_len"))
    }),

    // deterministic stratified sampling (reproducible, shuffle-free hash
    // predicate — the 100 TB replacement for RNG df.sample); exact oracle
    // replays the same integer arithmetic
    "q_sample_stratified" -> ((s, d) =>
      operators.Sampling.hashStratifiedPerMille(
        docs(s, d).select(col("doc_id"), col("lang")),
        "doc_id", "lang", Map("en" -> 200), defaultPerMille = 50)),

    // exact nearest-rank (lower) median document length per language —
    // rank-based so both engines compute the IDENTICAL row (interpolating
    // median definitions differ between engines; nearest-rank does not)
    "q_len_median_per_lang" -> ((s, d) => {
      val w = Window.partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
      val ranked = docs(s, d).select(col("lang"), col("n_chars"), col("doc_id"))
        .withColumn("rn", row_number().over(w).cast("long"))
      val cnts = docs(s, d).groupBy("lang").agg(count(lit(1)).as("cnt"))
      ranked.join(cnts, Seq("lang"))
        // integer div, not `/` (Spark's `/` on longs yields DOUBLE)
        .filter(col("rn") === call_function("div", col("cnt") + 1L, lit(2L)))
        .select(col("lang"), col("n_chars").as("median_chars"))
    }),

    // corpus vocabulary statistics: top-5 terms per language by frequency —
    // the token-level analogue of q_top_docs_per_lang (explode + count +
    // per-group top-k; per-(lang,term) counts partial-aggregate map-side)
    "q_top_terms_per_lang" -> ((s, d) => {
      val toks = docs(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
      val counts = toks.groupBy("lang", "term").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("lang").orderBy(desc("n"), col("term"))
      counts.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
    }),

    // Term co-occurrence (the count table behind PMI / word-vector prep):
    // bipartite doc→term projection onto term-term pairs. The quadratic
    // per-doc pair blowup is bounded BY CONSTRUCTION: only the 12
    // lexicographically-smallest distinct terms of each doc pair up (a
    // deterministic cap both engines compute identically), so fan-out is
    // ≤ C(12,2) = 66 pairs/doc no matter how long the document — the cap,
    // not the doc length, is the 100 TB envelope. Pairs are (a < b)
    // canonicalized; singleton pairs dropped.
    "q_term_cooccur" -> ((s, d) => {
      val capped = cappedTerms(s, d)
      val b = capped.select(col("doc_id"), col("term").as("term_b"))
      capped.join(b, Seq("doc_id"))
        .filter(col("term") < col("term_b"))
        .groupBy(col("term").as("term_a"), col("term_b")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2)
        .select(col("term_a"), col("term_b"), col("n"))
    }),

    // Top-50 pairs by exact integer-ppm PMI lift over the SAME capped
    // per-doc term universe as q_term_cooccur (one cappedTerms source):
    // lift_ppm = (n(a,b)·N·10⁶) div (df(a)·df(b)) — log() never enters
    // (monotone), so the ranking is the PMI ranking in exact integers.
    // N is one O(1) driver scalar (the 1×1 cross-join alternative plans
    // the BNLJ the engine bans). The numerator n·N·10⁶ outgrows BIGINT
    // once corpus-frequent pairs (n ∝ N) pass ~3·10⁶ docs, so both
    // engines compute in 38-digit integers (decimal(38,0) ≡ HUGEINT) and
    // only the ≤N·5·10⁵ quotient is cast back to BIGINT.
    "q_pmi_top" -> ((s, d) => {
      val dec = "decimal(38,0)"
      val capped = cappedTerms(s, d).localCheckpoint(true)
      val nDocs = capped.select(col("doc_id")).distinct().count()
      val df = capped.groupBy("term").agg(count(lit(1)).as("df"))
      val b = capped.select(col("doc_id"), col("term").as("term_b"))
      val pairs = capped.join(b, Seq("doc_id"))
        .filter(col("term") < col("term_b"))
        .groupBy(col("term").as("term_a"), col("term_b")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2)
      pairs
        .join(df.select(col("term").as("term_a"), col("df").as("dfa")), Seq("term_a"))
        .join(df.select(col("term").as("term_b"), col("df").as("dfb")), Seq("term_b"))
        .select(col("term_a"), col("term_b"), col("n"), col("dfa"), col("dfb"),
          call_function("div", col("n").cast(dec) * lit(nDocs) * lit(1000000L),
            col("dfa").cast(dec) * col("dfb")).as("lift_ppm"))
        .orderBy(col("lift_ppm").desc, col("term_a"), col("term_b"))
        .limit(50)
    }),

    // Anchor-text propagation (the web-search companion signal to
    // PageRank: linking pages describe the target): each link src→dst
    // endorses dst with src's capped term set; top-5 anchor terms per
    // target by (count desc, term) — exact integers, the total order pins
    // the cut. The per-target window is partitioned (scale-safe) and the
    // per-key row bound is the capped vocabulary, never the in-degree.
    "q_anchor_terms" -> ((s, d) => {
      val capped = cappedTerms(s, d).select(col("doc_id").as("src"), col("term"))
      val at = DocGraph.edges(s, d).join(capped, Seq("src"))
        .groupBy(col("dst").as("doc_id"), col("term")).agg(count(lit(1)).as("n"))
      val w2 = Window.partitionBy("doc_id").orderBy(col("n").desc, col("term"))
      at.withColumn("rn", row_number().over(w2).cast("long")).filter(col("rn") <= 5)
        .select(col("doc_id"), col("term"), col("n"), col("rn"))
    }),

    // WebGraph-style term dictionary: every distinct token → dense 0-based
    // id in lexicographic order, assigned by the range-partitioned
    // globalRank (never a single-partition window — see Dictionary scaladoc)
    "q_term_dict" -> ((s, d) => {
      val toks = docs(s, d)
        .select(explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
      val parts = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      operators.Dictionary.build(toks, "term", parts)
    }),

    // corpus re-encoded over the dictionary, pinned by per-doc integer
    // checksums of the assigned ids (count/sum/min/max — exact both engines)
    "q_dict_encode" -> ((s, d) => {
      val toks = docs(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
      val parts = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val dict = operators.Dictionary.build(toks, "term", parts)
      operators.Dictionary.encodeSummary(toks, "doc_id", "term", dict)
    }),

    "q_simhash" -> ((s, d) => docs(s, d)
      .select(col("doc_id"), Dedup.simhash(Dedup.shingleHashes(col("text"))).as("sig"))),

    "q_neardup_minhash" -> ((s, d) => {
      val (sigs, bk) = lshIndex(s, d)
      Dedup.nearDuplicatesFromIndex(docs(s, d).select(col("doc_id"), col("text")),
          sigs, bk, "doc_id", "text", threshold = 0.5)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
    }),

    // maxHamming=3 ⇒ 4 disjoint 16-bit blocks ⇒ pigeonhole-COMPLETE recall at
    // this radius (the parameter and the candidate-generation guarantee agree
    // by construction — simhashPairs derives blocks = maxHamming + 1)
    "q_neardup_simhash" -> ((s, d) =>
      Dedup.simhashPairs(docs(s, d), "doc_id", "text", maxHamming = 3)),

    // exact n-gram Jaccard over a DETERMINISTIC candidate set (neighbor pairs
    // (a, a+k), k ∈ 1..3 — |cand| = 3n at every sf) — the one dedup query
    // whose pairs an ANSI oracle can reproduce end-to-end (shingling,
    // intersection, and ppm arithmetic all integer-exact)
    "q_jaccard_pairs" -> ((s, d) => {
      val dd = docs(s, d).select(col("doc_id"), col("text"))
      val cand = dd.select(col("doc_id").as("a"))
        .withColumn("k", explode(array(lit(1L), lit(2L), lit(3L))))
        .select(col("a"), (col("a") + col("k")).as("b"))
        .join(dd.select(col("doc_id").as("b")), Seq("b"), "left_semi")
      Dedup.jaccardCounts(dd, cand, "doc_id", "text")
        .select(col("a"), col("b"),
          call_function("div", col("inter") * lit(1000000L),
            col("sza") + col("szb") - col("inter")).as("jaccard_ppm"))
    }),

    // benchmark decontamination (GPT-3 App. C n-gram overlap): docs sharing
    // ≥1 word-3-gram shingle with the doc_id%100==0 "benchmark" set
    "q_decontaminate" -> ((s, d) =>
      Dedup.contamination(docs(s, d).select(col("doc_id"), col("text")),
          col("doc_id") % 100 === 0, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")),

    // near-dup cluster election — the step after pair finding in a real
    // dedup pipeline: exact-Jaccard pairs ≥ 0.8% form an undirected
    // similarity graph (transitive chains ARE present: clusters reach size
    // 5+ at this threshold), connected components elect min-doc_id as the
    // cluster representative, singletons represent themselves. Composes
    // Dedup.jaccardCounts with ConnectedComponents.run — the same CC engine
    // the link graph uses, over a derived edge set.
    "q_dup_clusters" -> ((s, d) => dupClusters(s, d)),

    // the dedup pipeline's END STEP: per-lang corpus size after keeping one
    // representative per near-dup cluster — what a training run actually
    // materializes from the cluster election
    "q_corpus_kept" -> ((s, d) =>
      docs(s, d).select(col("doc_id"), col("lang"))
        .join(dupClusters(s, d).select(col("doc_id"), col("is_rep")), Seq("doc_id"))
        .groupBy("lang").agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_rep"), 1L).otherwise(0L)).as("n_kept"))
        .withColumn("n_dropped", col("n_docs") - col("n_kept"))),

    "q_ann_cosine" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.bruteTopK(e.filter(col("vec_id") < 50), e, "vec_id", "embedding", 5)
        .select(col("qid"), col("nn"), col("rnk").cast("long").as("rnk"))
    }),

    "q_ann_lsh" -> ((s, d) =>
      Similarity.lshTopK(emb(s, d), "vec_id", "embedding", k = 5)),

    // IVF ANN (learned inverted lists — the brief's other scale path beside
    // LSH). Centroid doubles depend on aggregation order, so the plain run is
    // no_oracle like q_ann_lsh; the recall gate below is order-independent.
    "q_ann_ivf" -> ((s, d) =>
      Similarity.ivfTopK(emb(s, d), "vec_id", "embedding", k = 5)),

    // IVF gate: an exact-duplicate twin has identical centroid similarities,
    // hence the identical assignment under the deterministic tie-break, so it
    // is ALWAYS in its original's probe list and at cosine exactly 1 it is
    // the unique rank-1 — provable independent of what the learned centroids
    // happen to be (k-means float nondeterminism cannot break it)
    "q_ann_ivf_recall" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("embedding"))
      requireIdHeadroom(s, d, e, "vec_id", EmbTwinOff)
      Similarity.ivfTopK(e.unionByName(embTwins(e)), "vec_id", "embedding", k = 5)
        .filter(col("qid") < 50 && col("nn") === col("qid") + lit(EmbTwinOff))
        .select(col("qid"), col("rnk").cast("long").as("twin_rank"))
    }),

    // two-level (coarse-router) IVF — the web-scale variant whose candidate
    // volume per query is constant in N (list sizes stay O(1) as nlist grows
    // with the corpus). Like q_ann_ivf the plain run is no_oracle (sampled
    // centroids are data-dependent doubles); the gate below is provable.
    "q_ann_ivf2" -> ((s, d) =>
      Similarity.ivfTopKTwoLevel(emb(s, d), "vec_id", "embedding", k = 5)),

    // two-level IVF gate, provable by the same routing-determinism argument
    // as q_ann_ivf_recall: identical vector ⇒ identical coarse ranking ⇒
    // identical probe list (one sequential compiled loop) ⇒ twin and
    // original share an inverted list ⇒ candidate guaranteed; cosine exactly
    // 1 ⇒ unique rank-1
    "q_ann_ivf2_recall" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("embedding"))
      requireIdHeadroom(s, d, e, "vec_id", EmbTwinOff)
      Similarity.ivfTopKTwoLevel(e.unionByName(embTwins(e)), "vec_id", "embedding", k = 5)
        .filter(col("qid") < 50 && col("nn") === col("qid") + lit(EmbTwinOff))
        .select(col("qid"), col("rnk").cast("long").as("twin_rank"))
    }),

    // ---- driver-visible recall gates (VERDICT r2 #4): each plants
    // deterministic twins, runs the PROBABILISTIC path, and emits exactly the
    // planted pairs it recovered — so the DuckDB oracle (the full planted
    // list) fails the round on any recall regression, not just scalatest.

    // exact-text twins ⇒ identical minhash signatures ⇒ identical buckets in
    // every band ⇒ candidate guaranteed; estimate = 1 and exact Jaccard = 1
    // pass every filter ⇒ recall over planted pairs is PROVABLY 1 (the only
    // escape — all 16 of a pair's buckets over the hot-bucket cap — would
    // need >200 docs sharing a signature band, impossible in this corpus of
    // distinct texts). Twin signature/bucket rows are DERIVED from the
    // memoized base-corpus index (identical text ⇒ identical sig ⇒ identical
    // bucket values — the same identity the provability rests on), so the
    // gate pays only the bucket join + verify, not a second corpus-wide
    // shingle/signature pass (VERDICT r3 #3). The cap stays the base-corpus
    // one: if ALL of a base doc's bucket rows were capped out its twin pair
    // would escape, but that needs >200 docs per band-bucket in every band —
    // the same impossibility as before.
    "q_neardup_minhash_recall" -> ((s, d) => {
      val dd = docs(s, d).select(col("doc_id"), col("text"))
      requireIdHeadroom(s, d, dd, "doc_id", DocTwinOff)
      val twins = dd.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(DocTwinOff)).as("doc_id"), col("text"))
      val (sigs, bk) = lshIndex(s, d)
      val twinSel = col("id") % 10 === 0
      val sigsAll = sigs.unionByName(sigs.filter(twinSel)
        .select((col("id") + lit(DocTwinOff)).as("id"), col("sig")))
      val bkAll = bk.unionByName(bk.filter(twinSel)
        .select((col("id") + lit(DocTwinOff)).as("id"), col("band"), col("bucket")))
      // candidates are narrowed to twin-involving pairs (b ≥ offset ⟺ the
      // pair contains a twin, since a < b) BEFORE estimate/verify: the gate's
      // oracle only consumes planted pairs, and the natural pairs it would
      // otherwise re-verify are exactly q_neardup_minhash's own workload
      Dedup.nearDuplicatesFromIndex(dd.unionByName(twins), sigsAll, bkAll,
          "doc_id", "text", threshold = 0.5,
          pairFilter = col("b") >= lit(DocTwinOff))
        .filter(col("b") === col("a") + lit(DocTwinOff))
        .select("a", "b")
    }),

    // exact-duplicate twins ⇒ identical sign-LSH bucket ⇒ candidate
    // guaranteed, cosine exactly 1 ⇒ provable recall 1 over the planted set
    // (see embTwins for why ε=0 — the scalatest specs keep gating perturbed
    // recall, this row gates the bucketing/probe/join plumbing driver-visibly)
    "q_neardup_embedding_recall" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("embedding"))
      requireIdHeadroom(s, d, e, "vec_id", EmbTwinOff)
      Similarity.embeddingNearDuplicates(
          e.unionByName(embTwins(e)), "vec_id", "embedding", threshold = 0.98)
        .filter(col("b") === col("a") + lit(EmbTwinOff))
        .select("a", "b")
    }),

    // ANN gate: for each of the 50 query vectors, its exact-duplicate twin
    // must surface at rank 1 of the LSH top-k (cosine exactly 1 — the unique
    // argmax; no natural 64-dim random pair approaches it) — a missing or
    // declassed twin drops the row and the oracle compare fails
    "q_ann_lsh_recall" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("embedding"))
      requireIdHeadroom(s, d, e, "vec_id", EmbTwinOff)
      Similarity.lshTopK(e.unionByName(embTwins(e)), "vec_id", "embedding", k = 5)
        .filter(col("qid") < 50 && col("nn") === col("qid") + lit(EmbTwinOff))
        .select(col("qid"), col("rnk").cast("long").as("twin_rank"))
    }),

    // embedding-cosine near-dup over the corpus plus deterministic planted
    // twins (uniform-random testdata has no natural near-dups; the planted
    // pairs make recall observable). LSH recall < 1 by construction → no
    // ANSI oracle; precision/recall gated by the planted-twin spec.
    "q_neardup_embedding" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("embedding"))
      requireIdHeadroom(s, d, e, "vec_id", EmbTwinOff)
      val twins = e.select((col("vec_id") + lit(EmbTwinOff)).as("vec_id"),
        transform(col("embedding"), x =>
          x + (pmod(xxhash64(col("vec_id"), x), lit(100)).cast("float") - 50f) / 5000f)
          .as("embedding"))
      Similarity.embeddingNearDuplicates(e.unionByName(twins), "vec_id", "embedding",
          threshold = 0.98)
        .select(col("a"), col("b"))
    }),

    // multimodal plumbing: synth binary media → batched stub decode → stats
    // (row count tracks the sf under test so the query is scale-responsive)
    "q_media_meta" -> ((s, d) => {
      val meta = graft.operators.Multimodal.decodeMeta(
        graft.operators.Multimodal.synthMedia(s, DocGraph.nDocs(s, d)))
      meta.toDF().groupBy("kind")
        .agg(count(lit(1)).as("n"),
          sum(col("width").cast("long")).as("sum_w"),
          sum(col("duration_ms")).as("sum_dur"))
    }),

    // extraction pipeline exercised end-to-end on the synthetic crawl, sized
    // by the sf under test (deterministic; correctness pinned by HtmlSpec)
    "q_extract_edges" -> ((s, d) => {
      val pages = graft.sources.PageSynth.pages(s, DocGraph.nDocs(s, d)).toDF()
      GraphOps.edgesFromPages(pages)
        .groupBy((col("src") % 16).as("bucket16")).agg(count(lit(1)).as("n_edges"))
    }),

    // local clustering coefficient, integer-exact: per-vertex triangle count
    // over per-vertex wedge count (deg·(deg−1)/2) — emitted as the integer
    // pair rather than their float ratio so the driver hash is exact; the
    // ratio is a projection the user divides at read time
    "q_clust_coeff" -> ((s, d) => {
      val e   = DocGraph.edges(s, d)
      val deg = GraphOps.undirectedDegrees(GraphOps.undirected(e))
      deg.filter(col("deg") >= 2)
        .join(Triangles.perVertex(s, e), Seq("vid"), "left")
        .select(col("vid"), coalesce(col("triangles"), lit(0L)).as("triangles"),
          // integer div, not `/` (Spark's `/` on longs yields DOUBLE)
          call_function("div", col("deg") * (col("deg") - 1L), lit(2L)).as("wedges"))
    }),

    // Bloom pre-filtered semi-join: the probe side (orders) is filtered by a
    // compiled Bloom membership predicate BEFORE any shuffle, then an exact
    // semi-join removes the ≤fpp false positives — exact by construction
    // (no false negatives), so the plain IN-subquery oracle applies
    "q_bloom_semi" -> ((s, d) => {
      val bld = cust(s, d).filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      operators.BloomJoin.bloomSemiJoin(orders(s, d), "o_custkey", bld, "c_custkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), sum(cents(col("o_totalprice"))).as("rev_cents"))
    }),

    // sketch gate: HyperLogLog++ distinct count (the 100 TB answer to
    // COUNT(DISTINCT)) alongside the exact count, emitting the exact value
    // plus a 5%-error gate the sketch must clear. HLL is hash-based and
    // RNG-free, so the gate is deterministic for a fixed corpus; rsd=2%
    // leaves a wide margin under the 5% bar (verified at every sf on disk).
    "q_hll_gate" -> ((s, d) => li(s, d)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("exact_distinct"),
        approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("hll"))
      .select(col("l_returnflag"), col("exact_distinct"),
        (abs(col("hll") - col("exact_distinct"))
          <= col("exact_distinct") * lit(0.05)).as("hll_ok"))),

    // sketch gate: Count-Min heavy-hitter estimates vs the exact top-20
    // token counts. CMS counters merge by plain addition, so for a fixed
    // seed the sketch is independent of partitioning/merge order — the
    // gates are deterministic per corpus, same argument as the HLL gate.
    // Two gates: `over` (CMS never underestimates — holds by construction)
    // and `eps` (est ≤ exact + ε·N, the CMS accuracy bound; verified to
    // hold on-disk at every sf). The 20-row driver loop is a k-row collect
    // of pre-aggregated output, same sanctioned shape as the IVF centroids.
    "q_cms_gate" -> ((s, d) => {
      val toks = docs(s, d).select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
      val top = toks.groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), col("w")).limit(20).collect()
      val cms = toks.stat.countMinSketch(col("w"), eps = 0.0001, confidence = 0.99, seed = 42)
      val slack = (0.0001 * cms.totalCount()).ceil.toLong
      import scala.jdk.CollectionConverters._
      s.createDataFrame(
        top.map { r =>
          val est = cms.estimateCount(r.getString(0))
          org.apache.spark.sql.Row(r.getString(0), r.getLong(1),
            est >= r.getLong(1), est <= r.getLong(1) + slack)
        }.toSeq.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("w", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("c", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cms_over_ok", org.apache.spark.sql.types.BooleanType),
          org.apache.spark.sql.types.StructField("cms_eps_ok", org.apache.spark.sql.types.BooleanType))))
    }),

    // sketch gate: Greenwald–Khanna approximate percentile vs the exact
    // interpolated median. Output carries the EXACT median (×2 so the even-n
    // midpoint average stays an integer in cents) plus a RANK gate, not a
    // value gate: the sketch returns an actual order statistic (no
    // interpolation), so its VALUE can differ from the interpolated median
    // by half an inter-element gap regardless of sketch quality — the GK
    // guarantee is that its rank is within ε·n of the target (ε = 1/accuracy
    // = 1e-4 here, plus ±1 discretization). The gate brackets it between the
    // exact 0.47 and 0.53 percentiles (30× margin), which holds for ANY
    // partition merge order, so the gate is deterministic even though the
    // sketch value itself is not an output column.
    "q_pctl_gate" -> ((s, d) => orders(s, d)
      .select(col("o_orderpriority"), cents(col("o_totalprice")).as("tp_cents"))
      .groupBy("o_orderpriority")
      .agg(percentile(col("tp_cents"), lit(0.5)).as("p50"),
        percentile(col("tp_cents"), lit(0.47)).as("p_lo"),
        percentile(col("tp_cents"), lit(0.53)).as("p_hi"),
        percentile_approx(col("tp_cents"), lit(0.5), lit(10000)).as("p50a"),
        count(lit(1)).as("n"))
      .select(col("o_orderpriority"),
        round(col("p50") * 2).cast("long").as("median_x2_cents"),
        (col("p50a") >= col("p_lo") && col("p50a") <= col("p_hi")).as("pctl_ok"),
        col("n"))),

    // CSV source/sink proof: full-width orders round-trip (every column class
    // — int64, string, double, timestamp[us]) through headered CSV with an
    // explicit schema + FAILFAST, then an aggregate the oracle replays over
    // the parquet originals — any parse/format infidelity breaks the hash
    "q_csv_source" -> ((s, d) => {
      val rt = graft.sources.TextFormats.csvRoundTrip(s, orders(s, d),
        "orders_" + (d.hashCode & 0x7fffffff))
      rt.groupBy("o_orderstatus").agg(
        count(lit(1)).as("n"),
        sum(cents(col("o_totalprice"))).as("rev_cents"),
        min(col("o_orderdate")).as("first_dt"),
        max(col("o_orderdate")).as("last_dt"),
        countDistinct(col("o_custkey")).as("n_cust"))
    }),

    // JSON-lines source/sink proof, same shape over lineitem
    "q_jsonl_source" -> ((s, d) => {
      val rt = graft.sources.TextFormats.jsonlRoundTrip(s, li(s, d),
        "lineitem_" + (d.hashCode & 0x7fffffff))
      rt.groupBy("l_linestatus").agg(
        count(lit(1)).as("n"),
        sum(cents(col("l_extendedprice"))).as("ep_cents"),
        sum(col("l_quantity").cast("long")).as("qty"),
        max(col("l_shipdate")).as("last_ship"),
        countDistinct(col("l_orderkey")).as("n_orders"))
    }),

    // ORC source/sink proof over part — the third columnar at-rest format a
    // lake migration meets (Hive-era tables); binary+typed so the round-trip
    // is type-exact, and the oracle replays the aggregate over the parquet
    // originals exactly like the text sources above
    "q_orc_source" -> ((s, d) => {
      val rt = graft.sources.TextFormats.orcRoundTrip(s,
        s.read.parquet(s"$d/part.parquet"), "part_" + (d.hashCode & 0x7fffffff))
      rt.groupBy("p_brand").agg(
        count(lit(1)).as("n"),
        sum(cents(col("p_retailprice"))).as("price_cents"),
        countDistinct(col("p_type")).as("n_types"),
        max(col("p_size")).cast("long").as("max_size"))
    }),

    // JSON path extraction over the events.props payload column —
    // `get_json_object` is a codegen'd built-in (no UDF); the corpus is
    // verified clean (`{"k": int}` everywhere) so the ANSI cast is safe, and
    // the all-null guards keep the aggregate columns NULL-free for the
    // driver's integer hash
    "q_json_props" -> ((s, d) => events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("k")), lit(-1L)).as("sum_k"),
        coalesce(max(col("k")), lit(-1L)).as("max_k"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_null_k"))),

    // edge reciprocity: how many directed links have a reverse link — a
    // one-shuffle self-semi-join on the swapped key pair (a web-graph health
    // metric; the symmetric join keys co-partition, so at scale this is one
    // hash shuffle of the edge list, never a broadcast of it)
    "q_reciprocity" -> ((s, d) => {
      val e   = DocGraph.edges(s, d)
      // edges are distinct pairs by construction (A7), so the reversed set is
      // too — the left join marks without multiplying, and both counts come
      // out of ONE pass (a 1×1 cross join of two separate aggregates would
      // plan the BNLJ the engine bans everywhere else)
      val rev = e.select(col("dst").as("src"), col("src").as("dst"))
        .withColumn("rec", lit(1L))
      e.join(rev, Seq("src", "dst"), "left")
        .agg(count(lit(1)).as("n_edges"),
          sum(coalesce(col("rec"), lit(0L))).as("n_reciprocal"))
    }),

    // pivot (long→wide): revenue cents per (priority × status) with the
    // status domain pinned explicitly — an unpinned pivot is a driver-side
    // distinct scan AND a nondeterministic column order at scale
    "q_pivot_status" -> ((s, d) => orders(s, d)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("O", "F", "P"))
      .agg(sum(cents(col("o_totalprice"))))
      .select(col("o_orderpriority"),
        coalesce(col("O"), lit(0L)).as("o_cents"),
        coalesce(col("F"), lit(0L)).as("f_cents"),
        coalesce(col("P"), lit(0L)).as("p_cents"))),

    // unpivot (wide→long): the inverse reshape, measure domain pinned
    "q_unpivot_returns" -> ((s, d) => li(s, d)
      .groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast("long")).as("qty"),
        sum(cents(col("l_extendedprice"))).as("ep_cents"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("qty"), col("ep_cents")), "measure", "value")),

    // GROUPING SETS — the general form rollup/cube specialize; same 'ALL'
    // sentinel convention as q_rollup_returns (flags are verified non-null,
    // so the sentinel is unambiguous)
    "q_grouping_sets" -> ((s, d) => {
      li(s, d).createOrReplaceTempView("li_gsets")
      s.sql("""
        SELECT coalesce(l_returnflag, 'ALL') AS rf,
               coalesce(l_linestatus, 'ALL') AS ls,
               count(*) AS n,
               sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS ep_cents
        FROM li_gsets
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""")
    }),

    // correlated LATERAL subquery join (SQL:2016): per-customer top-2 orders
    // by (price desc, key) — the lateral form of the W2 per-group-top-k
    // window pattern, exercising Catalyst's subquery decorrelation into a
    // join + per-group limit instead of a global sort
    "q_lateral_top2" -> ((s, d) => {
      cust(s, d).createOrReplaceTempView("cust_lat")
      orders(s, d).createOrReplaceTempView("ord_lat")
      s.sql("""
        SELECT c.c_custkey, t.o_orderkey, t.cents
        FROM cust_lat c
        JOIN LATERAL (
          SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM ord_lat o WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t""")
    }),

    // ordered distinct string aggregation (collect_set is unordered by
    // contract — the explicit array_sort is what makes the result
    // deterministic and hashable)
    "q_string_agg" -> ((s, d) => docs(s, d)
      .groupBy("lang")
      .agg(array_join(array_sort(collect_set(col("source"))), ",").as("sources_csv"),
        count(lit(1)).as("n_docs"))),

    // event-type transition matrix (first-order Markov counts): (prev_type,
    // type) pairs over each user's (ts, event_id)-ordered stream — the
    // sequence-mining companion to q_funnel; per-user window, exact integers
    "q_event_transitions" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      ev.withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("prev_type"), col("next_type"), col("n"))
    }),

    // PageRank mass per source community: vertex e7-floored fixed-2 ranks
    // summed per source — floor-then-sum keeps the compare exact-integer
    "q_source_rank" -> ((s, d) =>
      DocGraph.prIter(s, d, 2)
        .join(docs(s, d).select(col("doc_id").as("vid"), col("source")), Seq("vid"))
        .groupBy("source").agg(sum(col("pr2e7")).as("mass_e7"), count(lit(1)).as("n_docs"))),

    // lag-window event gaps: per-user max inter-event gap + count of >1h
    // gaps, in exact µs (single-event users: max gap −1 sentinel, not NULL —
    // the driver hash can't carry integer NULLs)
    "q_event_deltas" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      ev.withColumn("gap", col("us") - lag(col("us"), 1).over(w))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          coalesce(max(col("gap")), lit(-1L)).as("max_gap_us"),
          sum(when(col("gap") > lit(3600000000L), 1L).otherwise(0L)).as("n_gaps_1h"))
    }),

    // MERGE / changeset application: a deterministic synthetic changeset
    // (deletes %97, updates %91 with +100.00 price, inserts %89 re-keyed
    // +1e8 — headroom verified: max o_orderkey is 149 999 at sf0.1) applied
    // via ONE anti-join + union; the oracle replays the same set algebra
    "q_merge_orders" -> ((s, d) => {
      val base = orders(s, d)
      val del = base.filter(col("o_orderkey") % 97 === 0).withColumn("op", lit("D"))
      val upd = base.filter(col("o_orderkey") % 91 === 0 && col("o_orderkey") % 97 =!= 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
        .withColumn("op", lit("U"))
      val ins = base.filter(col("o_orderkey") % 89 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
        .withColumn("op", lit("I"))
      val merged = operators.Merge.applyChanges(
        base, del.unionByName(upd).unionByName(ins), "o_orderkey")
      merged.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(cents(col("o_totalprice"))).as("rev_cents"),
          max(col("o_orderkey")).as("max_key"))
    }),

    // incremental aggregate maintenance: the SAME changeset as
    // q_merge_orders, but the aggregate is produced by delta-maintaining
    // the pre-change state (nothing proportional to |base| except the
    // changed-key point lookup) — the oracle recomputes it from the merged
    // table, so parity proves the delta rule, not just the arithmetic
    "q_incr_agg" -> ((s, d) => {
      val base = orders(s, d)
      val del = base.filter(col("o_orderkey") % 97 === 0).withColumn("op", lit("D"))
      val upd = base.filter(col("o_orderkey") % 91 === 0 && col("o_orderkey") % 97 =!= 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
        .withColumn("op", lit("U"))
      val ins = base.filter(col("o_orderkey") % 89 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
        .withColumn("op", lit("I"))
      val state = operators.IncrementalAgg.aggregate(
        base, "o_orderstatus", cents(col("o_totalprice")))
      operators.IncrementalAgg.maintain(
        state, base, del.unionByName(upd).unionByName(ins),
        "o_orderkey", "o_orderstatus", cents(col("o_totalprice")))
        .select(col("o_orderstatus"), col("n"), col("s").as("rev_cents"))
    }),

    // incremental JOIN-VIEW maintenance (delta rule, touched-key recompute):
    // maintain orders⋈customer under simultaneous fact + dimension
    // changesets — survivors never recomputed, changed keys point-looked-up
    "q_incr_join" -> ((s, d) => {
      val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val c = cust(s, d).select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val dOrd = o.filter(col("o_orderkey") % 97 === 0).withColumn("op", lit("D"))
        .unionByName(o.filter(col("o_orderkey") % 91 === 0 && col("o_orderkey") % 97 =!= 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
          .withColumn("op", lit("U")))
        .unionByName(o.filter(col("o_orderkey") % 89 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
          .withColumn("op", lit("I")))
      val dCust = c.filter(col("c_custkey") % 59 === 0).withColumn("op", lit("D"))
        .unionByName(c.filter(col("c_custkey") % 53 === 0 && col("c_custkey") % 59 =!= 0)
          .withColumn("c_acctbal", col("c_acctbal") + lit(10.0))
          .withColumn("op", lit("U")))
      val v0 = operators.IncrementalJoin.view(o, c, "o_custkey", "c_custkey")
      operators.IncrementalJoin.maintain(v0, o, dOrd, "o_orderkey", "o_custkey",
          c, dCust, "c_custkey")
        .select(col("o_orderkey"), col("o_custkey"),
          cents(col("o_totalprice")).as("o_cents"),
          col("c_mktsegment"), cents(col("c_acctbal")).as("c_cents"))
    }),

    // year-over-year customer revenue matrix via FULL OUTER join of two
    // pre-aggregated years — unmatched rows genuinely occur on BOTH sides
    // (1995-only and 1996-only customers). Both inputs are aggregates keyed
    // on the join column, so the join is co-partitioned: one shuffle per
    // side, never a re-shuffle of raw orders. −1 sentinels keep the hash
    // integer-clean (NULL ints break the pandas compare).
    "q_yoy_fullouter" -> ((s, d) => {
      def yr(y: Int) = orders(s, d)
        .filter(year(col("o_orderdate")) === y)
        .groupBy("o_custkey")
        .agg(sum(cents(col("o_totalprice"))).as(s"rev$y"))
      yr(1995).join(yr(1996), Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"),
          coalesce(col("rev1995"), lit(-1L)).as("rev1995_cents"),
          coalesce(col("rev1996"), lit(-1L)).as("rev1996_cents"))
    }),

    // Pareto frontier per order priority, maximizing (price, date): the
    // one-sort RANGE-frame skyline (see Skyline.frontier2D) — x must be
    // integral for the +1 strictness offset, so price goes through cents
    "q_pareto_orders" -> ((s, d) =>
      operators.Skyline.frontier2D(
        orders(s, d).select(col("o_orderpriority"), col("o_orderkey"),
          cents(col("o_totalprice")).as("price_cents"), col("o_orderdate")),
        "o_orderpriority", "price_cents", "o_orderdate")),

    // exact k·σ outlier gate per order status at k = 3/2: |x−μ| > kσ
    // rewritten as the all-integer inequality 4·(x·n − s)² > 9·(n·ssq − s²)
    // — no float μ/σ, so the flagged row set is bit-identical cross-engine.
    // (k = 2 flags NOTHING on bounded TPC-H prices — measured 0 rows at both
    // sf0.001 and sf0.01 — so the 3/2 gate keeps the parity non-vacuous:
    // 195 / 1 989 rows.) Magnitudes reach ~4e25 at sf0.1, past BIGINT:
    // Spark computes in decimal(38,0), the oracle in HUGEINT, both exact.
    "q_outliers_2sigma" -> ((s, d) => {
      val dec = "decimal(38,0)"
      val o = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("x"))
      val st = o.groupBy("o_orderstatus").agg(
        count(lit(1)).cast(dec).as("n"),
        sum(col("x")).cast(dec).as("sx"),
        sum(col("x").cast(dec) * col("x")).as("sxx"))
      val xd = col("x").cast(dec)
      o.join(st, Seq("o_orderstatus"))
        .filter(lit(4).cast(dec) *
            ((xd * col("n") - col("sx")) * (xd * col("n") - col("sx"))) >
          lit(9).cast(dec) * (col("n") * col("sxx") - col("sx") * col("sx")))
        .select(col("o_orderkey"), col("o_orderstatus"), col("x").as("price_cents"))
    }),

    // funnel analysis: users who completed signup → click → purchase in
    // strict timestamp order — conditional min-per-type aggregation (one
    // shuffle on user_id; the sequence test is a pure projection after it)
    "q_funnel" -> ((s, d) => {
      val perUser = events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("us"))
        .groupBy("user_id")
        .agg(min(when(col("event_type") === "signup", col("us"))).as("t_signup"),
          min(when(col("event_type") === "click", col("us"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("us"))).as("t_purchase"))
      perUser.agg(
        count(lit(1)).as("n_users"),
        sum(when(col("t_signup").isNotNull, 1L).otherwise(0L)).as("n_signup"),
        sum(when(col("t_signup") < col("t_click"), 1L).otherwise(0L)).as("n_s_then_c"),
        sum(when(col("t_signup") < col("t_click") && col("t_click") < col("t_purchase"), 1L)
          .otherwise(0L)).as("n_s_c_p"))
    }),

    // declarative data-quality audit (the pre-publish expectations gate):
    // all row predicates + uniqueness fold into ONE aggregate scan per
    // table, each FK is one anti-join — see operators/DataQuality. The
    // corpus is clean (all zeros); DataQualitySpec proves nonzero counts on
    // a planted-violation fixture so "all zeros" is a finding, not a bug.
    "q_dq_checks" -> ((s, d) => {
      import operators.DataQuality._
      val o = orders(s, d)
      audit(o, Seq(
        RowCheck("orders_key_not_null", col("o_orderkey").isNull),
        UniqueCheck("orders_key_unique", Seq("o_orderkey")),
        RowCheck("orders_price_positive", col("o_totalprice") <= 0),
        RowCheck("orders_custkey_not_null", col("o_custkey").isNull)))
        .unionByName(audit(li(s, d), Seq(
          RowCheck("li_qty_range", !col("l_quantity").between(1, 50)),
          RowCheck("li_discount_range", !col("l_discount").between(0, 0.11)),
          FkCheck("li_fk_orders", "l_orderkey", o, "o_orderkey"))))
    }),

    // W4 frame-spec windows beyond running-last: per-user cumulative revenue
    // and a 3-row moving sum over the (ts, event_id) total order — exact
    // integer cents, ONE shuffle on user_id for both frames
    "q_moving_sum" -> ((s, d) => {
      val ev = events(s, d).select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"), cents(col("value")).as("c"))
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      ev.select(col("event_id"), col("user_id"),
        sum(col("c")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("cum_cents"),
        sum(col("c")).over(w.rowsBetween(-2, Window.currentRow)).as("mv3_cents"))
    }),

    // global bigram language-model counts with top-3 continuations per term
    // (count desc, term asc tie-break) — the next-token table a data-quality
    // pipeline derives; counts shuffle on (term, next) so even a stopword's
    // rows spread across its continuation vocabulary, and only the per-term
    // top-k window runs on the single-term key
    "q_bigram_lm" -> ((s, d) => {
      val t = docs(s, d).select(split(col("text"), " ").as("ts"))
      val bi = t.select(explode(
        when(size(col("ts")) > 1,
          zip_with(slice(col("ts"), lit(1), size(col("ts")) - 1),
            slice(col("ts"), lit(2), size(col("ts")) - 1),
            (a, b) => struct(a.as("term"), b.as("next"))))
          .otherwise(array().cast("array<struct<term:string,next:string>>"))).as("g"))
        .select(col("g.term"), col("g.next"))
      val counts = bi.groupBy("term", "next").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("term").orderBy(col("c").desc, col("next"))
      counts.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("term", "next", "c", "rn")
    }),

    // z-order (Morton) values over (user_id, minute-of-day) — the lakehouse
    // OPTIMIZE ZORDER write path's math, verified exactly: both engines run
    // the same generated shift/mask formula (ZOrder.zvalue/zvalueSql from
    // one loop). The layout effect (per-file min/max narrowing on BOTH
    // dims) is proven quantitatively in ZOrderSpec; 21 bits covers user_id
    // to sf≈10 (contract: inputs < 2^bits)
    "q_zorder" -> ((s, d) => events(s, d)
      .select(col("event_id"), col("user_id"),
        (hour(col("ts").cast("timestamp")).cast("long") * 60 +
          minute(col("ts").cast("timestamp")).cast("long")).as("mod"))
      .select(col("event_id"),
        operators.ZOrder.zvalue(col("user_id"), col("mod"), 21).as("z"))),

    // weekly cohort retention — the product-analytics staple: cohort = week
    // of the user's first signup (µs integer arithmetic, epoch anchored at
    // 2024-01-01 UTC), activity attributed to integer week offsets since
    // that signup. ONE shuffle on user_id serves both the first-signup
    // aggregate and the join back (co-partitioned, AQE reuses the exchange);
    // the final (cohort, offset) aggregate is tiny. `div` not `/` — Spark
    // long division promotes to double (r5 gotcha).
    "q_retention" -> ((s, d) => {
      val wk = lit(7L * 86400L * 1000000L)
      val ev = events(s, d).select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"), col("event_type"))
      val first = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("us")).as("s0"))
      ev.join(first, Seq("user_id"))
        .filter(col("us") >= col("s0"))
        .select(call_function("div", col("s0") - lit(1704067200000000L), wk).as("cohort_week"),
          call_function("div", col("us") - col("s0"), wk).as("week_offset"),
          col("user_id"))
        .groupBy("cohort_week", "week_offset")
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),

    // exact second-moment sketch per event type: the integer building blocks
    // of mean/variance/covariance/correlation (n, Σx, Σx², Σy, Σy², Σxy for
    // x = value in cents, y = hour-of-day) in ONE map-side-combining pass.
    // The statistics themselves are O(groups) driver arithmetic; emitting
    // the moments keeps the cross-engine compare exact where corr()'s float
    // accumulation order could not be pinned. Overflow envelope: cents ≤
    // 49 002 ⇒ Σx² ≤ 2.4e9·n — safe in a BIGINT to ~3.8e9 rows per group;
    // beyond that, pre-split groups or widen to DECIMAL.
    "q_corr_moments" -> ((s, d) => events(s, d)
      .select(col("event_type"), cents(col("value")).as("c"),
        hour(col("ts").cast("timestamp")).cast("long").as("h"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("c")).as("sum_c"), sum(col("c") * col("c")).as("sum_c2"),
        sum(col("h")).as("sum_h"), sum(col("h") * col("h")).as("sum_h2"),
        sum(col("c") * col("h")).as("sum_ch"))),

    // deterministic hash-guided 3-step walks from every 10th vertex —
    // DeepWalk-style corpus generation with the RNG replaced by integer
    // arithmetic both engines replay exactly (see RandomWalk scaladoc)
    "q_randwalk3" -> ((s, d) => {
      val e = DocGraph.edges(s, d)
      val seeds = e.select(col("src").as("vid"))
        .unionAll(e.select(col("dst").as("vid"))).distinct()
        .filter(col("vid") % 10 === 0).select(col("vid").as("seed"))
      operators.RandomWalk.walk(e, seeds, 3)
    }),

    // tf-idf-style top terms per document (df-reciprocal variant): rank by
    // tf/df — monotone in the exact rational, and IEEE division of equal
    // rationals yields the identical double in both engines, so the order
    // (with the term tie-break) is bit-deterministic. log-idf would rank
    // slightly differently but cannot be pinned exactly cross-engine; tf and
    // df ride along so any idf transform is a downstream projection.
    "q_tfidf_top" -> ((s, d) => {
      val toks = docs(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfr = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy((col("tf").cast("double") / col("df")).desc, col("term"))
      tf.join(dfr, Seq("term"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "rn")
    }),

    // Gopher-style repetition quality signals (Rae et al. 2021 §A1.1 use
    // duplicate-n-gram FRACTIONS; these are their exact integer numerators/
    // denominators, so any threshold is a downstream projection): per doc,
    // token count, distinct tokens, the most-repeated token's count, and the
    // same for consecutive bigrams. Both n-gram passes shuffle on
    // (doc_id, gram) — doc_id in the key caps any hot token's skew at the
    // document length — then reduce to one row per doc. Bigrams are built
    // per-row with zip_with over offset slices (no self-join, no window).
    "q_repetition" -> ((s, d) => {
      val t = docs(s, d).select(col("doc_id"), split(col("text"), " ").as("ts"))
      val tokStats = t.select(col("doc_id"), explode(col("ts")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_distinct_tok"), max(col("c")).as("top_tok"))
      val bigrams = t.select(col("doc_id"), explode(
        when(size(col("ts")) > 1,
          zip_with(slice(col("ts"), lit(1), size(col("ts")) - 1),
            slice(col("ts"), lit(2), size(col("ts")) - 1),
            (a, b) => concat(a, lit(" "), b)))
          .otherwise(array().cast("array<string>"))).as("w"))
      val biStats = bigrams.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_distinct_bi"), max(col("c")).as("top_bi"))
      // single-token docs have no bigrams: 0 sentinels, not NULLs, for the hash
      tokStats.join(biStats, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"), col("n_distinct_tok"), col("top_tok"),
          coalesce(col("n_distinct_bi"), lit(0L)).as("n_distinct_bi"),
          coalesce(col("top_bi"), lit(0L)).as("top_bi"))
    })
  )

  // ==========================================================================

  private val G = DocGraph.graphCtes

  def oracleSql: Map[String, String] = Map(
    "q_edges" -> s"$G SELECT src, dst FROM edges",

    "q_outdeg" -> s"$G SELECT src AS vid, count(*) AS n_out FROM edges GROUP BY src",

    "q_indeg" -> s"$G SELECT dst AS vid, count(*) AS n_in FROM edges GROUP BY dst",

    "q_deg_hist" ->
      s"$G SELECT c AS n_out, count(*) AS n_vertices FROM outdeg GROUP BY c",

    "q_dangling" ->
      s"$G SELECT vid FROM verts WHERE vid NOT IN (SELECT src FROM edges)",

    "q_undirected" -> s"$G SELECT a, b FROM und",

    "q_top_indeg" ->
      s"$G SELECT dst AS vid, count(*) AS n_in FROM edges GROUP BY dst ORDER BY n_in DESC, vid LIMIT 20",

    "q_rank_window" ->
      s"""$G SELECT vid, n_in,
         |  CAST(rank() OVER (ORDER BY n_in DESC, vid) AS BIGINT) AS rnk,
         |  CAST(ntile(10) OVER (ORDER BY n_in DESC, vid) AS BIGINT) AS decile
         |FROM (SELECT dst AS vid, count(*) AS n_in FROM edges GROUP BY dst)""".stripMargin,

    "q_top_docs_per_lang" ->
      """SELECT doc_id, lang, n_chars, rn FROM (
        |  SELECT doc_id, lang, n_chars,
        |         CAST(row_number() OVER (PARTITION BY lang
        |           ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rn
        |  FROM documents) WHERE rn <= 5""".stripMargin,

    "q_except_nonen" ->
      "SELECT doc_id FROM documents EXCEPT SELECT doc_id FROM documents WHERE lang = 'en'",

    "q_intersect_sources" ->
      """SELECT source FROM documents WHERE lang = 'en'
        |INTERSECT SELECT source FROM documents WHERE n_chars > 300""".stripMargin,

    "q_pr_iter2" -> DocGraph.prIterSql(2),
    "q_pr_iter3" -> DocGraph.prIterSql(3),
    "q_ppr_iter3" -> DocGraph.pprIterSql(3),
    "q_hits_iter2" -> DocGraph.hitsIterSql(2),
    "q_bfs_iter4" -> DocGraph.bfsIterSql(4),
    "q_sssp_iter4" -> DocGraph.ssspIterSql(4),
    "q_katz_iter3" -> DocGraph.katzIterSql(3),
    "q_salsa_iter2" -> DocGraph.salsaIterSql(2),
    "q_mis_iter3" -> DocGraph.misIterSql(3),
    "q_color_iter4" -> DocGraph.colorIterSql(4),
    "q_match_iter3" -> DocGraph.matchIterSql(3),

    "q_truss3_iter2" -> Truss.peelSql(DocGraph.graphCtes, k = 3, rounds = 2),

    // ≤2-hop reach set via two dedup'd expansion rounds (UNION dedups);
    // verts with no out-edges still have ball 1 (the self pair)
    "q_nhop2" -> (DocGraph.graphCtes +
      """,
        |r1 AS MATERIALIZED (SELECT vid AS src, vid AS dst FROM verts
        |  UNION SELECT src, dst FROM edges),
        |r2 AS MATERIALIZED (SELECT r1.src, e.dst FROM r1 JOIN edges e ON r1.dst = e.src
        |  UNION SELECT src, dst FROM r1)
        |SELECT src AS vid, CAST(count(*) AS BIGINT) AS ball FROM r2 GROUP BY 1""".stripMargin),

    // distance layers peeled by EXCEPT so every pair contributes at its
    // min distance; 6/d keeps the harmonic sum in BIGINT
    "q_harmonic2" -> (DocGraph.graphCtes +
      """,
        |d1 AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
        |d2 AS MATERIALIZED (
        |  SELECT src, dst FROM (
        |    SELECT DISTINCT a.src, e.dst FROM d1 a JOIN d1 e ON a.dst = e.src
        |    WHERE a.src <> e.dst)
        |  EXCEPT SELECT src, dst FROM d1),
        |h AS (SELECT dst AS vid, 6*count(*) AS s FROM d1 GROUP BY dst
        |      UNION ALL
        |      SELECT dst AS vid, 3*count(*) AS s FROM d2 GROUP BY dst)
        |SELECT v.vid, CAST(coalesce(sum(s), 0) AS BIGINT) AS harmonic_x6
        |FROM verts v LEFT JOIN h ON v.vid = h.vid GROUP BY v.vid""".stripMargin),

    // the oracle recomputes the exact anchors and pins the gate at its
    // provable value (same convention as q_hll_gate / q_cms_gate)
    "q_nhop2_hb_gate" -> (DocGraph.graphCtes +
      """,
        |r1 AS MATERIALIZED (SELECT vid AS src, vid AS dst FROM verts
        |  UNION SELECT src, dst FROM edges),
        |r2 AS MATERIALIZED (SELECT r1.src, e.dst FROM r1 JOIN edges e ON r1.dst = e.src
        |  UNION SELECT src, dst FROM r1),
        |b AS (SELECT src, count(*) AS ball FROM r2 GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_vertices,
        |       CAST(sum(ball) AS BIGINT) AS sum_ball, TRUE AS err_ok FROM b""".stripMargin),

    "q_landmark4" -> DocGraph.landmarkIterSql(4),

    "q_nf_hb" -> (DocGraph.graphCtes +
      """,
        |nb1 AS MATERIALIZED (SELECT vid AS src, vid AS dst FROM verts
        |  UNION SELECT src, dst FROM edges),
        |nb2 AS MATERIALIZED (SELECT nb1.src, e.dst FROM nb1 JOIN edges e ON nb1.dst = e.src
        |  UNION SELECT src, dst FROM nb1),
        |nb3 AS MATERIALIZED (SELECT nb2.src, e.dst FROM nb2 JOIN edges e ON nb2.dst = e.src
        |  UNION SELECT src, dst FROM nb2)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS t, (SELECT count(*) FROM nb1) AS nf_exact, TRUE AS gate_ok
        |  UNION ALL
        |  SELECT 2, (SELECT count(*) FROM nb2), TRUE
        |  UNION ALL
        |  SELECT 3, (SELECT count(*) FROM nb3), TRUE
        |  UNION ALL
        |  SELECT 4, CAST(-1 AS BIGINT), TRUE)""".stripMargin),

    "q_assortativity" ->
      s"""$G,
         |od AS MATERIALIZED (SELECT src, count(*) AS x FROM edges GROUP BY src),
         |idg AS MATERIALIZED (SELECT dst, count(*) AS y FROM edges GROUP BY dst)
         |SELECT count(*) AS m,
         |       CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
         |       CAST(sum(x*y) AS BIGINT) AS sum_xy,
         |       CAST(sum(x*x) AS BIGINT) AS sum_x2,
         |       CAST(sum(y*y) AS BIGINT) AS sum_y2
         |FROM edges e JOIN od USING (src) JOIN idg USING (dst)""".stripMargin,

    // undirected Pearson components; HUGEINT mirrors the engine's
    // decimal(38,0) so num/denx/deny are exact before the BIGINT cast
    "q_assortativity_und" ->
      s"""$G,
         |deg AS MATERIALIZED (SELECT src AS vid, count(*) AS deg FROM sym GROUP BY src),
         |xy AS (SELECT dx.deg AS x, dy.deg AS y
         |       FROM sym e JOIN deg dx ON e.src = dx.vid JOIN deg dy ON e.dst = dy.vid),
         |mo AS (SELECT CAST(count(*) AS HUGEINT) AS m,
         |              CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         |              CAST(sum(CAST(x AS HUGEINT)*y) AS HUGEINT) AS sxy,
         |              CAST(sum(CAST(x AS HUGEINT)*x) AS HUGEINT) AS sxx,
         |              CAST(sum(CAST(y AS HUGEINT)*y) AS HUGEINT) AS syy
         |       FROM xy)
         |SELECT CAST(m*sxy - sx*sy AS BIGINT) AS num,
         |       CAST(m*sxx - sx*sx AS BIGINT) AS denx,
         |       CAST(m*syy - sy*sy AS BIGINT) AS deny,
         |       CAST(m AS BIGINT) AS m
         |FROM mo""".stripMargin,
    "q_source_graph" ->
      s"""$G
         |SELECT s1.source AS src_comm, s2.source AS dst_comm, count(*) AS n_links
         |FROM edges e
         |JOIN documents s1 ON e.src = s1.doc_id
         |JOIN documents s2 ON e.dst = s2.doc_id
         |GROUP BY 1, 2""".stripMargin,

    "q_source_modularity" ->
      s"""$G,
         |mem AS (SELECT doc_id AS vid, source AS comm FROM documents),
         |deg AS MATERIALIZED (SELECT vid, count(*) AS deg FROM
         |  (SELECT a AS vid FROM und UNION ALL SELECT b AS vid FROM und) GROUP BY vid),
         |mm AS (SELECT count(*) AS m FROM und),
         |dc AS (SELECT mem.comm, CAST(sum(deg) AS BIGINT) AS d_c
         |       FROM deg JOIN mem USING (vid) GROUP BY mem.comm),
         |ec AS (SELECT ma.comm AS comm, count(*) AS e_c
         |       FROM und JOIN mem ma ON und.a = ma.vid JOIN mem mb ON und.b = mb.vid
         |       WHERE ma.comm = mb.comm GROUP BY 1)
         |SELECT dc.comm, CAST(coalesce(ec.e_c, 0) AS BIGINT) AS e_c, dc.d_c,
         |  CAST(4*(SELECT m FROM mm)*coalesce(ec.e_c, 0) - dc.d_c*dc.d_c AS BIGINT)
         |    AS q_scaled_4m2
         |FROM dc LEFT JOIN ec USING (comm)""".stripMargin,

    "q_source_conductance" ->
      s"""$G,
         |mem AS (SELECT doc_id AS vid, source AS comm FROM documents),
         |deg AS MATERIALIZED (SELECT vid, count(*) AS deg FROM
         |  (SELECT a AS vid FROM und UNION ALL SELECT b AS vid FROM und) GROUP BY vid),
         |mm AS (SELECT count(*) AS m FROM und),
         |vc AS (SELECT mem.comm, CAST(sum(deg) AS BIGINT) AS vol
         |       FROM deg JOIN mem USING (vid) GROUP BY mem.comm),
         |ce AS MATERIALIZED (SELECT ma.comm AS ca, mb.comm AS cb
         |       FROM und JOIN mem ma ON und.a = ma.vid JOIN mem mb ON und.b = mb.vid
         |       WHERE ma.comm <> mb.comm),
         |cut AS (SELECT comm, count(*) AS cut_e FROM
         |  (SELECT ca AS comm FROM ce UNION ALL SELECT cb AS comm FROM ce) GROUP BY comm)
         |SELECT vc.comm, CAST(coalesce(cut.cut_e, 0) AS BIGINT) AS cut_e, vc.vol,
         |  CASE WHEN least(vc.vol, 2*(SELECT m FROM mm) - vc.vol) > 0
         |       THEN CAST((1000000*coalesce(cut.cut_e, 0))
         |                 // least(vc.vol, 2*(SELECT m FROM mm) - vc.vol) AS BIGINT)
         |       ELSE -1 END AS phi_ppm
         |FROM vc LEFT JOIN cut USING (comm)""".stripMargin,

    "q_cc_iter2" -> DocGraph.ccIterSql(2),
    "q_lp_iter2" -> DocGraph.lpIterSql(2),
    "q_kcore3_iter3" -> DocGraph.kcoreIterSql(3, 3),
    "q_wpr_iter2" -> DocGraph.wprIterSql(2),

    "q_pagerank" -> DocGraph.prIterSql(40),
    "q_cc"       -> DocGraph.ccIterSql(64),
    "q_cc_alt"   -> DocGraph.ccIterSql(64),
    "q_lp"       -> DocGraph.lpIterSql(10),

    "q_triangles" ->
      s"""$G SELECT count(*) AS n_triangles
         |FROM und e1 JOIN und e2 ON e1.b = e2.a JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b""".stripMargin,

    "q_triangles_per_vertex" ->
      s"""$G, tri AS MATERIALIZED (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM und e1 JOIN und e2 ON e1.b = e2.a JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b)
         |SELECT vid, count(*) AS triangles FROM (
         |  SELECT x AS vid FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
         |GROUP BY vid""".stripMargin,

    "q_lcc" ->
      s"""$G, tri AS MATERIALIZED (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM und e1 JOIN und e2 ON e1.b = e2.a JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b),
         |tcnt AS (SELECT vid, count(*) AS tri FROM (
         |  SELECT x AS vid FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
         |  GROUP BY vid),
         |dg AS (SELECT vid, count(*) AS deg FROM (
         |  SELECT a AS vid FROM und UNION ALL SELECT b AS vid FROM und) GROUP BY vid)
         |SELECT d.vid, CAST(coalesce(t.tri, 0) AS BIGINT) AS tri, d.deg,
         |  CAST((coalesce(t.tri, 0)*2000000) // (d.deg*(d.deg-1)) AS BIGINT) AS lcc_ppm
         |FROM dg d LEFT JOIN tcnt t USING (vid) WHERE d.deg >= 2""".stripMargin,

    // SCC ground truth: v's SCC = {v} ∪ {u : v→u ∧ u→v} over the transitive
    // closure; scc_id = the set's minimum. UNION (not UNION ALL) keeps the
    // recursive closure deduplicated per step.
    "q_scc" ->
      (DocGraph.edgesCte.replaceFirst("^WITH ", "WITH RECURSIVE ") +
        """,
          |verts AS MATERIALIZED (SELECT DISTINCT vid FROM
          |  (SELECT src AS vid FROM edges UNION ALL SELECT dst FROM edges)),
          |reach AS (
          |  SELECT src AS s, dst AS t FROM edges
          |  UNION
          |  SELECT r.s, e.dst FROM reach r JOIN edges e ON e.src = r.t),
          |mn AS MATERIALIZED (
          |  SELECT r1.s AS u, min(r1.t) AS m
          |  FROM reach r1 JOIN reach r2 ON r1.s = r2.t AND r1.t = r2.s
          |  GROUP BY r1.s)
          |SELECT v.vid, CAST(least(v.vid, coalesce(mn.m, v.vid)) AS BIGINT) AS scc_id
          |FROM verts v LEFT JOIN mn ON mn.u = v.vid""".stripMargin),

    "q_topo_iter6" -> Condensation.topoLayersSql(DocGraph.edgesCte, 6),
    "q_wl_iter3" -> WlRefine.refineSql(DocGraph.graphCtes, 3),

    "q_link_pred" ->
      s"""$G,
         |sdeg AS MATERIALIZED (SELECT src AS vid, count(*) AS deg FROM sym GROUP BY src),
         |capped AS MATERIALIZED (
         |  SELECT s.src AS z, s.dst AS n
         |  FROM sym s JOIN sdeg dz ON dz.vid = s.src AND dz.deg <= 64),
         |cand AS MATERIALIZED (
         |  SELECT c1.n AS x, c2.n AS y, count(*) AS cn
         |  FROM capped c1 JOIN capped c2 ON c1.z = c2.z AND c1.n < c2.n
         |  GROUP BY c1.n, c2.n HAVING count(*) >= 2)
         |SELECT c.x AS a, c.y AS b, CAST(c.cn AS BIGINT) AS cn,
         |  CAST((c.cn*1000000) // (da.deg + db.deg - c.cn) AS BIGINT) AS jaccard_ppm
         |FROM cand c
         |JOIN sdeg da ON da.vid = c.x
         |JOIN sdeg db ON db.vid = c.y
         |WHERE NOT EXISTS (SELECT 1 FROM und u WHERE u.a = c.x AND u.b = c.y)""".stripMargin,

    "q_cocitation" -> (DocGraph.edgesCte +
      """,
        |fan AS MATERIALIZED (SELECT src, count(*) AS dz FROM edges GROUP BY src),
        |ok AS MATERIALIZED (SELECT e.src, e.dst FROM edges e
        |  JOIN fan ON e.src = fan.src AND fan.dz <= 64)
        |SELECT p.dst AS a, q.dst AS b, CAST(count(*) AS BIGINT) AS cocite
        |FROM ok p JOIN ok q ON p.src = q.src AND p.dst < q.dst
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),

    "q_coupling" -> (DocGraph.edgesCte +
      """,
        |fan AS MATERIALIZED (SELECT dst, count(*) AS dz FROM edges GROUP BY dst),
        |ok AS MATERIALIZED (SELECT e.src, e.dst FROM edges e
        |  JOIN fan ON e.dst = fan.dst AND fan.dz <= 64)
        |SELECT p.src AS a, q.src AS b, CAST(count(*) AS BIGINT) AS coupled
        |FROM ok p JOIN ok q ON p.dst = q.dst AND p.src < q.src
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),

    "q_pii_redact" ->
      s"""WITH t AS (SELECT doc_id,
         |  text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         |  '@example.com or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t2
         |  FROM documents)
         |SELECT doc_id,
         |  ${TextOps.emailCountSql("t2")} AS n_emails,
         |  ${TextOps.phoneCountSql("t2")} AS n_phones,
         |  CAST(length(${TextOps.piiRedactSql("t2")}) AS BIGINT) AS red_len
         |FROM t""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
        |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) *
        |           (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS rev_c4,
        |       count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_rollup_returns" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |       coalesce(l_linestatus, 'ALL') AS lstatus,
        |       CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
        |       count(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q_cube_returns" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |       coalesce(l_linestatus, 'ALL') AS lstatus,
        |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |       count(*) AS n_rows
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    "q_mkt_rev" ->
      """SELECT c_mktsegment,
        |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS rev_cents,
        |       count(DISTINCT o_custkey) AS n_cust,
        |       count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q_top_orders_per_cust" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |         row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY CAST(round(o_totalprice*100) AS BIGINT) DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,

    "q_late_ship_priority" ->
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin,

    "q_events_window" ->
      """SELECT date_trunc('hour', ts) AS win, event_type,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(value*1000) AS BIGINT)) AS BIGINT) AS val_mills
        |FROM events GROUP BY date_trunc('hour', ts), event_type""".stripMargin,

    "q_sessions" ->
      """WITH x AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), s AS (
        |  SELECT user_id, ts, value,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                        ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT user_id, min(ts) AS sess_start, count(*) AS n_events,
        |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS val_cents
        |FROM s GROUP BY user_id, sid""".stripMargin,

    "q_asof_click" ->
      """WITH errors AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'error'),
        |clicks AS (
        |  SELECT user_id, ts, click_id, cvc FROM (
        |    SELECT user_id, ts, event_id AS click_id,
        |           CAST(round(value*100) AS BIGINT) AS cvc,
        |           row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'click') WHERE rn = 1)
        |SELECT e.event_id, e.user_id,
        |       coalesce(c.click_id, -1) AS click_id,
        |       coalesce(c.cvc, -1) AS click_val_cents
        |FROM errors e ASOF LEFT JOIN clicks c
        |  ON e.user_id = c.user_id AND e.ts >= c.ts""".stripMargin,

    "q_click_rate_1h" ->
      """WITH errors AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
        |clicks AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
        |SELECT e.event_id, e.user_id, count(c.ts) AS n_clicks_1h
        |FROM errors e LEFT JOIN clicks c
        |  ON c.user_id = e.user_id AND c.ts >= e.ts - INTERVAL 1 HOUR AND c.ts < e.ts
        |GROUP BY e.event_id, e.user_id""".stripMargin,

    "q_dedup_exact" ->
      "SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS keeper FROM documents GROUP BY md5(text)",

    "q_token_count" ->
      """SELECT doc_id, CASE WHEN length(text) = 0 THEN 0
        |  ELSE length(text) - length(replace(text, ' ', '')) + 1 END AS n_tokens
        |FROM documents""".stripMargin,

    // same pattern constant feeds both engines (TextOps.BpeishPattern)
    "q_token_bpeish" ->
      s"SELECT doc_id, ${TextOps.tokenCountBpeishSql("text")} AS n_subtokens FROM documents",

    "q_sample_stratified" ->
      ("SELECT doc_id, lang FROM documents WHERE " +
        operators.Sampling.hashStratifiedPerMilleSql(
          "doc_id", "lang", Map("en" -> 200), defaultPerMille = 50)),

    "q_len_median_per_lang" ->
      """WITH r AS (
        |  SELECT lang, n_chars,
        |         CAST(row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT) AS rn
        |  FROM documents),
        |c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang)
        |SELECT r.lang, r.n_chars AS median_chars
        |FROM r JOIN c ON r.lang = c.lang WHERE r.rn = (c.cnt + 1) // 2""".stripMargin,

    "q_top_terms_per_lang" ->
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents),
        |c AS (SELECT lang, term, count(*) AS n FROM t WHERE length(term) > 0 GROUP BY lang, term)
        |SELECT lang, term, n, rn FROM (
        |  SELECT lang, term, n,
        |         CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, term) AS BIGINT) AS rn
        |  FROM c) WHERE rn <= 5""".stripMargin,

    "q_term_cooccur" ->
      (s"WITH $CappedTermsCtes" +
      """
        |SELECT a.term AS term_a, b.term AS term_b, CAST(count(*) AS BIGINT) AS n
        |FROM tc a JOIN tc b ON a.doc_id = b.doc_id AND a.term < b.term
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),

    // anchor terms: same capped universe keyed by the linking doc, counts
    // grouped on the link TARGET; rn cast BIGINT on both sides
    "q_anchor_terms" -> (DocGraph.edgesCte + s",\n$CappedTermsCtes" +
      """,
        |at AS (SELECT e.dst AS doc_id, tc.term, CAST(count(*) AS BIGINT) AS n
        |       FROM edges e JOIN tc ON e.src = tc.doc_id GROUP BY 1, 2)
        |SELECT doc_id, term, n, rn FROM (
        |  SELECT doc_id, term, n,
        |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, term) AS BIGINT) AS rn
        |  FROM at) WHERE rn <= 5""".stripMargin),

    // integer-ppm PMI lift over the same capped universe; // is DuckDB's
    // integer division = Spark's div; the (lift desc, a, b) order is
    // total. HUGEINT products mirror the engine's decimal(38,0).
    "q_pmi_top" ->
      (s"WITH $CappedTermsCtes" +
      """,
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tc),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tc GROUP BY term),
        |pairs AS (SELECT a.term AS term_a, b.term AS term_b, CAST(count(*) AS BIGINT) AS n
        |          FROM tc a JOIN tc b ON a.doc_id = b.doc_id AND a.term < b.term
        |          GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT term_a, term_b, n, da.df AS dfa, db.df AS dfb,
        |       CAST((CAST(n AS HUGEINT) * (SELECT n_docs FROM nd) * 1000000)
        |            // (CAST(da.df AS HUGEINT) * db.df) AS BIGINT) AS lift_ppm
        |FROM pairs JOIN df da ON pairs.term_a = da.term
        |           JOIN df db ON pairs.term_b = db.term
        |ORDER BY lift_ppm DESC, term_a, term_b LIMIT 50""".stripMargin),

    // dense lexicographic ids == row_number over the sorted distinct terms;
    // binary-collation order is identical for this corpus in both engines
    "q_term_dict" ->
      """WITH t AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS term FROM documents)
        |SELECT term, CAST(row_number() OVER (ORDER BY term) - 1 AS BIGINT) AS id
        |FROM t WHERE length(term) > 0""".stripMargin,

    "q_dict_encode" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tk AS (SELECT doc_id, term FROM t WHERE length(term) > 0),
        |d AS (SELECT term, CAST(row_number() OVER (ORDER BY term) - 1 AS BIGINT) AS id
        |      FROM (SELECT DISTINCT term FROM tk))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |  CAST(sum(id) AS BIGINT) AS sum_id,
        |  CAST(min(id) AS BIGINT) AS min_id, CAST(max(id) AS BIGINT) AS max_id
        |FROM tk JOIN d USING (term) GROUP BY doc_id""".stripMargin,

    "q_quality" ->
      """SELECT doc_id,
        |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
        |  CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS BIGINT) AS n_the,
        |  CASE WHEN length(text) = 0 THEN 0
        |    ELSE length(text) - length(replace(text, ' ', '')) + 1 END AS n_tokens
        |FROM documents""".stripMargin,

    // generated from the same langMarkers / weight tables as the Spark
    // expressions — one source of truth feeding both engines
    "q_quality_score" ->
      s"SELECT doc_id, ${TextOps.qualityScorePpmSql("text")} AS quality_ppm FROM documents",

    "q_langid" ->
      s"SELECT doc_id, ${TextOps.langIdSql("text")} AS lang_pred FROM documents",

    // exact shingle-set Jaccard over the deterministic neighbor-pair candidate
    // set ((a, a+k) for k ∈ 1..3, matching the Spark side above); DuckDB
    // re-derives the 3-token shingle sets from the raw strings (the Spark
    // side hashes them first — set semantics are identical)
    "q_jaccard_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(tk)-2, 1)),
        |    i -> array_to_string(tk[i:i+2], ' ')))) AS s
        |  FROM toks),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |cand AS (SELECT a.doc_id AS a, b.doc_id AS b
        |         FROM documents a
        |         JOIN (SELECT unnest([1,2,3]) AS k) ks ON true
        |         JOIN documents b ON b.doc_id = a.doc_id + ks.k),
        |ix AS (SELECT c.a, c.b, count(*) AS n FROM cand c
        |       JOIN sh sa ON sa.doc_id = c.a
        |       JOIN sh sb ON sb.doc_id = c.b AND sa.s = sb.s
        |       GROUP BY c.a, c.b)
        |SELECT c.a, c.b,
        |  CAST((coalesce(ix.n,0)*1000000) // (za.n + zb.n - coalesce(ix.n,0)) AS BIGINT) AS jaccard_ppm
        |FROM cand c
        |LEFT JOIN ix ON ix.a = c.a AND ix.b = c.b
        |JOIN sz za ON za.doc_id = c.a
        |JOIN sz zb ON zb.doc_id = c.b""".stripMargin,

    "q_decontaminate" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(tk)-2, 1)),
        |    i -> array_to_string(tk[i:i+2], ' ')))) AS s
        |  FROM toks),
        |bsh AS (SELECT DISTINCT s FROM sh WHERE doc_id % 100 = 0),
        |corp AS (SELECT doc_id, s FROM sh WHERE doc_id % 100 <> 0),
        |sz AS (SELECT doc_id, count(*) AS n_sh FROM corp GROUP BY doc_id),
        |hits AS (SELECT c.doc_id, count(*) AS n_shared
        |         FROM corp c JOIN bsh USING (s) GROUP BY c.doc_id)
        |SELECT h.doc_id, h.n_shared, sz.n_sh,
        |  CAST((h.n_shared*1000000) // sz.n_sh AS BIGINT) AS ppm
        |FROM hits h JOIN sz USING (doc_id)""".stripMargin,

    // cluster_id = min doc_id reachable in the undirected similarity graph
    // (recursive closure ground truth — algorithm-independent, same
    // convention as q_scc); unmatched docs are their own cluster
    "q_dup_clusters" ->
      (dupClusterCtes + """
        |SELECT d.doc_id,
        |       CAST(least(d.doc_id, coalesce(mn.m, d.doc_id)) AS BIGINT) AS cluster_id,
        |       d.doc_id = least(d.doc_id, coalesce(mn.m, d.doc_id)) AS is_rep
        |FROM documents d LEFT JOIN mn ON mn.s = d.doc_id""".stripMargin),

    "q_corpus_kept" ->
      (dupClusterCtes + """
        |SELECT d.lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN d.doc_id = least(d.doc_id, coalesce(mn.m, d.doc_id))
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  count(*) - CAST(sum(CASE WHEN d.doc_id = least(d.doc_id, coalesce(mn.m, d.doc_id))
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        |FROM documents d LEFT JOIN mn ON mn.s = d.doc_id
        |GROUP BY d.lang""".stripMargin),

    // recall gates: the oracle is the FULL planted-twin list — any pair the
    // probabilistic path misses (or misranks, for the ANN gate) is a row
    // mismatch that fails the round
    "q_neardup_minhash_recall" ->
      """SELECT doc_id AS a, doc_id + 10000000 AS b FROM documents
        |WHERE doc_id % 10 = 0""".stripMargin,

    "q_neardup_embedding_recall" ->
      "SELECT vec_id AS a, vec_id + 1000000 AS b FROM embeddings",

    "q_ann_lsh_recall" ->
      "SELECT vec_id AS qid, CAST(1 AS BIGINT) AS twin_rank FROM embeddings WHERE vec_id < 50",

    "q_ann_ivf_recall" ->
      "SELECT vec_id AS qid, CAST(1 AS BIGINT) AS twin_rank FROM embeddings WHERE vec_id < 50",

    "q_ann_ivf2_recall" ->
      "SELECT vec_id AS qid, CAST(1 AS BIGINT) AS twin_rank FROM embeddings WHERE vec_id < 50",

    "q_ann_cosine" ->
      """SELECT qid, nn, rnk FROM (
        |  SELECT a.vec_id AS qid, b.vec_id AS nn,
        |         row_number() OVER (PARTITION BY a.vec_id
        |           ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id) AS rnk
        |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        |  WHERE a.vec_id < 50) WHERE rnk <= 5""".stripMargin,

    // integer-exact clustering coefficient components: same 3-corner triangle
    // CTE as q_triangles_per_vertex, joined to undirected degrees; `//` is
    // DuckDB integer division (deg·(deg−1) is always even)
    "q_clust_coeff" ->
      s"""$G, tri AS MATERIALIZED (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM und e1 JOIN und e2 ON e1.b = e2.a JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b),
         |tpv AS (SELECT vid, count(*) AS triangles FROM (
         |  SELECT x AS vid FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
         |  GROUP BY vid),
         |udeg AS (SELECT vid, count(*) AS deg FROM (
         |  SELECT a AS vid FROM und UNION ALL SELECT b AS vid FROM und) GROUP BY vid)
         |SELECT u.vid, coalesce(t.triangles, 0) AS triangles,
         |       (u.deg * (u.deg - 1)) // 2 AS wedges
         |FROM udeg u LEFT JOIN tpv t USING (vid) WHERE u.deg >= 2""".stripMargin,

    // the bloom pre-filter is exactness-preserving (no false negatives; the
    // closing semi-join removes false positives), so the oracle is the plain
    // IN-subquery semi-join
    "q_bloom_semi" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |GROUP BY o_orderpriority""".stripMargin,

    // sketch gates: the oracle pins the EXACT value and asserts the gate held
    // (the sketch value itself is not an output column — see the query-side
    // comments for why the gates are deterministic)
    "q_hll_gate" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_distinct,
        |       true AS hll_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_cms_gate" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |c AS MATERIALIZED (SELECT w, count(*) AS c FROM tok WHERE length(w) > 0 GROUP BY w)
        |SELECT w, c, true AS cms_over_ok, true AS cms_eps_ok
        |FROM c ORDER BY c DESC, w LIMIT 20""".stripMargin,

    "q_pctl_gate" ->
      """SELECT o_orderpriority,
        |       CAST(round(quantile_cont(CAST(round(o_totalprice*100) AS BIGINT), 0.5) * 2) AS BIGINT)
        |         AS median_x2_cents,
        |       true AS pctl_ok, count(*) AS n
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    // the round-trips are lossless by construction, so the oracles are the
    // same aggregates over the parquet originals
    "q_csv_source" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS rev_cents,
        |       min(o_orderdate) AS first_dt, max(o_orderdate) AS last_dt,
        |       count(DISTINCT o_custkey) AS n_cust
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "q_jsonl_source" ->
      """SELECT l_linestatus, count(*) AS n,
        |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS ep_cents,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |       max(l_shipdate) AS last_ship,
        |       count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_linestatus""".stripMargin,

    "q_orc_source" ->
      """SELECT p_brand, count(*) AS n,
        |       CAST(sum(CAST(round(p_retailprice*100) AS BIGINT)) AS BIGINT) AS price_cents,
        |       count(DISTINCT p_type) AS n_types,
        |       CAST(max(p_size) AS BIGINT) AS max_size
        |FROM part GROUP BY p_brand""".stripMargin,

    // NULL predicate results count as violations on both sides (coalesce
    // true) — the engine's RowCheck contract
    "q_dq_checks" ->
      """SELECT 'orders_key_not_null' AS check_name,
        |       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations FROM orders
        |UNION ALL SELECT 'orders_key_unique',
        |       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders
        |UNION ALL SELECT 'orders_price_positive',
        |       CAST(sum(CASE WHEN coalesce(o_totalprice <= 0, true) THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |UNION ALL SELECT 'orders_custkey_not_null',
        |       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |UNION ALL SELECT 'li_qty_range',
        |       CAST(sum(CASE WHEN coalesce(NOT (l_quantity BETWEEN 1 AND 50), true) THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |UNION ALL SELECT 'li_discount_range',
        |       CAST(sum(CASE WHEN coalesce(NOT (l_discount BETWEEN 0 AND 0.11), true) THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |UNION ALL SELECT 'li_fk_orders',
        |       CAST(count(*) AS BIGINT) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)""".stripMargin,

    "q_moving_sum" ->
      """SELECT event_id, user_id,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS mv3_cents
        |FROM events""".stripMargin,

    "q_bigram_lm" ->
      """WITH t AS (SELECT string_split(text, ' ') AS ts FROM documents),
        |bi AS (SELECT unnest(list_transform(range(1, len(ts)),
        |                i -> struct_pack(term := ts[i], next := ts[i+1]))) AS g FROM t),
        |c AS MATERIALIZED (
        |  SELECT g.term AS term, g.next AS next, count(*) AS c FROM bi GROUP BY 1, 2),
        |r AS (SELECT term, next, c, CAST(row_number() OVER (
        |        PARTITION BY term ORDER BY c DESC, next) AS BIGINT) AS rn FROM c)
        |SELECT term, next, c, rn FROM r WHERE rn <= 3""".stripMargin,

    "q_zorder" ->
      s"""WITH ev AS (SELECT event_id, user_id,
         |  CAST(hour(ts) * 60 + minute(ts) AS BIGINT) AS mod FROM events)
         |SELECT event_id,
         |  ${operators.ZOrder.zvalueSql("user_id", "mod", 21)} AS z
         |FROM ev""".stripMargin,

    // same µs integer arithmetic as the engine; // is DuckDB integer division
    // (both operands non-negative here, so floor == trunc == Spark's div)
    "q_retention" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
        |f AS MATERIALIZED (
        |  SELECT user_id, min(us) AS s0 FROM ev WHERE event_type = 'signup' GROUP BY user_id)
        |SELECT (f.s0 - 1704067200000000) // 604800000000 AS cohort_week,
        |       (ev.us - f.s0) // 604800000000 AS week_offset,
        |       count(DISTINCT ev.user_id) AS n_users
        |FROM ev JOIN f USING (user_id) WHERE ev.us >= f.s0
        |GROUP BY 1, 2""".stripMargin,

    "q_corr_moments" ->
      """WITH ev AS (SELECT event_type, CAST(round(value*100) AS BIGINT) AS c,
        |                   CAST(hour(ts) AS BIGINT) AS h FROM events)
        |SELECT event_type, count(*) AS n,
        |       CAST(sum(c) AS BIGINT) AS sum_c, CAST(sum(c*c) AS BIGINT) AS sum_c2,
        |       CAST(sum(h) AS BIGINT) AS sum_h, CAST(sum(h*h) AS BIGINT) AS sum_h2,
        |       CAST(sum(c*h) AS BIGINT) AS sum_ch
        |FROM ev GROUP BY event_type""".stripMargin,

    // range(1, len) is end-exclusive ⇒ bigram indices 1..len-1 (1-based list
    // indexing), empty for single-token docs — same shape as the engine's
    // guarded zip_with
    "q_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |tc AS MATERIALIZED (
        |  SELECT doc_id, w, count(*) AS c FROM (SELECT doc_id, unnest(ts) AS w FROM t)
        |  GROUP BY doc_id, w),
        |tok AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |               count(*) AS n_distinct_tok, CAST(max(c) AS BIGINT) AS top_tok
        |        FROM tc GROUP BY doc_id),
        |bc AS MATERIALIZED (
        |  SELECT doc_id, w, count(*) AS c FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS w
        |    FROM t)
        |  GROUP BY doc_id, w),
        |bi AS (SELECT doc_id, count(*) AS n_distinct_bi, CAST(max(c) AS BIGINT) AS top_bi
        |       FROM bc GROUP BY doc_id)
        |SELECT t.doc_id, tok.n_tokens, tok.n_distinct_tok, tok.top_tok,
        |       coalesce(bi.n_distinct_bi, 0) AS n_distinct_bi,
        |       coalesce(bi.top_bi, 0) AS top_bi
        |FROM t JOIN tok USING (doc_id) LEFT JOIN bi ON bi.doc_id = t.doc_id""".stripMargin,

    "q_json_props" ->
      """WITH ex AS (SELECT event_type,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |SELECT event_type, count(*) AS n,
        |       CAST(coalesce(sum(k), -1) AS BIGINT) AS sum_k,
        |       coalesce(max(k), -1) AS max_k,
        |       CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_k
        |FROM ex GROUP BY event_type""".stripMargin,

    "q_reciprocity" ->
      s"""$G SELECT
         |  (SELECT count(*) FROM edges) AS n_edges,
         |  (SELECT count(*) FROM edges e
         |     WHERE EXISTS (SELECT 1 FROM edges r
         |                   WHERE r.src = e.dst AND r.dst = e.src)) AS n_reciprocal""".stripMargin,

    "q_pivot_status" ->
      """SELECT o_orderpriority,
        |  CAST(coalesce(sum(CASE WHEN o_orderstatus='O'
        |    THEN CAST(round(o_totalprice*100) AS BIGINT) END), 0) AS BIGINT) AS o_cents,
        |  CAST(coalesce(sum(CASE WHEN o_orderstatus='F'
        |    THEN CAST(round(o_totalprice*100) AS BIGINT) END), 0) AS BIGINT) AS f_cents,
        |  CAST(coalesce(sum(CASE WHEN o_orderstatus='P'
        |    THEN CAST(round(o_totalprice*100) AS BIGINT) END), 0) AS BIGINT) AS p_cents
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q_unpivot_returns" ->
      """WITH ag AS (SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS ep_cents
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'qty' AS measure, qty AS value FROM ag
        |UNION ALL
        |SELECT l_returnflag, 'ep_cents' AS measure, ep_cents AS value FROM ag""".stripMargin,

    "q_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |       coalesce(l_linestatus, 'ALL') AS ls,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS ep_cents
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin,

    "q_lateral_top2" ->
      """SELECT c.c_custkey, t.o_orderkey, t.cents
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders o WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t""".stripMargin,

    "q_string_agg" ->
      """SELECT lang, string_agg(DISTINCT source, ',' ORDER BY source) AS sources_csv,
        |       count(*) AS n_docs
        |FROM documents GROUP BY lang""".stripMargin,

    "q_event_deltas" ->
      """WITH g AS (SELECT user_id,
        |  epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
        |  FROM events)
        |SELECT user_id, count(*) AS n_events,
        |       coalesce(max(gap), -1) AS max_gap_us,
        |       CAST(sum(CASE WHEN gap > 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps_1h
        |FROM g GROUP BY user_id""".stripMargin,

    "q_event_transitions" ->
      """WITH g AS (SELECT user_id, event_type,
        |  lag(event_type) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type AS next_type, count(*) AS n
        |FROM g WHERE prev_type IS NOT NULL
        |GROUP BY prev_type, event_type""".stripMargin,

    "q_source_rank" ->
      (s"""SELECT d.source, CAST(sum(r.pr2e7) AS BIGINT) AS mass_e7,
          |       count(*) AS n_docs
          |FROM (${DocGraph.prIterSql(2)}) r
          |JOIN documents d ON r.vid = d.doc_id
          |GROUP BY d.source""".stripMargin),

    // the same changeset algebra in set SQL: base minus changed keys, plus
    // the update and insert images
    "q_merge_orders" ->
      """WITH del AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0),
        |upd AS (SELECT * REPLACE (o_totalprice + 100 AS o_totalprice)
        |        FROM orders WHERE o_orderkey % 91 = 0 AND o_orderkey % 97 <> 0),
        |ins AS (SELECT * REPLACE (o_orderkey + 100000000 AS o_orderkey)
        |        FROM orders WHERE o_orderkey % 89 = 0),
        |chkeys AS (SELECT o_orderkey FROM del
        |  UNION ALL SELECT o_orderkey FROM upd
        |  UNION ALL SELECT o_orderkey FROM ins),
        |merged AS (
        |  SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM chkeys)
        |  UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM ins)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS rev_cents,
        |  max(o_orderkey) AS max_key
        |FROM merged GROUP BY o_orderstatus""".stripMargin,

    // recompute-from-merged ground truth for the delta-maintained aggregate
    "q_incr_agg" ->
      """WITH del AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0),
        |upd AS (SELECT * REPLACE (o_totalprice + 100 AS o_totalprice)
        |        FROM orders WHERE o_orderkey % 91 = 0 AND o_orderkey % 97 <> 0),
        |ins AS (SELECT * REPLACE (o_orderkey + 100000000 AS o_orderkey)
        |        FROM orders WHERE o_orderkey % 89 = 0),
        |chkeys AS (SELECT o_orderkey FROM del
        |  UNION ALL SELECT o_orderkey FROM upd
        |  UNION ALL SELECT o_orderkey FROM ins),
        |merged AS (
        |  SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM chkeys)
        |  UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM ins)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM merged GROUP BY o_orderstatus""".stripMargin,

    "q_incr_join" ->
      """WITH oupd AS (SELECT o_orderkey, o_custkey, o_totalprice + 100 AS o_totalprice
        |        FROM orders WHERE o_orderkey % 91 = 0 AND o_orderkey % 97 <> 0),
        |oins AS (SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey, o_totalprice
        |        FROM orders WHERE o_orderkey % 89 = 0),
        |ochk AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0
        |  UNION ALL SELECT o_orderkey FROM oupd
        |  UNION ALL SELECT o_orderkey FROM oins),
        |o2 AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ochk)
        |  UNION ALL SELECT * FROM oupd
        |  UNION ALL SELECT * FROM oins),
        |c2 AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |  WHERE c_custkey % 59 <> 0 AND c_custkey % 53 <> 0
        |  UNION ALL SELECT c_custkey, c_mktsegment, c_acctbal + 10 AS c_acctbal
        |  FROM customer WHERE c_custkey % 53 = 0 AND c_custkey % 59 <> 0)
        |SELECT o_orderkey, o_custkey,
        |  CAST(round(o_totalprice*100) AS BIGINT) AS o_cents,
        |  c_mktsegment, CAST(round(c_acctbal*100) AS BIGINT) AS c_cents
        |FROM o2 JOIN c2 ON o_custkey = c_custkey""".stripMargin,

    "q_yoy_fullouter" ->
      """WITH y95 AS (SELECT o_custkey, CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS r
        |            FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
        |y96 AS (SELECT o_custkey, CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS r
        |        FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1)
        |SELECT coalesce(y95.o_custkey, y96.o_custkey) AS o_custkey,
        |       coalesce(y95.r, -1) AS rev1995_cents,
        |       coalesce(y96.r, -1) AS rev1996_cents
        |FROM y95 FULL JOIN y96 ON y95.o_custkey = y96.o_custkey""".stripMargin,

    // same one-sort skyline formulation — parity proves the dominance
    // semantics land identically on both engines' RANGE frames
    "q_pareto_orders" ->
      """WITH o AS (SELECT o_orderpriority, o_orderkey,
        |  CAST(round(o_totalprice*100) AS BIGINT) AS price_cents, o_orderdate FROM orders),
        |w AS (SELECT *,
        |  max(o_orderdate) OVER (PARTITION BY o_orderpriority ORDER BY price_cents
        |    RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS hi,
        |  max(o_orderdate) OVER (PARTITION BY o_orderpriority ORDER BY price_cents
        |    RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS eq
        |  FROM o)
        |SELECT o_orderpriority, o_orderkey, price_cents, o_orderdate FROM w
        |WHERE NOT (coalesce(hi >= o_orderdate, false) OR eq > o_orderdate)""".stripMargin,

    "q_outliers_2sigma" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus,
        |  CAST(round(o_totalprice*100) AS BIGINT) AS x FROM orders),
        |st AS (SELECT o_orderstatus, CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(x) AS HUGEINT) AS sx, sum(CAST(x AS HUGEINT)*x) AS sxx
        |  FROM o GROUP BY 1)
        |SELECT o.o_orderkey, o.o_orderstatus, o.x AS price_cents
        |FROM o JOIN st USING (o_orderstatus)
        |WHERE 4*(CAST(o.x AS HUGEINT)*n - sx)*(CAST(o.x AS HUGEINT)*n - sx)
        |      > 9*(n*sxx - sx*sx)""".stripMargin,

    "q_funnel" ->
      """WITH pu AS (SELECT user_id,
        |  min(CASE WHEN event_type='signup'   THEN epoch_us(ts) END) AS t_signup,
        |  min(CASE WHEN event_type='click'    THEN epoch_us(ts) END) AS t_click,
        |  min(CASE WHEN event_type='purchase' THEN epoch_us(ts) END) AS t_purchase
        |  FROM events GROUP BY user_id)
        |SELECT count(*) AS n_users,
        |  CAST(sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(sum(CASE WHEN t_signup < t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_s_then_c,
        |  CAST(sum(CASE WHEN t_signup < t_click AND t_click < t_purchase
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_s_c_p
        |FROM pu""".stripMargin,

    "q_randwalk3" ->
      s"$G${operators.RandomWalk.walkSql("vid % 10 = 0", 3)}\nSELECT seed, v1, v2, v3 FROM w3",

    "q_tfidf_top" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t
        |       WHERE length(term) > 0 GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
        |SELECT doc_id, term, tf, df, rn FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    CAST(row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY CAST(tf.tf AS DOUBLE)/df.df DESC, tf.term) AS BIGINT) AS rn
        |  FROM tf JOIN df USING (term)) WHERE rn <= 3""".stripMargin
  )
}
