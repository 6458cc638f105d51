package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.PageSynth.mix2

/**
 * Approximate-nearest-neighbor search over an embedding column
 * (`array<float>`): brute-force cosine top-k as the exact baseline, and a
 * random-hyperplane LSH-bucketed variant as the scale path.
 *
 * Dot products use `zip_with` + `aggregate` (sequential left-fold — the same
 * evaluation order as the DuckDB oracle, which keeps cross-engine rankings
 * stable). No UDFs; everything stays in Catalyst.
 */
object Similarity {

  /** Sequential-order dot product of two numeric array columns (as double) —
    * compiled per-row loop (HashExprs.DotExpr), bit-identical to the HOF
    * fold below but ~50× cheaper per call (the HOF lambda is interpreted per
    * element; equality pinned by spec). */
  def dot(a: Column, b: Column): Column =
    graft.functions.HashExprs.dot_product(a, b)

  /** Reference higher-order-function form of [[dot]] (kept for the
    * bit-equality spec — the semantics contract DotExpr must match). */
  private[graft] def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /**
   * Exact top-k cosine neighbors for each query vector (brute force).
   * `queries` and `corpus` both need (`idCol`, `vecCol`). The corpus side of
   * the join is broadcast when small; at scale, block the corpus and union —
   * or use [[lshTopK]]. Self-pairs excluded; rank ties break by neighbor id.
   */
  def bruteTopK(queries: DataFrame, corpus: DataFrame,
                idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("nn"), col(vecCol).as("cv"))
    val scored = q.join(c, col("qid") =!= col("nn"))
      .select(col("qid"), col("nn"), cosine(col("qv"), col("cv")).as("sim"))
    val w = Window.partitionBy("qid").orderBy(desc("sim"), col("nn"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nn"), col("rnk"))
  }

  /** Deterministic random hyperplanes: `planes` rows × `dim` gaussians-ish from splitmix64. */
  def hyperplanes(planes: Int, dim: Int, seed: Long = 7L): Array[Array[Double]] =
    Array.tabulate(planes) { p =>
      Array.tabulate(dim) { d =>
        // map 64-bit hash to (-1, 1) uniform — adequate for sign-LSH
        (mix2(seed, p.toLong * 100003L + d).toDouble / Long.MaxValue.toDouble)
      }
    }

  /** Sign-LSH bucket id (one long) for a vector column under the given
    * planes. Two physically different but bit-identical forms (equality
    * pinned by spec):
    *  - small `planes × dim` products inline each plane as literal columns —
    *    fully codegen-friendly, the fastest form at dim ≈ 64;
    *  - past [[InlinePlaneLits]] literal nodes the whole plane matrix becomes
    *    ONE nested-array `typedLit` (a single Literal node holding ArrayData,
    *    serialized once into the task binary — never an expression node per
    *    element) folded with one `aggregate` HOF. At real embedding dims
    *    (768–4096 × 16+ planes) the inline form would be a multi-MB codegen'd
    *    expression tree; this form is O(1) in tree size. */
  def signBucket(vec: Column, planes: Array[Array[Double]]): Column =
    if (planes.map(_.length).sum <= InlinePlaneLits) signBucketInline(vec, planes)
    else signBucketPacked(vec, planes)

  /** Inline-literal threshold: 64-dim × 12 planes (= 768) stays inline; a
    * 768-dim embedding under ≥ 6 planes switches to the packed form. */
  val InlinePlaneLits: Int = 4096

  private[graft] def signBucketInline(vec: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (plane, i) =>
      val planeCol = array(plane.map(lit): _*)
      when(dot(vec, planeCol) >= 0, call_function("shiftleft", lit(1L), lit(i)))
        .otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  private[graft] def signBucketPacked(vec: Column, planes: Array[Array[Double]]): Column = {
    val pl = typedLit(planes.map(_.toSeq).toSeq) // ONE Literal node, any dim
    aggregate(sequence(lit(0), lit(planes.length - 1)), lit(0L),
      (acc, i) => acc.bitwiseOR(
        when(dot(vec, call_function("element_at", pl, (i + lit(1)).cast("int"))) >= 0,
          call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))))
  }

  // ---- IVF (inverted-file) ANN --------------------------------------------

  /** Per-row top-`top` centroid ids against UNIT-NORM centroids, one
    * compiled selection loop per row (HashExprs.CentroidTopExpr) — zero
    * shuffle, element 1 is the assignment, the whole array is the probe
    * list. With unit centroids, argmax dot ≡ argmax cosine (the row's own
    * norm is a positive per-row constant), so no norm division in the hot
    * loop. A declarative array_sort-of-structs form was measured ~100×
    * slower at nlist≈900 (interpreted struct comparator over every list per
    * row — it dominated the IVF pipeline end to end). Ties break toward the
    * smaller cid. */
  private def centroidRank(v: Column, unitCents: Array[Array[Double]], top: Int): Column =
    graft.functions.HashExprs.centroid_top(v, unitCents, top)

  /** Unit-normalized copies of centroid vectors (zero vectors pass through). */
  private def unitize(cents: Array[Array[Double]]): Array[Array[Double]] =
    cents.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n > 0) c.map(_ / n) else c
    }

  /**
   * Deterministic IVF coarse quantizer: `k` centroids learned with `iters`
   * Lloyd rounds of distributed k-means (cosine assignment), initialized
   * from a hash-ordered sample of the corpus. All per-row work is
   * shuffle-free (the argmax runs inside a projection); each round's only
   * shuffle is the per-(centroid, dimension) mean. The only driver traffic
   * is the k centroid vectors themselves — O(k·dim) model parameters, never
   * row data (k-row collects, same class as PageRank's scalar metrics).
   * Empty clusters keep their previous centroid.
   */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int = 2): Array[Array[Double]] = {
    val docs = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    var cents: Array[Array[Double]] = docs
      .withColumn("h", xxhash64(col("id")))
      .orderBy("h", "id").limit(k)
      .select("v").collect()
      // element type may be float or double (arithmetic on float arrays
      // promotes to double in Spark) — read numerically, not by exact type
      .map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
    require(cents.nonEmpty, "empty corpus")
    for (_ <- 1 to iters) {
      // assignment ranks against unit copies (cosine argmax); means still
      // average the RAW vectors
      val assigned = docs.select(
        element_at(centroidRank(col("v"), unitize(cents), 1), 1).as("cid"),
        col("v"))
      val means = assigned
        .select(col("cid"), posexplode(col("v")))
        .withColumnRenamed("pos", "p").withColumnRenamed("col", "x")
        .groupBy("cid", "p").agg(avg(col("x")).as("m"))
        .groupBy("cid").agg(
          transform(array_sort(collect_list(struct(col("p"), col("m")))),
            s => s.getField("m")).as("cv"))
        .collect()
      val updated = cents.map(_.clone())
      means.foreach(r => updated(r.getInt(0)) = r.getSeq[Double](1).toArray)
      cents = updated
    }
    cents
  }

  /**
   * IVF ANN top-k: corpus vectors are assigned to their nearest centroid
   * (inverted lists); each query probes its `nProbe` nearest centroids'
   * lists; exact cosine re-ranks candidates. The learned-bucket analogue of
   * [[lshTopK]] (the brief's "IVF or LSH" scale path — both exist here):
   * candidates come from an equi-join on centroid id, never an all-pairs
   * join, and at scale the inverted lists ARE the partition layout.
   *
   * SCALE ENVELOPE (measured, BENCH/BASELINE.md §"ANN at 1M vectors"):
   * single-level IVF's candidate volume is N·nProbe·N/nlist rows through
   * the re-rank shuffle; with nlist clamped (ranking cost is N·nlist dots)
   * this grows quadratically in N — ~2 B candidate rows at 1 M vectors. Flat
   * IVF is therefore the 10⁴–10⁶-vector tool; past that use [[lshTopK]]
   * (bucket count grows with the corpus at constant per-row cost) or
   * [[ivfTopKTwoLevel]] (the coarse-router hierarchy — measured 49 s /
   * twin-recall 1.0 at 1 M vectors where this flat path ran >20 min, same
   * section).
   */
  def ivfTopK(docs: DataFrame, idCol: String, vecCol: String, k: Int,
              nCentroids: Int = 0, nProbe: Int = 4, iters: Int = 2): DataFrame = {
    // nCentroids <= 0 → balance ranking (N·nlist compiled dots, ~20 ns each)
    // against candidate verification (N·nProbe·N/nlist rows through a join +
    // window SHUFFLE, ~1 µs each): nlist* = √(w·nProbe·N) with the measured
    // ~50× cost ratio w, clamped. A fixed 16 lists measured 4× slower at
    // 2000 vectors; the unweighted √(nProbe·N) left a 179M-row candidate
    // shuffle dominating at 200k vectors.
    val nC =
      if (nCentroids > 0) nCentroids
      else math.max(16, math.min(4096,
        math.round(math.sqrt(50.0 * nProbe * docs.count())).toInt))
    val cents = ivfCentroids(docs, idCol, vecCol, nC, iters)
    // rank + per-row norm computed ONCE and persisted (two consumers below);
    // candidate cosine = dot / (precomputed norms) — no norm recompute per pair
    val base = docs.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nv", norm(col("v")))
      .withColumn("rank", centroidRank(col("v"), unitize(cents), nProbe))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rankedTopK(base, k)
  }

  /** Shared IVF verify tail: `base` = (id, v, nv, rank) persisted, rank(1)
    * being the row's inverted-list assignment and the whole array its probe
    * list. Equi-join on centroid id generates candidates, exact cosine
    * re-ranks, top-k per query. */
  private def rankedTopK(base: DataFrame, k: Int): DataFrame = {
    val assigned = base.select(col("id"), col("v"), col("nv"),
      element_at(col("rank"), 1).as("cid"))
    val probes = base.select(col("id").as("qid0"), col("v").as("qv"), col("nv").as("qnv"),
        explode(col("rank")).as("cid"))
    // one assigned cid per corpus row + distinct probe cids per query ⇒
    // (qid, nn) pairs are already unique, no dedup needed
    val cand = probes.as("q").join(assigned.as("c"),
        col("q.cid") === col("c.cid") && col("q.qid0") =!= col("c.id"))
      .select(col("q.qid0").as("qid"), col("c.id").as("nn"),
        (dot(col("q.qv"), col("c.v")) / (col("q.qnv") * col("c.nv"))).as("sim"))
    val w = Window.partitionBy("qid").orderBy(desc("sim"), col("nn"))
    val out = cand.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nn"), col("rnk"))
      // materialize the (k-per-query) result NOW so the corpus-sized ranked
      // cache can be released immediately — same narrow-persist-lifetime
      // convention as Dedup.nearDuplicates / Triangles.perVertex
      .localCheckpoint(true)
    base.unpersist(false)
    out
  }

  // ---- two-level IVF ------------------------------------------------------

  /** Deterministic driver-side spherical k-means over unit vectors (Lloyd,
    * cosine assignment, ties toward the smaller centroid index, means
    * re-unitized; empty clusters keep their previous centroid). Sequential
    * arithmetic — bit-reproducible for identical inputs. Used ONLY on model
    * parameters (the fine-centroid set, O(nlist·dim) doubles), never row
    * data. */
  /** Index of the max-dot centroid over an ascending scan with strict `>`,
    * so ties resolve to the SMALLER index — the one tie-break rule
    * CentroidTopGroupedExpr's exact-twin recall proof depends on (identical
    * vector ⇒ identical scan ⇒ identical assignment), defined exactly once. */
  private[graft] def argmaxDot(p: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val ce = cents(c); var s = 0.0; var i = 0
      while (i < ce.length) { s += p(i) * ce(i); i += 1 }
      if (s > bestDot) { bestDot = s; best = c }
      c += 1
    }
    best
  }

  private[graft] def localKMeans(points: Array[Array[Double]], k: Int,
                                 iters: Int): Array[Array[Double]] = {
    require(points.nonEmpty && k > 0)
    val n   = points.length
    val dim = points(0).length
    val kk  = math.min(k, n)
    // deterministic spread init: every n/kk-th point in index order
    var cents = Array.tabulate(kk)(i => unitVec(points((i.toLong * n / kk).toInt)))
    for (_ <- 1 to iters) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val cnts = new Array[Long](kk)
      var j = 0
      while (j < n) {
        val p = points(j)
        val best = argmaxDot(p, cents)
        val acc = sums(best); var i = 0
        while (i < dim) { acc(i) += p(i); i += 1 }
        cnts(best) += 1
        j += 1
      }
      cents = Array.tabulate(kk)(c =>
        if (cnts(c) > 0) unitVec(sums(c).map(_ / cnts(c))) else cents(c))
    }
    cents
  }

  private def unitVec(v: Array[Double]): Array[Double] = {
    val nrm = math.sqrt(v.map(x => x * x).sum)
    if (nrm > 0) v.map(_ / nrm) else v.clone()
  }

  /**
   * Two-level (coarse-router) IVF ANN — the scale path flat [[ivfTopK]]'s
   * measured envelope calls for (BENCH/BASELINE.md §"ANN at 1M vectors":
   * flat IVF's candidate volume N·nProbe·N/nlist goes quadratic once nlist
   * clamps; 155 s at 200k vectors, >20 min at 1M). Here nlist grows ~linearly with the corpus
   * (list sizes stay O(1)) because routing no longer costs nlist dots per
   * row: a √nlist-sized coarse layer (spherical k-means over the fine
   * centroid set) routes each row to `cProbe` super-lists and only their
   * fine centroids are ranked — nCoarse + cProbe·nlist/nCoarse dots per
   * row, all inside ONE compiled expression (CentroidTopGroupedExpr),
   * shuffle-free. Fine centroids are a hash-ordered corpus sample (no
   * distributed Lloyd at this nlist — assignment quality affects only list
   * balance, not the provable exact-twin recall, which needs ONLY routing
   * determinism: identical vector ⇒ identical probe list ⇒ same list).
   * Candidate generation and verification reuse the flat path's equi-join +
   * exact-cosine re-rank.
   *
   * At a 1000-executor scale the model (nlist·dim floats) ships once per
   * stage in the task binary exactly like any broadcast model; the inverted
   * lists ARE the corpus partitioning. Candidate volume per query is
   * nProbe·(N/nlist) = O(nProbe·listSize) — constant in N by construction.
   */
  def ivfTopKTwoLevel(docs: DataFrame, idCol: String, vecCol: String, k: Int,
                      nProbe: Int = 4, cProbe: Int = 4,
                      nCentroids: Int = 0, targetListSize: Int = 8): DataFrame = {
    val docsv = docs.select(col(idCol).as("id"), col(vecCol).as("v"))
    val nlist =
      if (nCentroids > 0) nCentroids // explicit size: skip the corpus count
      else {
        val n = docsv.count()
        math.max(16, math.min(1 << 17, (n / targetListSize).toInt))
      }
    // fine centroids: hash-ordered sample of the corpus itself (unit-
    // normalized; argmax dot ≡ argmax cosine). O(nlist·dim) driver traffic —
    // model parameters, not row data.
    val fine: Array[Array[Double]] = docsv
      .withColumn("h", xxhash64(col("id")))
      .orderBy("h", "id").limit(nlist)
      .select("v").collect()
      .map(r => unitVec(r.getSeq[Number](0).map(_.doubleValue()).toArray))
    require(fine.nonEmpty, "empty corpus")
    val dim = fine(0).length
    val nCoarse = math.max(4, math.ceil(math.sqrt(fine.length.toDouble)).toInt)
    // coarse layer: spherical k-means on (a subsample of) the fine set
    val trainStep = math.max(1, fine.length / 20000)
    val coarse = localKMeans(
      Array.range(0, fine.length, trainStep).map(fine(_)), nCoarse, iters = 3)
    // group fine centroids by their coarse assignment
    val groupOf = fine.map(argmaxDot(_, coarse))
    val order = fine.indices.sortBy(j => (groupOf(j), j)).toArray
    val fineIds = order
    val fineFlat = new Array[Float](order.length * dim)
    for (p <- order.indices; i <- 0 until dim)
      fineFlat(p * dim + i) = fine(order(p))(i).toFloat
    val groupOffsets = new Array[Int](coarse.length + 1)
    order.foreach(j => groupOffsets(groupOf(j) + 1) += 1)
    for (g <- 1 to coarse.length) groupOffsets(g) += groupOffsets(g - 1)

    val base = docsv
      .withColumn("nv", norm(col("v")))
      .withColumn("rank", graft.functions.HashExprs.centroid_top_grouped(
        col("v"), coarse, fineFlat, fineIds, groupOffsets, cProbe, nProbe))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rankedTopK(base, k)
  }

  /**
   * LSH-bucketed ANN: vectors are bucketed by hyperplane sign pattern
   * (`nPlanes` bits); candidates are same-bucket pairs, then exact cosine
   * top-k within candidates. Recall < 1 by construction — this is the
   * 100 TB path where the brute-force cross join is infeasible. Multi-probe:
   * each vector also probes the `nProbe` buckets at Hamming distance 1.
   */
  def lshTopK(docs: DataFrame, idCol: String, vecCol: String,
              k: Int, nPlanes: Int = 12, dim: Int = 64, nProbe: Int = 4): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val withB = docs.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("b", signBucket(col("v"), planes))
    // probe buckets: own bucket + Hamming-1 flips of the first nProbe bits
    val probes = withB.select(col("id"), col("v"),
      explode(array(
        (col("b") +: (0 until math.min(nProbe, nPlanes)).map(i =>
          col("b").bitwiseXOR(lit(1L << i)))): _*)).as("pb"))
    val cand = probes.as("q").join(withB.as("c"),
        col("q.pb") === col("c.b") && col("q.id") =!= col("c.id"))
      .select(col("q.id").as("qid"), col("q.v").as("qv"),
        col("c.id").as("nn"), col("c.v").as("cv"))
      .dropDuplicates("qid", "nn")
    val scored = cand.select(col("qid"), col("nn"), cosine(col("qv"), col("cv")).as("sim"))
    val w = Window.partitionBy("qid").orderBy(desc("sim"), col("nn"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nn"), col("rnk"))
  }

  /**
   * Embedding-cosine near-duplicate pairs (the dedup-suite member for
   * multimodal/embedded corpora): sign-LSH bucketing with Hamming-1
   * multi-probe generates candidates, exact cosine verifies `≥ threshold`.
   * Emits (a, b, sim) with a < b. Never an all-pairs join — same scale shape
   * as the MinHash path in [[graft.operators.Dedup]]; recall follows the
   * sign-LSH collision bound (near-identical vectors agree on every plane
   * with high probability, so true near-dups at cos ≥ 0.95 are caught by
   * the multi-probe with ≥1-(ε) probability; planted-twin spec gates it).
   */
  def embeddingNearDuplicates(docs: DataFrame, idCol: String, vecCol: String,
                              threshold: Double = 0.95,
                              nPlanes: Int = 12, dim: Int = 64,
                              nProbe: Int = 4): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val withB = docs.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("b", signBucket(col("v"), planes))
    val probes = withB.select(col("id"), col("v"),
      explode(array(
        (col("b") +: (0 until math.min(nProbe, nPlanes)).map(i =>
          col("b").bitwiseXOR(lit(1L << i)))): _*)).as("pb"))
    probes.as("q").join(withB.as("c"),
        col("q.pb") === col("c.b") && col("q.id") < col("c.id"))
      .select(col("q.id").as("a"), col("c.id").as("b"),
        cosine(col("q.v"), col("c.v")).as("sim"))
      .filter(col("sim") >= threshold)
      .dropDuplicates("a", "b")
  }
}
