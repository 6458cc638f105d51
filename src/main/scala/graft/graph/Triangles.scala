package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Triangle counting via degree-ordered edge orientation (BASELINE.json:6;
 * Cohen 2009 "Graph Twiddling in a MapReduce World"; Suri & Vassilvitskii,
 * WWW 2011). Two equi-joins, no cartesian:
 *
 *  1. canonicalize to unique undirected pairs, compute undirected degrees;
 *  2. orient every pair from the endpoint with lower `(degree, id)` to the
 *     higher — a DAG in which each triangle {u<v<w} (in the total order)
 *     contains exactly one length-2 path u→v→w;
 *  3. wedges = oriented ⋈ oriented on `e1.dst = e2.src`;
 *  4. close each wedge with a left-semi join back into the oriented set.
 *
 * The degree ordering bounds every vertex's oriented out-degree by O(√|E|)
 * (arboricity argument), so wedge fan-out — the step that explodes on hub
 * vertices under naive orientation — stays balanced at web scale. That IS
 * the skew handling for this operator.
 */
object Triangles {

  /** Degree-ordered oriented edge set: columns (u, v), u precedes v in (deg, id) order. */
  def oriented(edges: DataFrame): DataFrame = {
    val und = GraphOps.undirected(edges) // (a, b), a < b, deduplicated
    val deg = GraphOps.undirectedDegrees(und)
    val withDeg = und
      .join(deg.withColumnRenamed("vid", "a").withColumnRenamed("deg", "da"), "a")
      .join(deg.withColumnRenamed("vid", "b").withColumnRenamed("deg", "db"), "b")
    // lower (deg, id) endpoint becomes the tail
    withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")), col("a"))
        .otherwise(col("b")).as("u"),
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")), col("b"))
        .otherwise(col("a")).as("v"))
  }

  /** Triangle plan over an (ideally persisted) oriented edge set. */
  private def trianglesFrom(eo: DataFrame): DataFrame = {
    val e1 = eo.select(col("u").as("x"), col("v").as("y"))
    val e2 = eo.select(col("u").as("y2"), col("v").as("z"))
    val wedges = e1.join(e2, col("y") === col("y2")).select(col("x"), col("y"), col("z"))
    wedges.join(eo, wedges("x") === eo("u") && wedges("z") === eo("v"), "left_semi")
  }

  /** All triangles as vertex triples (x, y, z) — one row per triangle.
    * NOTE: the oriented edge set is recomputed per reference here; the
    * terminal-action entry points below persist it for their action's
    * lifetime and release it after (no session-lifetime cache leak). */
  def triangles(spark: SparkSession, edges: DataFrame): DataFrame =
    trianglesFrom(oriented(edges))

  def countTriangles(spark: SparkSession, edges: DataFrame): Long = {
    val eo = oriented(edges).persist(StorageLevel.MEMORY_AND_DISK)
    try trianglesFrom(eo).count()
    finally eo.unpersist(false)
  }

  /** Per-vertex triangle participation counts (materialized — the oriented
    * edge cache is held only while the underlying action runs). The three
    * corners come from ONE pass over the triangle join via explode (r6 —
    * the former union of three projections of `t` re-evaluated the
    * wedge-close join three times); row-for-row identical output. */
  def perVertex(spark: SparkSession, edges: DataFrame): DataFrame = {
    val eo = oriented(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val t = trianglesFrom(eo)
    val res = t.select(explode(array(col("x"), col("y"), col("z"))).as("vid"))
      .groupBy("vid").agg(count(lit(1)).as("triangles"))
      .localCheckpoint(true)
    eo.unpersist(false)
    res
  }
}
