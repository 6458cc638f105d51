package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.{GraphOps, Superstep}
import graft.operators.DocGraph

/**
 * The one edge-layout function ([[Superstep.lay]]) and its width rule
 * ([[Superstep.width]]), path by path: a pinned width is taken exactly; a
 * count right-sizes by one re-lay from the cache; `minParts` floors the
 * right-sized width (the estimate path, whose dedup rides the one exchange,
 * is [[LayoutDedupSpec]]). |E| is exact on every path. The suite's session
 * width is 4.
 */
class LayoutSpec extends LaidSpec {
  import spark.implicits._

  /** a documents table of 1,000 contiguous ids: all the doc graph reads */
  private lazy val sfDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-layout").toString
    (0L until 1000L).toDF("doc_id").write.parquet(s"$dir/documents.parquet")
    dir
  }

  /** a 31-row edge table: 30 path edges plus one duplicate */
  private def small: DataFrame = ((0L until 30L).map(i => (i, i + 1)) :+ ((0L, 1L))).toDF("src", "dst")

  test("the width rule: 50k edges per partition, floored at minParts, capped at the session width") {
    assert(Superstep.width(spark, 0L) == 1)
    assert(Superstep.width(spark, 99999L) == 1)
    assert(Superstep.width(spark, 99999L, minParts = 2) == 2)
    assert(Superstep.width(spark, 150000L) == 3)
    assert(Superstep.width(spark, 150000L, minParts = 2) == 3)
    assert(Superstep.width(spark, 10000000L) == 4)
    assert(Superstep.width(spark, 0L, minParts = 8) == 4)
  }

  test("a pinned width is taken exactly, above the session width too") {
    for (pinned <- Seq(1, 3, 8)) {
      val ((_, n, p), e) = laid(small)(Superstep.lay(_, parts = pinned))
      try assert(p == pinned && n == 31L)
      finally e.unpersist(false)
    }
  }

  test("a counted layout re-lays once, narrower: width 1 by default, the minParts floor at 2") {
    for ((minParts, want) <- Seq(1 -> 1, 2 -> 2)) {
      val ((_, n, p), e) = laid(small)(Superstep.lay(_, minParts = minParts))
      try {
        assert(p == want && n == 31L)
        // laid by src and sorted within its partitions
        val rows = e.collect().map(_.getLong(0)).toSeq
        if (p == 1) assert(rows == rows.sorted)
      } finally e.unpersist(false)
    }
  }

  test("laid doc builders match the reference derivations row for row") {
    val (dir, _, _) = DocGraph.laidDirected(spark, sfDir)
    val (sym, _, _) = DocGraph.laidSym(spark, sfDir)
    val (und, _, _) = DocGraph.laidUnd(spark, sfDir)
    try {
      def set(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(set(dir) == set(DocGraph.edges(spark, sfDir)))
      assert(set(sym) == set(GraphOps.symmetrized(DocGraph.edges(spark, sfDir))))
      assert(set(und) == set(GraphOps.undirected(DocGraph.edges(spark, sfDir))
        .select(col("a").as("src"), col("b").as("dst"))))
    } finally { dir.unpersist(false); sym.unpersist(false); und.unpersist(false) }
  }
}

/** Checks shared by the layout specs. */
abstract class LaidSpec extends SparkSpec {
  protected def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** `lay`'s result, checked: exact |E|, the width it reports is the cached
    * table's, and the call leaves exactly that one table cached. */
  protected def laid(input: DataFrame)(lay: DataFrame => Superstep.Laid): (Superstep.Laid, DataFrame) = {
    val before = persisted()
    val l @ (e, n, p) = lay(input)
    assert(n == e.count())
    assert(e.rdd.getNumPartitions == p)
    assert((persisted() -- before).size == 1, "the session-width table was not released")
    (l, e)
  }
}
