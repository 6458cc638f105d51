package graft

import graft.graph.Superstep

/**
 * The estimate path of [[Superstep.lay]] (once `layoutDedupForIteration`,
 * the name its test keeps): the width is right-sized from the estimate before
 * the one exchange, and the (src, dst) dedup rides that exchange. The claim is
 * "same rows, one shuffle", so both halves are pinned — distinct rows with an
 * exact |E|, and exactly ONE Exchange in the executed plan
 * (HashPartitioning(key) must keep satisfying the dedup's
 * ClusteredDistribution; a Spark behavior change that re-inserts the second
 * exchange fails here, not silently in the bench). The suite's session width
 * is 4.
 */
class LayoutDedupSpec extends LaidSpec {
  import spark.implicits._

  test("layoutDedupForIteration: distinct rows, exact count, ONE exchange") {
    val raw = Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (2L, 3L), (4L, 1L))
      .toDF("src", "dst")
    val want = raw.distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the width follows the estimate, not the rows: 600k estimated edges
    // right-size to the session's 4, where the layout plans as a real
    // hashpartitioning exchange (at width 1 it prints as SinglePartition)
    for ((est, width) <- Seq(600000L -> 4, 1000L -> 1)) {
      val ((_, cnt, parts), e) = laid(raw)(Superstep.lay(_, estimate = Some(est)))
      try {
        val got = e.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == want && cnt == want.size)
        assert(parts == width)
        if (parts > 1) {
          // the executed plan prints each exchange in both the initial and
          // the final adaptive plan — count DISTINCT exchange plan ids
          val plan = e.queryExecution.executedPlan.toString
          val ids = "Exchange [^\\n]*plan_id=(\\d+)".r
            .findAllMatchIn(plan).map(_.group(1)).toSet
          assert(ids.size == 1,
            s"expected the dedup folded into the single layout exchange, got ${ids.size}:\n$plan")
          assert(plan.contains("Exchange hashpartitioning(src"),
            s"layout exchange is not the src hash partitioning:\n$plan")
        }
      } finally e.unpersist(false)
    }
  }
}
