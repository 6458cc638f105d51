package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Temporal joins for event/feature pipelines: as-of join (latest right row at
 * or before each left row's timestamp, per key) and bounded-range
 * count/aggregation — the two shapes a training-data feature pipeline needs
 * that plain equi-joins can't express.
 *
 * Both are built WITHOUT inequality join conditions, which Spark would plan
 * as a broadcast-nested-loop (the anti-pattern the PlanSpec guard bans):
 *
 *  - [[asofJoin]] is the union + running `last_value` formulation: tag both
 *    inputs, union, ONE hash shuffle on the key, one in-partition sort for
 *    the window — O((|L|+|R|) log) per partition, no pair blowup, identical
 *    to the merge-scan a native engine would run;
 *  - [[countInRange]] buckets time into bins the width of the query window,
 *    so each left row equi-joins exactly two (key, bin) buckets and the
 *    range predicate only filters within-bucket candidates — the standard
 *    band-join decomposition (cf. DuckDB's ASOF/range join docs and the
 *    Flink interval-join execution model; same shape at any scale).
 */
object TemporalJoins {

  /**
   * As-of join: for every `left` row, the single `right` row with the same
   * `keyCol` and the greatest `tsCol` ≤ the left row's `tsCol` (equal
   * timestamps match — same semantics as DuckDB `ASOF LEFT JOIN … ON l.ts >=
   * r.ts`). Emits all left columns plus right's payload columns (null when
   * no right row precedes). Payload column names must be disjoint.
   *
   * Ties on (key, ts) among RIGHT rows are broken deterministically by the
   * greatest payload struct (field order = right's column order) — callers
   * wanting a specific tie-break should pre-dedup the right side.
   *
   * KEY-SKEW ENVELOPE (measured, BENCH/BASELINE.md §"Temporal joins at 10M
   * events"): the window partitions by key alone, so one hyperactive key
   * serializes into a single task's sort.
   * With one key holding 10% of 10M events (a 1M-row single-task sort) the
   * wall was INDISTINGUISHABLE from the uniform run (5.4 s vs 6.8 s at
   * local[32]) — a per-task in-memory timsort is ~1 s/M rows, far below the
   * shuffle cost the uniform case pays everywhere. The boundary is a key
   * whose row count alone exceeds ~what one task sorts in the job's wall
   * (≳10⁸ rows): past that, pre-split the hot key by coarse time bucket,
   * run the as-of per bucket, and stitch each bucket's tail state into the
   * next (the same running-`last` fold, one extra pass over bucket heads).
   */
  def asofJoin(left: DataFrame, right: DataFrame,
               keyCol: String, tsCol: String): DataFrame = {
    val lPayload = left.columns.filterNot(c => c == keyCol || c == tsCol).toSeq
    val rPayload = right.columns.filterNot(c => c == keyCol || c == tsCol).toSeq
    require(lPayload.intersect(rPayload).isEmpty,
      s"payload columns must be disjoint: ${lPayload.intersect(rPayload).mkString(",")}")
    val lp = struct(lPayload.map(col): _*)
    val rp = struct(rPayload.map(col): _*)
    val lpType = left.select(lp.as("s")).schema("s").dataType
    val rpType = right.select(rp.as("s")).schema("s").dataType
    // tag 0 = right rows sort BEFORE left rows at equal ts (equal ts matches)
    val tagged = right
      .select(col(keyCol).as("__k"), col(tsCol).as("__ts"), lit(0).as("__tag"),
        rp.as("__rp"), lit(null).cast(lpType).as("__lp"))
      .unionByName(left.select(col(keyCol).as("__k"), col(tsCol).as("__ts"),
        lit(1).as("__tag"), lit(null).cast(rpType).as("__rp"), lp.as("__lp")))
    // running latest right payload; __rp as the final order key makes the
    // within-tie row order (and therefore `last`) deterministic
    val w = Window.partitionBy("__k")
      .orderBy(col("__ts"), col("__tag"), col("__rp"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = tagged
      .withColumn("__match", last(col("__rp"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
    out.select(
      col("__k").as(keyCol) +: col("__ts").as(tsCol) +:
        (lPayload.map(c => col("__lp").getField(c).as(c)) ++
          rPayload.map(c => col("__match").getField(c).as(c))): _*)
  }

  /**
   * Bounded-range count: for every `left` row, the number of `right` rows
   * with the same `keyCol` and timestamp in `[l.ts − windowMicros, l.ts)` —
   * the "events of kind X by this key in the last hour" feature. Arithmetic
   * is in MICROSECONDS (full timestamp precision) so the boundary semantics
   * match an oracle's exact `INTERVAL` compare — millisecond truncation
   * would disagree for rows within sub-ms of the window edge.
   *
   * Bin width == window width, so the half-open window spans at most two
   * bins: each left row explodes to exactly 2 (key, bin) probes, the join
   * is pure equi on (key, bin), and the range predicate filters only
   * within-bucket candidates. Fan-out is a constant 2× regardless of scale.
   * Returns `left` columns + `n_in_range`.
   */
  def countInRange(left: DataFrame, right: DataFrame,
                   keyCol: String, ltsCol: String, rtsCol: String,
                   windowMicros: Long): DataFrame = {
    require(windowMicros > 0, "windowMicros must be positive")
    def us(c: Column): Column = unix_micros(c.cast("timestamp"))
    def bin(c: Column): Column = call_function("div", c, lit(windowMicros))
    val lCols = left.columns.toSeq
    val l = left.withColumn("__lus", us(col(ltsCol)))
      .withColumn("__bin", explode(array(bin(col("__lus")) - 1, bin(col("__lus")))))
    val r = right.select(col(keyCol).as("__rk"), us(col(rtsCol)).as("__rus"))
      .withColumn("__bin", bin(col("__rus")))
    // LEFT join + count of matched right rows: a left row with zero matches
    // keeps its group (count 0) and NULL-valued left columns stay correct —
    // no join-back on possibly-null columns. The two bin-copies of each left
    // row regroup into one group; their bins are disjoint, so matched rights
    // are counted exactly once. Fully identical left rows are merged by the
    // groupBy (they are indistinguishable as rows) — pass an id-carrying
    // left for per-row counts.
    l.join(r,
        l(keyCol) === r("__rk") && l("__bin") === r("__bin") &&
          r("__rus") >= l("__lus") - windowMicros && r("__rus") < l("__lus"),
        "left")
      .groupBy(lCols.map(l(_)): _*)
      .agg(count(col("__rus")).as("n_in_range"))
  }
}
