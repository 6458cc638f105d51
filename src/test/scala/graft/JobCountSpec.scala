package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.graph._
import graft.operators.DocGraph

/**
 * Structural jobs-per-superstep regression guard for the iterative drivers
 * (VERDICT r3 #6): round 3 proved wall-clock bench evidence can be
 * contaminated by host-level contention the guest can't see, so the
 * "one driver action per superstep" property each driver claims is asserted
 * here as an exact Spark-job count — a listener can't be fooled by a noisy
 * neighbor, and a regression to eager-checkpoint/count/anti-join patterns
 * (3 actions per round, the round-3 q_cc_alt defect) fails this suite.
 *
 * Counting protocol: AQE is OFF in a dedicated child session (AQE splits one
 * action into one job per materialized query stage, making counts
 * plan-shape-dependent) and broadcasts are disabled via
 * broadcastMaxRows = 0 (each BroadcastExchange submits its own async collect
 * job). Under those pins, jobs == driver actions exactly. PageRank is also
 * pinned in the suite's default AQE-on session, where every materialized
 * query stage is its own job, so the count is the superstep's stage shape.
 */
class JobCountSpec extends SparkSpec {

  private lazy val noAqe: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  private def jobsDuring(body: => Unit): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try { body; ListenerBusDrain.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  /** 31-vertex path: HashMin/LP label waves travel one hop per superstep, so
    * runs capped at 3 and 6 iterations really execute 3 and 6 (no early
    * convergence), and out-degrees are 1 (no hubs → no salting side jobs). */
  private def pathEdges(s: SparkSession): DataFrame = {
    import s.implicits._
    (0L until 30L).map(i => (i, i + 1)).toDF("src", "dst")
  }

  /** The same path with nullable id columns, as an edge table read from
    * parquet has them. */
  private def nullablePathEdges(s: SparkSession): DataFrame = {
    val p = pathEdges(s)
    s.createDataFrame(p.rdd, StructType(p.schema.map(_.copy(nullable = true))))
  }

  test("PageRank: exactly one job per extra superstep") {
    val e = pathEdges(noAqe)
    def cfg(k: Int) = PageRankConfig(eps = 0.0, maxIter = k, ckptEvery = 0,
      broadcastMaxRows = 0L)
    val j3 = jobsDuring { PageRank.run(noAqe, e, cfg(3)) }
    val j6 = jobsDuring { PageRank.run(noAqe, e, cfg(6)) }
    assert(j6 - j3 == 3, s"expected 1 job/superstep, got j3=$j3 j6=$j6")
  }

  test("PageRank under AQE: exactly two jobs per extra superstep, state kept `parts` wide") {
    // the suite's default session (AQE on) — the setting every real session
    // runs with. Shuffle regime at the session's 4 shuffle partitions: the
    // partial-sum exchange and the materializing pass each submit one job;
    // no closing aggregate, and no exchange of the state, whose checkpoint
    // keeps the hash partitioning it was produced with.
    val e = nullablePathEdges(spark)
    def cfg(k: Int) = PageRankConfig(eps = 0.0, maxIter = k, ckptEvery = 0,
      numPartitions = 4, broadcastMaxRows = 0L)
    var r6: PageRankResult = null
    val j3 = jobsDuring { PageRank.run(spark, e, cfg(3)) }
    val j6 = jobsDuring { r6 = PageRank.run(spark, e, cfg(6)) }
    assert(j6 - j3 == 6, s"expected 2 jobs/superstep, got j3=$j3 j6=$j6")
    assert(r6.metrics.size == 6)
    r6.metrics.foreach { m =>
      assert(m.partStats.map(_.pid) == (0 until 4), s"superstep ${m.iter}: ${m.partStats}")
      assert(m.partStats.map(_.rows).sum == 31L, s"superstep ${m.iter}: ${m.partStats}")
    }
    // no coalesced read: the materialized state has all 4 partitions, with
    // exactly the rows partStats reports
    val got = r6.ranks.groupBy(org.apache.spark.sql.functions.spark_partition_id()).count()
      .collect().map(r => PartStat(r.getInt(0), r.getLong(1))).sortBy(_.pid).toSeq
    assert(r6.ranks.rdd.getNumPartitions == 4)
    assert(got == r6.metrics.last.partStats.filter(_.rows > 0))
  }

  test("warm PageRank.run compiles no code: the per-superstep scalar is not a literal") {
    val e = pathEdges(spark)
    def cfg(k: Int) = PageRankConfig(eps = 0.0, maxIter = k, ckptEvery = 0,
      numPartitions = 4, broadcastMaxRows = 0L)
    PageRank.run(spark, e, cfg(3)) // warm: compiles this plan shape once
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    PageRank.run(spark, e, cfg(6)) // 3 more supersteps, each with a new scalar
    assert(compiles.getCount - before == 0, "a warm run compiled generated code")
  }

  test("HashMin CC: exactly one job per strided superstep PAIR (r6)") {
    val e = pathEdges(noAqe)
    val j4 = jobsDuring { ConnectedComponents.run(noAqe, e, maxIter = 4, broadcastMaxRows = 0L) }
    val j8 = jobsDuring { ConnectedComponents.run(noAqe, e, maxIter = 8, broadcastMaxRows = 0L) }
    assert(j8 - j4 == 2, s"expected 1 job per 2 supersteps, got j4=$j4 j8=$j8")
  }

  test("label propagation: exactly one job per strided superstep PAIR (r6)") {
    val e = pathEdges(noAqe)
    val j4 = jobsDuring { LabelPropagation.run(noAqe, e, maxIter = 4, broadcastMaxRows = 0L) }
    val j8 = jobsDuring { LabelPropagation.run(noAqe, e, maxIter = 8, broadcastMaxRows = 0L) }
    assert(j8 - j4 == 2, s"expected 1 job per 2 supersteps, got j4=$j4 j8=$j8")
  }

  test("personalized PageRank: pinned jobs per superstep in the shuffle regime (r6)") {
    // seeds = vid%100==0 → {0} on the 31-vertex path. broadcastMaxRows = 0
    // forces the SHUFFLE regime, where the state checkpoints EAGERLY per
    // superstep (so the in-plan scalar's broadcast build never carries a
    // whole superstep inside the broadcast timeout): exactly the checkpoint
    // action + the scalar-broadcast build per extra superstep — pinned as
    // an exact count so a regression to more driver work fails here. (The
    // broadcast regime's zero-actions-per-superstep chain is exercised by
    // the oracle parity suite; job counts there are AQE-shaped.)
    val e = pathEdges(noAqe)
    val j3 = jobsDuring { DocGraph.pprIterLaid(DocGraph.lay(e), 3, broadcastMaxRows = 0L).count() }
    val j6 = jobsDuring { DocGraph.pprIterLaid(DocGraph.lay(e), 6, broadcastMaxRows = 0L).count() }
    assert(j6 - j3 == 6, s"expected checkpoint + scalar-broadcast build per superstep, got j3=$j3 j6=$j6")
  }

  test("HITS: pinned jobs per half-step in the shuffle regime (r6)") {
    val e = pathEdges(noAqe)
    val j2 = jobsDuring { DocGraph.hitsIterLaid(DocGraph.lay(e), 2, broadcastMaxRows = 0L).count() }
    val j4 = jobsDuring { DocGraph.hitsIterLaid(DocGraph.lay(e), 4, broadcastMaxRows = 0L).count() }
    assert(j4 - j2 == 8, s"expected checkpoint + normalizer-broadcast build per half-step, got j2=$j2 j4=$j4")
  }

  test("multi-source BFS: zero extra jobs per superstep (lazy chain, one materializing action)") {
    val e = pathEdges(noAqe)
    val j4 = jobsDuring { DocGraph.bfsIterLaid(DocGraph.lay(e), 4, broadcastMaxRows = 0L).count() }
    val j8 = jobsDuring { DocGraph.bfsIterLaid(DocGraph.lay(e), 8, broadcastMaxRows = 0L).count() }
    assert(j8 - j4 == 0, s"expected a k-independent job count, got j4=$j4 j8=$j8")
  }

  test("weighted SSSP: zero extra jobs per superstep (lazy chain, one materializing action)") {
    val e = pathEdges(noAqe)
    val j4 = jobsDuring { DocGraph.ssspIterLaid(DocGraph.lay(e), 4, broadcastMaxRows = 0L).count() }
    val j8 = jobsDuring { DocGraph.ssspIterLaid(DocGraph.lay(e), 8, broadcastMaxRows = 0L).count() }
    assert(j8 - j4 == 0, s"expected a k-independent job count, got j4=$j4 j8=$j8")
  }

  test("truncated Katz: zero extra jobs per superstep (lazy chain, one materializing action)") {
    val e = pathEdges(noAqe)
    val j3 = jobsDuring { DocGraph.katzIterLaid(DocGraph.lay(e), 3, broadcastMaxRows = 0L).count() }
    val j6 = jobsDuring { DocGraph.katzIterLaid(DocGraph.lay(e), 6, broadcastMaxRows = 0L).count() }
    assert(j6 - j3 == 0, s"expected a k-independent job count, got j3=$j3 j6=$j6")
  }

  test("weighted PageRank: pinned jobs per superstep in the shuffle regime (r6)") {
    val e = pathEdges(noAqe)
    val j3 = jobsDuring { DocGraph.wprIterLaid(DocGraph.lay(e), 3, broadcastMaxRows = 0L).count() }
    val j6 = jobsDuring { DocGraph.wprIterLaid(DocGraph.lay(e), 6, broadcastMaxRows = 0L).count() }
    assert(j6 - j3 == 6, s"expected checkpoint + scalar-broadcast build per superstep, got j3=$j3 j6=$j6")
  }

  test("greedy matching: zero extra jobs per round (lazy chain, one materializing action)") {
    val e = pathEdges(noAqe)
    val j2 = jobsDuring { DocGraph.matchIterLaid(DocGraph.lay(e, DocGraph.canonical), 2, broadcastMaxRows = 0L).count() }
    val j5 = jobsDuring { DocGraph.matchIterLaid(DocGraph.lay(e, DocGraph.canonical), 5, broadcastMaxRows = 0L).count() }
    assert(j5 - j2 == 0, s"expected a round-independent job count, got j2=$j2 j5=$j5")
  }

  test("Luby MIS: zero extra jobs per round (lazy chain, one materializing action)") {
    val e = pathEdges(noAqe)
    val j2 = jobsDuring { DocGraph.misIterLaid(DocGraph.lay(e, GraphOps.symmetrized), 2, broadcastMaxRows = 0L).count() }
    val j5 = jobsDuring { DocGraph.misIterLaid(DocGraph.lay(e, GraphOps.symmetrized), 5, broadcastMaxRows = 0L).count() }
    assert(j5 - j2 == 0, s"expected a round-independent job count, got j2=$j2 j5=$j5")
  }

  test("SALSA: zero extra jobs per iteration (stochastic half-steps need no normalizer)") {
    val e = pathEdges(noAqe)
    val j2 = jobsDuring { DocGraph.salsaIterLaid(DocGraph.lay(e), 2, broadcastMaxRows = 0L).count() }
    val j5 = jobsDuring { DocGraph.salsaIterLaid(DocGraph.lay(e), 5, broadcastMaxRows = 0L).count() }
    assert(j5 - j2 == 0, s"expected an iteration-independent job count, got j2=$j2 j5=$j5")
  }

  test("Luby coloring: zero extra jobs per round (lazy chain, one materializing action)") {
    val e = pathEdges(noAqe)
    val j2 = jobsDuring { DocGraph.colorIterLaid(DocGraph.lay(e, GraphOps.symmetrized), 2, broadcastMaxRows = 0L).count() }
    val j5 = jobsDuring { DocGraph.colorIterLaid(DocGraph.lay(e, GraphOps.symmetrized), 5, broadcastMaxRows = 0L).count() }
    assert(j5 - j2 == 0, s"expected a round-independent job count, got j2=$j2 j5=$j5")
  }

  test("k-core peel: zero extra jobs per round (lazy chain, one materializing action)") {
    val e = pathEdges(noAqe)
    val j2 = jobsDuring { DocGraph.kcoreIterLaid(DocGraph.lay(e, GraphOps.symmetrized), 2, 2, broadcastMaxRows = 0L).count() }
    val j4 = jobsDuring { DocGraph.kcoreIterLaid(DocGraph.lay(e, GraphOps.symmetrized), 2, 4, broadcastMaxRows = 0L).count() }
    assert(j4 - j2 == 0, s"expected a round-independent job count, got j2=$j2 j4=$j4")
  }

  /** Like noAqe but with broadcast joins also pinned off — for operators
    * that take no broadcastMaxRows knob (each BroadcastExchange would submit its
    * own async collect job and poison the count). */
  private lazy val noAqeNoBc: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  test("k-truss peel: zero extra jobs per round (lazy chain, one materializing action)") {
    import noAqeNoBc.implicits._
    val g = ((for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j)) ++
      Seq((10L, 11L), (11L, 12L), (10L, 12L))).toDF("src", "dst")
    val j1 = jobsDuring { Truss.peel(g, 3, 1).count() }
    val j3 = jobsDuring { Truss.peel(g, 3, 3).count() }
    assert(j3 - j1 == 0, s"expected a round-independent job count, got j1=$j1 j3=$j3")
  }

  test("HyperBall: zero extra jobs per superstep (lazy chain, one materializing action)") {
    val e = pathEdges(noAqeNoBc)
    val v = GraphOps.vertices(e)
    val j1 = jobsDuring { operators.Neighborhood.hyperBall(v, DocGraph.lay(e, DocGraph.reversed), 1).count() }
    val j3 = jobsDuring { operators.Neighborhood.hyperBall(v, DocGraph.lay(e, DocGraph.reversed), 3).count() }
    assert(j3 - j1 == 0, s"expected a superstep-independent job count, got j1=$j1 j3=$j3")
  }

  test("alternating CC: one job per contraction round plus fixed setup") {
    val e = pathEdges(noAqe)
    var rounds = -1
    val jobs = jobsDuring {
      val (labels, r) =
        ConnectedComponents.runAlternatingDetailed(noAqe, e, broadcastMaxRows = 0L)
      rounds = r
      // sanity: the result is still the right one (single component, min id 0)
      assert(labels.collect().forall(_.getLong(1) == 0L))
    }
    // 5 fixed actions by design: verts checkpoint, edge checkpoint, |V| count,
    // |E| count (right-sizing), final label checkpoint — plus ONE per round.
    // (The labels.collect() above is excluded: 5 + rounds + 1.)
    assert(jobs == rounds + 6,
      s"expected rounds+6 jobs (1/round + 5 setup + the assertion's collect), " +
        s"got $jobs for $rounds rounds")
  }
}
