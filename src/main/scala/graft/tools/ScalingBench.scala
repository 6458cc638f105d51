package graft.tools

import org.apache.spark.sql.SparkSession

import graft.graph.{PageRank, PageRankConfig}
import graft.sources.PageSynth

/**
 * Two-cluster-size scaling evidence (BASELINE.json:2,14; sandbox form per the
 * round driver: same job + same input at two parallelism levels). Run once
 * per parallelism level in a fresh JVM, with the WHOLE JVM pinned to N CPUs:
 *
 *   taskset -c 0-<N-1> sbt "runMain graft.tools.ScalingBench <cores> [nPages] [iters]"
 *
 * The taskset pin matters for honesty: a bare `local[N]` JVM still runs its
 * GC/JIT/daemon threads on all 32 physical cores, which subsidizes the
 * small-N leg (measured ~10% at N=1) in a way a real N-core executor never
 * enjoys — so unpinned pairs overstate efficiency. Prints one JSON line with
 * superstep throughput (every repeat + loadavg context embedded); efficiency
 * between N and 4N cores = (T_N / T_4N) / 4 on each leg's BEST run, recorded
 * in BENCH/BASELINE.md. Each leg uses its own best configuration — a conf
 * that slows one leg must not be used to flatter the ratio (the round-1
 * "0.976" came from exactly that artifact).
 *
 * Both legs run the same plan: the pinned `numPartitions` and
 * `spark.sql.shuffle.partitions` are `cores` floored at 2. At width 1 the
 * layout plans as `SinglePartition`, which PageRank's co-partitioned
 * superstep joins do not accept, so the 1-core leg would re-shuffle every
 * superstep and its ratio to the 4-core leg would measure that plan, not
 * the added cores ([[graft.graph.Superstep.width]]).
 */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val cores  = args(0).toInt
    val nPages = if (args.length > 1) args(1).toLong else 500000L
    val iters  = if (args.length > 2) args(2).toInt else 8
    val parts  = math.max(2, cores)
    // SPARK_GRAFT_MASTER overrides the master URL — the N-vs-4N *executor*
    // form of the north rule uses `local-cluster[N,c,mem]`: real separate
    // executor JVMs (own heap, own GC) on this box, vs local[N]'s single
    // shared JVM. `cores` stays the TOTAL parallelism (partitions).
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]")
    val builder = SparkSession.builder()
      .master(master)
      .appName(s"graft-scaling-$cores")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (master.startsWith("local-cluster")) {
      // executor JVMs are launched by the pseudo-cluster worker with only the
      // Spark jars on their classpath; hand them the full driver classpath
      // (repo classes + test deps live on the local FS of this same box)
      builder.config("spark.executor.extraClassPath", sys.props("java.class.path"))
      builder.config("spark.executor.memory",
        sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "6g"))
    }
    // experiment knobs: SPARK_GRAFT_CONF="k=v;k=v"
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); builder.config(k, v) })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val repeats  = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "3").toInt
    val cfg = PageRankConfig(eps = 0.0, maxIter = iters, ckptEvery = 0, numPartitions = parts)
    val edges  = PageSynth.edgeList(spark, nPages, numPartitions = cores)
    val nEdges = edges.count()

    def onePass(maxIter: Int): Seq[graft.graph.IterMetrics] =
      PageRank.run(spark, edges.toDF(), cfg.copy(maxIter = maxIter)).metrics
    onePass(2) // warm-up

    def loadavg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }

    // this box sees exogenous load bursts that degrade a run 3-10×; measure
    // `repeats` runs with the 1-min loadavg sampled around each, report every
    // run, and take the BEST (min wall) as the engine's contention-free rate —
    // external load can only ever slow a run down, never speed it up.
    val runs = (1 to repeats).map { _ =>
      val l0  = loadavg()
      val t0  = System.nanoTime()
      val ms  = onePass(iters)
      val sec = (System.nanoTime() - t0) / 1e9
      val walls = ms.map(_.wallMs).sorted
      System.err.println("per-superstep wallMs: " + ms.map(_.wallMs).mkString(","))
      (sec, walls(walls.length / 2), l0, loadavg(), ms.length)
    }
    val (sec, medMs, l0, l1, its) = runs.minBy(_._1)
    val rate    = nEdges.toDouble * its / sec
    val medRate = nEdges.toDouble / (medMs / 1000.0)
    val runsJson = runs.map { case (s, m, a, b, _) =>
      s"""{"sec":$s,"median_superstep_ms":$m,"load_before":$a,"load_after":$b}"""
    }.mkString("[", ",", "]")
    println(s"""{"bench":"pagerank_scaling","engine":"sql","cores":$cores,"pages":$nPages,"edges":$nEdges,"supersteps":$its,"sec":$sec,"edges_per_sec_per_superstep":$rate,"median_superstep_ms":$medMs,"median_edges_per_sec":$medRate,"load_before":$l0,"load_after":$l1,"runs":$runsJson}""")
    spark.stop()
  }
}
