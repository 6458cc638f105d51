package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run: self times from the spans, counts from
  * the jobs, Spark counters scoped to the spans. Each is the median over the
  * run's traced jobs. */
object Layers {
  /** the engine's layers, as span-name prefixes */
  val Names: Seq[String] = Seq("sources.PageSynth", "functions.Html", "graph.GraphOps",
    "graph.PageRank", "graph.ConnectedComponents", "graph.LabelPropagation", "graph.Triangles",
    "ckpt.IcebergLikeStore", "SparkEntry")

  def layerOf(span: String): Option[String] =
    Names.find(l => span == l || span.startsWith(l + "."))

  private val MB = 1048576.0

  private def sparkMetrics(l: String): Seq[(String, String)] =
    Seq(s"spark.$l.jobs" -> "count", s"spark.$l.task_s" -> "s", s"spark.$l.shuffle_mb" -> "MB")

  /** Every per-layer metric BENCHMARK.json lists, with its unit, in print
    * order. */
  val Metrics: Seq[(String, String)] = Seq(
    "sources.PageSynth.generate_s" -> "s",
    "functions.Html.s" -> "s",
    "functions.Html.pages_per_s" -> "1/s",
    "graph.GraphOps.edgesFromPages_s" -> "s",
    "graph.GraphOps.edges" -> "count",
    "graph.PageRank.s" -> "s",
    "graph.PageRank.supersteps" -> "count",
    "graph.PageRank.superstep_ms.p50" -> "ms",
    "graph.PageRank.superstep_ms.max" -> "ms",
    "graph.PageRank.prologue_s" -> "s",
    "graph.PageRank.part_rows.max_over_mean" -> "ratio",
    "graph.Salting.hub_count" -> "count",
    "graph.Salting.hub_threshold" -> "count",
    "graph.ConnectedComponents.s" -> "s",
    "graph.ConnectedComponents.components" -> "count",
    "graph.LabelPropagation.s" -> "s",
    "graph.LabelPropagation.labels" -> "count",
    "graph.Triangles.s" -> "s",
    "graph.Triangles.triangles" -> "count",
    "ckpt.IcebergLikeStore.save_s" -> "s",
    "ckpt.IcebergLikeStore.saves" -> "count",
    "ckpt.IcebergLikeStore.bytes_written" -> "bytes",
    "ckpt.IcebergLikeStore.commit_s" -> "s",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "spark.gc_s" -> "s",
    "spark.task_s.max_over_median" -> "ratio",
    "spark.busy_share" -> "ratio") ++
    Names.filter(_ != "SparkEntry").flatMap(sparkMetrics) ++ Seq(
    "baseline.power_iteration_s" -> "s",
    "trace.overhead_share" -> "ratio")

  /** The SparkEntry layer's metrics. Only docgraph-drivers calls SparkEntry,
    * and BENCHMARK.json does not list that workload, so only its runs print
    * these, after the listed ones. */
  val SparkEntryMetrics: Seq[(String, String)] =
    DocGraphDrivers.Queries.map(q => s"SparkEntry.$q.s" -> "s") ++
    DocGraphDrivers.Queries.map(q => s"SparkEntry.$q.jobs" -> "count") ++ Seq(
    "SparkEntry.build_s" -> "s",
    "SparkEntry.exec_s" -> "s",
    "SparkEntry.plan_share" -> "ratio") ++ sparkMetrics("SparkEntry")

  /** Spark counters of a set of spans: jobs, task seconds, shuffle MB. */
  private def sparkValues(spans: Seq[Span]): Seq[(String, Double)] = {
    val cs = spans.map(_.c)
    Seq("jobs" -> cs.map(_.jobs).sum.toDouble,
      "task_s" -> cs.map(_.taskMs).sum / 1000.0,
      "shuffle_mb" -> cs.map(c => c.shuffleRead + c.shuffleWrite).sum / MB)
  }

  /** Task-time-weighted mean over stages (≥ 2 tasks) of max/median task time. */
  private def skew(spans: Seq[Span]): Double = {
    val stages = spans.flatMap(_.c.stageTaskMs.values).filter(_.size >= 2)
    val w = stages.map(_.sum.toDouble)
    if (w.sum <= 0) 1.0
    else stages.zip(w).map { case (ts, wt) =>
      ts.max / math.max(1.0, Stats.median(ts.map(_.toDouble).toSeq)) * wt }.sum / w.sum
  }

  private def jobValues(tr: Tracer, j: JobRec, w: Workload, cores: Int): Map[String, Double] = {
    val spans = tr.spans.filter(_.job == j.no).toSeq
    val selfs = tr.selfSeconds(j.no)
    def self(n: String) = selfs.collect { case (s, t) if s.name == n => t }.sum
    val out = j.out.get
    val steps = out.superstepMs.map(_.toDouble)
    val m = mutable.Map[String, Double]() ++ out.facts
    val html = self("functions.Html")
    m("functions.Html.s") = html
    m("functions.Html.pages_per_s") = if (html > 0) w.pages / html else 0.0
    m("graph.GraphOps.edgesFromPages_s") = self("graph.GraphOps.edgesFromPages")
    val pr = self("graph.PageRank")
    m("graph.PageRank.s") = pr
    m("graph.PageRank.superstep_ms.p50") = Stats.median(steps)
    m("graph.PageRank.superstep_ms.max") = if (steps.isEmpty) 0.0 else steps.max
    m("graph.PageRank.prologue_s") = if (pr > 0) math.max(0.0, pr - steps.sum / 1000.0) else 0.0
    for (l <- Seq("graph.ConnectedComponents", "graph.LabelPropagation", "graph.Triangles"))
      m(s"$l.s") = self(l)
    m("ckpt.IcebergLikeStore.save_s") = self("ckpt.IcebergLikeStore.save")
    m("ckpt.IcebergLikeStore.commit_s") = self("ckpt.IcebergLikeStore.commit")
    val byParent = spans.groupBy(_.parent)
    for (q <- DocGraphDrivers.Queries; s <- spans.find(_.name == s"SparkEntry.$q")) {
      m(s"SparkEntry.$q.s") = s.seconds
      m(s"SparkEntry.$q.jobs") = (s +: byParent.getOrElse(s.id, Nil)).map(_.c.jobs).sum.toDouble
    }
    val (build, plan, exec) =
      (self("SparkEntry.build"), self("SparkEntry.plan"), self("SparkEntry.exec"))
    m("SparkEntry.build_s") = build
    m("SparkEntry.exec_s") = exec
    m("SparkEntry.plan_share") = if (build + plan + exec > 0) plan / (build + plan + exec) else 0.0
    val cs = spans.map(_.c)
    m("spark.jobs") = cs.map(_.jobs).sum.toDouble
    m("spark.stages") = cs.map(_.stages).sum.toDouble
    m("spark.tasks") = cs.map(_.tasks).sum.toDouble
    m("spark.shuffle_read_mb") = cs.map(_.shuffleRead).sum / MB
    m("spark.shuffle_write_mb") = cs.map(_.shuffleWrite).sum / MB
    m("spark.spill_mb") = cs.map(_.spill).sum / MB
    m("spark.gc_s") = j.gcSeconds
    m("spark.task_s.max_over_median") = skew(spans)
    m("spark.busy_share") = cs.map(_.taskMs).sum / 1000.0 / (j.seconds * cores)
    for (l <- Names if l != "sources.PageSynth"; (k, v) <- sparkValues(spans.filter(s => layerOf(s.name).contains(l))))
      m(s"spark.$l.$k") = v
    m.toMap
  }

  def perLayer(tr: Tracer, traced: Seq[JobRec], w: Workload, genMedian: Double,
               cores: Int): Seq[(String, (Double, String))] = {
    val perJob = traced.map(jobValues(tr, _, w, cores))
    // input generation runs in set-up, once per repetition: median over them
    val gen = tr.spans.filter(s => s.job < 0 && s.name == "sources.PageSynth").toSeq
      .map(s => sparkValues(Seq(s)).toMap)
    val special = Map(
      "sources.PageSynth.generate_s" -> genMedian,
      "baseline.power_iteration_s" -> w.baselineSeconds) ++
      Seq("jobs", "task_s", "shuffle_mb").map(k => s"spark.sources.PageSynth.$k" -> Stats.median(gen.map(_(k))))
    val printed = w match {
      case _: DocGraphDrivers => Metrics ++ SparkEntryMetrics
      case _                  => Metrics
    }
    printed.filter(_._1 != "trace.overhead_share").map { case (k, unit) =>
      k -> (special.getOrElse(k, Stats.median(perJob.map(_.getOrElse(k, 0.0)))), unit)
    }
  }
}
