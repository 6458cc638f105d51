package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{functions, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.ckpt.IcebergLikeStore
import graft.functions.Html
import graft.graph._
import graft.operators.DocGraph
import graft.sources.PageSynth

/** Everything a workload needs from the run. `size` holds the workload's
  * input sizes (see [[Sizes]]). */
final class Ctx(val spark: SparkSession, val tr: Tracer, val work: Path,
                val seed: Long, val size: Map[String, Long]) {
  def fresh(name: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p.getParent)
    Main.deleteTree(p)
    p
  }
}

/** One timed job's report: per-job counts (named like their per-layer
  * metric), PageRank superstep walls, and the output check, which the run
  * calls outside the timed region and which throws on a wrong output. */
final case class JobOut(facts: Map[String, Double], superstepMs: Seq[Long], check: () => Unit)

abstract class Workload(val ctx: Ctx) {
  import ctx._
  /** input pages (documents for the doc graph) — the numerator of pages_per_s */
  def pages: Long
  /** |E| of the workload's graph, known after [[prepare]] */
  var edges = 0L
  /** single-thread power-iteration time, where the workload has one */
  var baselineSeconds = 0.0
  /** write the inputs under `dir` (timed as set-up, repeated) */
  def generate(dir: Path): Unit
  /** point the jobs at the kept inputs and compute |E| */
  def prepare(dir: Path): Unit
  def job(no: Int): JobOut
  /** after the timed loop */
  def finish(): Unit = ()

  protected def check(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new IllegalStateException(msg)
  protected def read(p: Path): DataFrame = spark.read.parquet(p.toString)
}

/** Input sizes, full and smoke (the self-test's). Full sizes keep one run
  * well under a minute on 4 cores. */
object Sizes {
  val full: Map[String, Map[String, Long]] = Map(
    "pr-web"           -> Map("pages" -> 10000L, "broadcastMaxRows" -> 5000L),
    "crawl-graph"      -> Map("pages" -> 10000L),
    "hub-skew"         -> Map("pages" -> 20000L, "hubOut" -> 40000L),
    "docgraph-drivers" -> Map("docs" -> 500L))
  val smoke: Map[String, Map[String, Long]] = Map(
    "pr-web"           -> Map("pages" -> 3000L, "broadcastMaxRows" -> 1000L),
    "crawl-graph"      -> Map("pages" -> 1000L),
    "hub-skew"         -> Map("pages" -> 2000L, "hubOut" -> 50000L),
    "docgraph-drivers" -> Map("docs" -> 300L))
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "pr-web"           => new PrWeb(ctx)
    case "hub-skew"         => new HubSkew(ctx)
    case "crawl-graph"      => new CrawlGraph(ctx)
    case "docgraph-drivers" => new DocGraphDrivers(ctx)
    case other              => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The store's public rank checkpointer, with a span around each save and
  * a count of saves and bytes written. */
final class TracedCheckpointer(store: IcebergLikeStore, tr: Tracer) extends PageRank.Checkpointer {
  private val inner = store.rankCheckpointer()
  var saves = 0
  var bytes = 0L
  def save(iter: Int, ranks: DataFrame, metrics: Seq[IterMetrics]): DataFrame =
    tr.span("ckpt.IcebergLikeStore.save") {
      val r = inner.save(iter, ranks, metrics)
      saves += 1
      bytes += store.currentSnapshot("ranks").map(_.files.map(_.bytes).sum).getOrElse(0L)
      r
    }
  def latest(): Option[(Int, DataFrame, Seq[IterMetrics])] = inner.latest()
}

/** PageRank over a generated edge list, checked against a single-threaded
  * power iteration over the same edges. */
abstract class PageRankWorkload(ctx: Ctx) extends Workload(ctx) {
  import ctx._
  def cfg: PageRankConfig
  def edgeList: DataFrame
  def guard(res: PageRankResult, vertices: Long): Unit

  def pages: Long = size("pages")
  private var input: DataFrame = _
  private var firstSupersteps = -1
  private lazy val graph = {
    val rows = input.select("src", "dst").collect()
    new Reference.Indexed(rows.map(_.getLong(0)), rows.map(_.getLong(1)))
  }

  def generate(dir: Path): Unit = tr.span("sources.PageSynth") {
    edgeList.write.parquet(dir.resolve("edges").toString)
  }

  def prepare(dir: Path): Unit = {
    input = read(dir.resolve("edges"))
    edges = input.count()
  }

  def job(no: Int): JobOut = {
    val storeDir = ctx.fresh(s"store/$no")
    val ck = if (cfg.ckptEvery > 0) Some(new TracedCheckpointer(new IcebergLikeStore(spark, storeDir.toString), tr)) else None
    val res = tr.span("graph.PageRank") {
      PageRank.run(spark, input, cfg, ck.getOrElse(PageRank.NoopCheckpointer))
    }
    val skew = res.metrics.map { m =>
      val rows = m.partStats.map(_.rows.toDouble)
      if (rows.isEmpty || rows.sum == 0) 1.0 else rows.max / (rows.sum / rows.size)
    }
    val facts = Map(
      "graph.PageRank.supersteps" -> res.iterations.toDouble,
      "graph.PageRank.part_rows.max_over_mean" -> Stats.median(skew),
      "graph.Salting.hub_count" -> res.hubCount.toDouble,
      "graph.Salting.hub_threshold" -> res.hubThreshold.toDouble,
      "ckpt.IcebergLikeStore.saves" -> ck.fold(0.0)(_.saves.toDouble),
      "ckpt.IcebergLikeStore.bytes_written" -> ck.fold(0.0)(_.bytes.toDouble))
    JobOut(facts, res.metrics.map(_.wallMs), () => {
      try {
        val rows = res.ranks.select("vid", "rank").collect()
        guard(res, rows.length.toLong)
        if (firstSupersteps < 0) firstSupersteps = res.iterations
        check(res.iterations == firstSupersteps,
          s"supersteps changed between jobs: $firstSupersteps then ${res.iterations}")
        val total = rows.map(_.getDouble(1)).sum
        check(math.abs(total - 1.0) <= 1e-9, s"ranks sum to $total, not 1")
        val t0 = System.nanoTime()
        val (want, l1) = Reference.powerIteration(graph, res.iterations, cfg.damping)
        baselineSeconds = (System.nanoTime() - t0) / 1e9
        if (cfg.eps > 0) check(l1.last < cfg.eps && (l1.length < 2 || l1(l1.length - 2) >= cfg.eps),
          s"engine stopped after ${res.iterations} supersteps; reference L1 trail ${l1.takeRight(2).mkString(",")}")
        check(rows.length == graph.n, s"${rows.length} ranked vertices, reference has ${graph.n}")
        rows.foreach { r =>
          val i = graph.idx(r.getLong(0))
          check(i >= 0, s"vertex ${r.getLong(0)} not in the edge list")
          val (got, exp) = (r.getDouble(1), want(i))
          check(math.abs(got - exp) <= 1e-12 + 1e-6 * math.abs(exp),
            s"rank of ${r.getLong(0)}: engine $got, reference $exp")
        }
      } finally {
        GraphOps.freeCheckpoint(res.ranks)
        Main.deleteTree(storeDir)
      }
    })
  }
}

/** North-star job: PageRank to L1 < 1e-6 in the shuffle-hash regime, with
  * an IcebergLikeStore checkpoint every 5 supersteps. */
final class PrWeb(ctx: Ctx) extends PageRankWorkload(ctx) {
  import ctx._
  // 4 partitions pinned: below 200k edges PageRank would right-size the
  // iteration to fewer, and the superstep would not be the co-partitioned join
  val cfg = PageRankConfig(eps = 1e-6, ckptEvery = 5, numPartitions = 4,
    broadcastMaxRows = size("broadcastMaxRows"))
  def edgeList: DataFrame = PageSynth.edgeList(spark, pages, seed).toDF()
  def guard(res: PageRankResult, vertices: Long): Unit = {
    check(res.hubCount == 0, s"pr-web salted ${res.hubCount} hubs; it must bypass salting")
    check(vertices > cfg.broadcastMaxRows,
      s"pr-web has $vertices vertices, not above the ${cfg.broadcastMaxRows}-row broadcast crossover")
  }
}

/** Hub out-degree skew: 4 hubs whose out-edges cross the salting threshold;
  * fixed 20 supersteps, no durable checkpoint. */
final class HubSkew(ctx: Ctx) extends PageRankWorkload(ctx) {
  import ctx._
  val cfg = PageRankConfig(eps = 0.0, maxIter = 20, ckptEvery = 0)
  def edgeList: DataFrame = PageSynth.edgeListWithHubOut(spark, pages, size("hubOut").toInt, seed).toDF()
  def guard(res: PageRankResult, vertices: Long): Unit =
    check(res.hubCount > 0, s"hub-skew salted no hub (threshold ${res.hubThreshold})")
}

/** Crawl ingest: HTML extraction, edge derivation, an edge-table commit,
  * then connected components, label propagation and triangle count. */
final class CrawlGraph(ctx: Ctx) extends Workload(ctx) {
  import ctx._
  def pages: Long = size("pages")
  private var input: DataFrame = _
  private var lpDigest: String = _

  /** distinct non-self links the generator put into the html */
  private lazy val expectedEdges: Long = {
    val hubs = PageSynth.hubIds(pages, 4)
    (0L until pages).iterator.map(id => PageSynth.targets(id, pages, seed, hubs).distinct.size.toLong).sum
  }

  def generate(dir: Path): Unit = tr.span("sources.PageSynth") {
    PageSynth.pages(spark, pages, seed).write.parquet(dir.resolve("pages").toString)
  }

  def prepare(dir: Path): Unit = input = read(dir.resolve("pages"))

  def job(no: Int): JobOut = {
    val html = tr.span("functions.Html") {
      input.select(Html.extract_text(col("html")).as("t"), col("text"),
          functions.size(Html.extract_outlinks(col("html"))).as("k"))
        .agg(sum(when(col("t") =!= col("text"), 1L).otherwise(0L)), sum(col("k")))
        .first()
    }
    val (e, nEdges) = tr.span("graph.GraphOps.edgesFromPages") {
      val e = GraphOps.edgesFromPages(input).persist(StorageLevel.MEMORY_AND_DISK)
      (e, e.count())
    }
    edges = nEdges
    val storeDir = ctx.fresh(s"store/$no")
    tr.span("ckpt.IcebergLikeStore.commit") {
      new IcebergLikeStore(spark, storeDir.toString).commit("edges", e)
    }
    val (cc, nComp) = tr.span("graph.ConnectedComponents") {
      val l = ConnectedComponents.run(spark, e)
      (l, l.select(countDistinct("label")).first().getLong(0))
    }
    val (lp, nLabels) = tr.span("graph.LabelPropagation") {
      // capped at 10 iterations (q_lp's cap): uncapped, a seed's graph either
      // converges in ~12 iterations or 2-cycles to the default cap of 20,
      // and job_s would split into two modes by seed
      val l = LabelPropagation.run(spark, e, maxIter = 10)
      (l, l.select(countDistinct("label")).first().getLong(0))
    }
    val tri = tr.span("graph.Triangles") { Triangles.countTriangles(spark, e) }
    val facts = Map(
      "graph.GraphOps.edges" -> nEdges.toDouble,
      "graph.ConnectedComponents.components" -> nComp.toDouble,
      "graph.LabelPropagation.labels" -> nLabels.toDouble,
      "graph.Triangles.triangles" -> tri.toDouble)
    JobOut(facts, Nil, () => {
      try {
        check(html.getLong(0) == 0, s"${html.getLong(0)} pages extract to a different text")
        check(nEdges == expectedEdges, s"$nEdges edges, the generator wrote $expectedEdges links")
        val er = e.select("src", "dst").collect()
        val g = new Reference.Indexed(er.map(_.getLong(0)), er.map(_.getLong(1)))
        check(g.n < 500000, s"crawl-graph has ${g.n} vertices; it must stay below the broadcast crossover")
        val want = Reference.components(g)
        val got = cc.collect()
        check(got.length == g.n, s"${got.length} labelled vertices, reference has ${g.n}")
        got.foreach { r =>
          check(want(g.idx(r.getLong(0))) == r.getLong(1),
            s"component of ${r.getLong(0)}: engine ${r.getLong(1)}, union-find ${want(g.idx(r.getLong(0)))}")
        }
        val wantTri = Reference.triangles(g)
        check(tri == wantTri, s"$tri triangles, sequential count $wantTri")
        val d = Reference.digest(lp.collect().iterator.map(_.toString))
        if (lpDigest == null) lpDigest = d
        check(d == lpDigest, "label propagation labels changed between jobs")
      } finally {
        e.unpersist(false)
        GraphOps.freeCheckpoint(cc)
        GraphOps.freeCheckpoint(lp)
        Main.deleteTree(storeDir)
      }
    })
  }
}

final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

/** The 24 iterative SparkEntry queries over a generated documents table:
  * per-job scheduling and planning cost more than per-edge work here. */
object DocGraphDrivers {
  val Queries: Seq[String] = Seq(
    "q_pr_iter3", "q_ppr_iter3", "q_hits_iter2", "q_salsa_iter2", "q_bfs_iter4",
    "q_sssp_iter4", "q_katz_iter3", "q_mis_iter3", "q_color_iter4", "q_match_iter3",
    "q_landmark4", "q_kcore3_iter3", "q_wpr_iter2", "q_cc_iter2", "q_lp_iter2",
    "q_pagerank", "q_cc", "q_cc_alt", "q_lp", "q_scc", "q_topo_iter6", "q_wl_iter3",
    "q_triangles", "q_truss3_iter2")
}

final class DocGraphDrivers(ctx: Ctx) extends Workload(ctx) {
  import ctx._
  import DocGraphDrivers.Queries
  /** the seed moves the graph: doc i links to (i·2654435761 + 97j + 13) mod n */
  val pages: Long = size("docs") + Math.floorMod(seed, 50L)
  private val fns = SparkEntry.queries
  private var dir: Path = _
  /** first job's rows and digests: the oracle-checked reference */
  private var reference: Map[String, (Array[Row], org.apache.spark.sql.types.StructType, String)] = _

  def generate(out: Path): Unit = tr.span("sources.PageSynth") {
    import spark.implicits._
    val (n, s) = (pages, seed)
    val hubs = PageSynth.hubIds(n, 4)
    val tmp = out.resolve("documents.tmp")
    spark.range(0, n, 1, 4).map { id =>
      val p = PageSynth.page(id, n, s, 97, hubs)
      Doc(id, p.text, p.lang, s"src${id % 20}", p.text.length.toLong)
    }.coalesce(1).write.parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, out.resolve("documents.parquet"))
    Main.deleteTree(tmp)
  }

  def prepare(out: Path): Unit = {
    dir = out
    edges = DocGraph.edges(spark, dir.toString).count()
  }

  def job(no: Int): JobOut = {
    val results = Queries.map { q =>
      val r = tr.span(s"SparkEntry.$q") {
        val df = tr.span("SparkEntry.build") { fns(q)(spark, dir.toString) }
        if (tr.active) tr.span("SparkEntry.plan") { df.queryExecution.executedPlan }
        val rows = tr.span("SparkEntry.exec") { df.collect() }
        (q, rows, df.schema)
      }
      spark.catalog.clearCache()
      r
    }
    JobOut(Map.empty, Nil, () => {
      val got = results.map { case (q, rows, schema) =>
        q -> (rows, schema, Reference.digest(rows.iterator.map(_.toString)))
      }.toMap
      if (reference == null) reference = got
      Queries.foreach { q =>
        check(got(q)._3 == reference(q)._3, s"$q returned different rows than the first job")
      }
    })
  }

  /** Write the reference rows and their DuckDB oracle SQL for the
    * once-per-run oracle check (same layout as graft.Verify's dump). */
  override def finish(): Unit = if (reference != null) {
    val out = work.resolve("oracle")
    Queries.foreach { q =>
      val (rows, schema, _) = reference(q)
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(q).toString)
    }
    val sql = Queries.map(q => Json.str(q) + ":" + Json.str(SparkEntry.oracleSql(q)))
    Files.writeString(out.resolve("oracle_sql.json"), sql.mkString("{", ",", "}"))
    Files.writeString(work.resolve("oracle_inputs"), dir.toString)
  }
}
