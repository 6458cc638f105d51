package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    v.toString
  }
}

/** One timed job as the run saw it; `load`/`stealPct` are contention
  * context only. */
final case class JobRec(no: Int, traced: Boolean, seconds: Double, ok: Boolean,
                        load: String, stealPct: Double, gcSeconds: Double, out: Option[JobOut]) {
  def json: String =
    s"""{"job":$no,"traced":$traced,"seconds":${Json.num(seconds)},"ok":$ok,""" +
      s""""loadavg":${Json.str(load)},"steal_pct":${Json.num(stealPct)},"gc_s":${Json.num(gcSeconds)},""" +
      s""""facts":${out.fold(Map.empty[String, Double])(_.facts).map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")},""" +
      s""""superstep_ms":[${out.fold(Seq.empty[Long])(_.superstepMs).mkString(",")}]}"""
}

/**
 * Link-graph benchmark harness: one workload, one JVM, `local[4]` with 4
 * shuffle partitions. Sets up (inputs generated three times, median kept,
 * then one untimed warm-up job), then runs timed jobs until `--seconds` of
 * job time have passed, checking every job's output outside the timed
 * region. The warm-up job is the first run of the engine code in the JVM;
 * its JIT and code-generation cost shows in `setup_s`, and the timed jobs
 * run warm. With `--trace 1` odd jobs run traced (spans + listener
 * counters) and even jobs untraced, so the tracing overhead is measured
 * in-run, warm against warm.
 *
 *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
 *                  --work DIR --result FILE [--smoke]
 */
object Main {
  val Cores = 4

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split(" ").take(3).mkString(",")
    catch { case _: Throwable => "" }

  /** /proc/stat cpu line: user nice system idle iowait irq softirq steal … */
  private def jiffies(): Array[Long] =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    catch { case _: Throwable => Array.empty[Long] }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Runs the job's output check; a job that threw or fails its check failed. */
  private def checked(what: String, out: Try[JobOut]): Boolean =
    out.flatMap(o => Try(o.check())) match {
      case Success(_) => true
      case Failure(e) => System.err.println(s"[perfbench] $what failed: $e"); false
    }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--smoke" => opts("smoke") = "1"; i += 1
        case a if a.startsWith("--") => opts(a.drop(2)) = args(i + 1); i += 2
        case a => throw new IllegalArgumentException(s"unexpected argument $a")
      }
    }
    val workload = opts("workload")
    val seed     = opts("seed").toLong
    val seconds  = opts("seconds").toDouble
    val trace    = opts("trace") == "1"
    val smoke    = opts.contains("smoke")
    val work     = Paths.get(opts("work")).toAbsolutePath
    val sizes = (if (smoke) Sizes.smoke else Sizes.full).getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tr  = new Tracer(spark.sparkContext, trace)
    val ctx = new Ctx(spark, tr, work, seed, sizes)
    val w   = Workload(workload, ctx)

    // ---- set-up: inputs generated `reps` times (median kept), one warm-up job ----
    val reps = if (smoke) 1 else 3
    val genSeconds = (1 to reps).map { r =>
      val dir = ctx.fresh(s"input-$r")
      tr.active = trace
      val t0 = System.nanoTime()
      w.generate(dir)
      val s = (System.nanoTime() - t0) / 1e9
      tr.active = false
      if (r < reps) deleteTree(dir)
      s
    }
    w.prepare(work.resolve(s"input-$reps"))
    val warm = System.nanoTime()
    val warmOut = Try(w.job(-1))
    val warmEnd = System.nanoTime()
    val setupEndMs = System.currentTimeMillis()
    // set-up as if the inputs had been generated once, in their median time
    val setupSeconds = (setupEndMs - jvmStartMs) / 1000.0 - (genSeconds.sum - Stats.median(genSeconds))
    val warmOk = checked("warm-up job", warmOut)
    spark.catalog.clearCache()

    // ---- timed jobs ----
    val jobs = mutable.ArrayBuffer[JobRec]()
    // A fixed minimum number of jobs, above what `--seconds` asks for at the
    // listed sizes: jobs still speed up for a few jobs after the warm-up, so
    // a job count that followed the jobs' speed would move job_s by itself
    // whenever a change made the count flip. A traced run brackets its
    // traced job between two untraced ones, which cancels that trend in
    // trace.overhead_share.
    val minJobs = if (trace) 3 else 1
    var timed = 0.0
    var no = 0
    while (no < minJobs || timed < seconds) {
      val traced = trace && no % 2 == 1
      tr.active = traced
      tr.job = no
      val load = loadavg(); val j0 = jiffies(); val gc0 = gcSeconds()
      val t0 = System.nanoTime()
      val out = Try(tr.span("job") { w.job(no) })
      val sec = (System.nanoTime() - t0) / 1e9
      val gc = gcSeconds() - gc0
      val j1 = jiffies()
      tr.active = false
      val steal =
        if (j0.length >= 8 && j1.length >= 8) (j1(7) - j0(7)).toDouble / ((j1.sum - j0.sum).toDouble max 1.0) * 100
        else 0.0
      val c0 = System.nanoTime()
      val ok = checked(s"job $no", out)
      System.err.println(f"[perfbench] job $no: ${sec}%.2f s, check ${(System.nanoTime() - c0) / 1e9}%.2f s")
      jobs += JobRec(no, traced, sec, ok, load, steal, gc, out.toOption)
      spark.catalog.clearCache()
      timed += sec
      no += 1
    }
    w.finish()
    tr.drain()

    val attempted = jobs.size + 1
    val failed = jobs.count(!_.ok) + (if (warmOk) 0 else 1)
    val plain = jobs.filter(j => !j.traced && j.ok)
    val jobS = Stats.median(plain.map(_.seconds).toSeq)
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    if (!trace) {
      val stepMs = plain.flatMap(_.out.toSeq.flatMap(_.superstepMs.map(_.toDouble))).toSeq
      metrics("setup_s") = (setupSeconds, "s")
      metrics("job_s") = (jobS, "s")
      // a run whose every job failed reports correct=false with zero rates
      def per(n: Double, sec: Double) = if (sec > 0) n / sec else 0.0
      metrics("superstep_edges_per_s") =
        (if (stepMs.nonEmpty) per(w.edges, Stats.median(stepMs) / 1000.0) else per(w.edges, jobS), "1/s")
      metrics("pages_per_s") = (per(w.pages, jobS), "1/s")
      metrics("peak_rss_mb") = (peakRssMb(), "MB")
    } else {
      val traced = jobs.filter(j => j.traced && j.ok).toSeq
      Layers.perLayer(tr, traced, w, Stats.median(genSeconds), Cores).foreach { case (k, v) => metrics(k) = v }
      val tracedS = Stats.median(traced.map(_.seconds))
      metrics("trace.overhead_share") = (if (jobS > 0) tracedS / jobS - 1.0 else 0.0, "ratio")
    }

    val record = new StringBuilder
    record ++= s"""{"workload":${Json.str(workload)},"seed":$seed,"trace":$trace,"smoke":$smoke,"""
    record ++= s""""correct":${failed == 0},"attempted":$attempted,"failed":$failed,"""
    record ++= s""""failed_share":${Json.num(failed.toDouble / attempted)},"""
    record ++= s""""sizes":${sizes.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")},"""
    record ++= s""""edges":${w.edges},"pages":${w.pages},"generate_s":[${genSeconds.map(Json.num).mkString(",")}],"""
    record ++= s""""warmup_s":${Json.num((warmEnd - warm) / 1e9)},"jobs":[${jobs.map(_.json).mkString(",")}],"""
    record ++= s""""metrics":${metrics.map { case (k, (v, u)) =>
      Json.str(k) + ":{\"value\":" + Json.num(v) + ",\"unit\":" + Json.str(u) + "}" }.mkString("{", ",", "}")}}"""
    Files.writeString(Paths.get(opts("result")), record.toString)
    if (trace) Files.write(work.resolve("spans.jsonl"), tr.toJsonLines.toSeq.asJava)
    spark.stop()
  }
}
