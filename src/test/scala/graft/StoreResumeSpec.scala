package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.ckpt.IcebergLikeStore
import graft.graph._
import graft.sources.PageSynth

/**
 * M1 acceptance (SURVEY.md §7.1): snapshot commit atomicity/lineage and
 * mid-iteration resume — an interrupted PageRank run continued from its last
 * durable checkpoint converges to the same ranks as an uninterrupted run
 * (allclose 1e-12; bitwise equality is NOT asserted because parallel
 * floating-point summation order is not deterministic across runs).
 */
class StoreResumeSpec extends SparkSpec {
  import spark.implicits._

  test("snapshot commit + lineage + time travel") {
    val root  = Files.createTempDirectory("graft-store").toString
    val store = new IcebergLikeStore(spark, root)
    store.commit("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    store.commit("t", Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("id", "v"))
    val hist = store.history("t")
    assert(hist.map(_.snapshotId) == Seq(1L, 0L))
    assert(hist.head.parentId == 0L && hist.last.parentId == -1L)
    assert(store.read("t").count() == 3)
    assert(store.read("t", Some(0L)).count() == 2) // time travel
    assert(hist.head.files.nonEmpty)
  }

  test("compaction rewrites files, preserves rows, and keeps time travel intact") {
    val root  = Files.createTempDirectory("graft-store-compact").toString
    val store = new IcebergLikeStore(spark, root)
    val rows  = (1L to 200L).map(i => (i, s"v$i"))
    store.commit("t", rows.toDF("id", "v").repartition(16)) // 16 small files
    val before = store.currentSnapshot("t").get
    assert(before.files.size == 16, s"fixture expected 16 files, got ${before.files.size}")

    val after = store.compact("t", targetFiles = 2)
    assert(after.parentId == before.snapshotId && after.snapshotId == before.snapshotId + 1)
    assert(after.files.size == 2, s"compacted to ${after.files.size} files, wanted 2")
    // same logical rows, exactly
    def rowSet(id: Option[Long]) =
      store.read("t", id).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rowSet(None) == rows.toSet)
    // time travel to the pre-compaction snapshot still works (lineage event,
    // not history rewrite)
    assert(rowSet(Some(before.snapshotId)) == rows.toSet)
    assert(store.history("t").map(_.snapshotId) == Seq(after.snapshotId, before.snapshotId))
  }

  test("v1 (legacy) manifests load tolerantly and stay resumable") {
    // Round-2 changed the manifest schema (files: strings → FileMeta,
    // IterMetrics gained partStats). A checkpoint root written by the old
    // build must still read and resume — hand-write a v1 manifest (no
    // formatVersion field, bare file-name strings, metrics without partStats)
    // over real parquet data and load it through the tolerant reader.
    val root  = Files.createTempDirectory("graft-legacy").toString
    val store = new IcebergLikeStore(spark, root)
    val dataDir = java.nio.file.Paths.get(root, "ranks", "data", "snap-0")
    Seq((1L, 0.5), (2L, 0.5)).toDF("vid", "rank")
      .coalesce(1).write.parquet(dataDir.toString)
    val pq = {
      val s = Files.list(dataDir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSeq.head
      finally s.close()
    }
    val metaDir = java.nio.file.Paths.get(root, "ranks", "metadata")
    Files.createDirectories(metaDir)
    val v1 =
      s"""{"snapshotId":0,"parentId":-1,"table":"ranks","dataDir":"$dataDir",
         |"files":["$pq"],
         |"iter":3,
         |"metrics":[{"iter":3,"l1":0.01,"danglingMass":0.0,"edgesProcessed":2,"wallMs":5}],
         |"committedAtMs":123}""".stripMargin
    Files.write(metaDir.resolve("snap-0.json"),
      v1.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.write(metaDir.resolve("current"),
      "0".getBytes(java.nio.charset.StandardCharsets.UTF_8))

    val meta = store.currentSnapshot("ranks").get
    assert(meta.formatVersion == 1)
    assert(meta.files == Seq(graft.ckpt.FileMeta(pq, Files.size(dataDir.resolve(pq)))))
    assert(meta.metrics.head.partStats.isEmpty) // v1 default, not a crash
    assert(meta.metrics.head.l1 == 0.01 && meta.iter == 3)
    // resume path: latest() reads through the same tolerant reader
    val latest = store.rankCheckpointer("ranks").latest().get
    assert(latest._1 == 3 && latest._2.count() == 2)
    // a fresh commit on the same root upgrades the chain to the current format
    val next = store.commit("ranks", Seq((1L, 0.6), (2L, 0.4)).toDF("vid", "rank"), iter = 4)
    assert(next.formatVersion == IcebergLikeStore.FormatVersion && next.parentId == 0L)
    assert(store.history("ranks").map(_.formatVersion) == Seq(2, 1))
  }

  test("current-version manifests round-trip every field through databind") {
    // Field-drift guard (ADVICE r3): the writer uses Jackson databind, and a
    // current-version manifest must be READ by databind too — a fully
    // populated SnapshotMeta (files with sizes, metrics WITH partStats) has
    // to come back equal, so a future field can't be silently defaulted by a
    // hand-rolled parser that never learned it.
    val root  = Files.createTempDirectory("graft-roundtrip").toString
    val store = new IcebergLikeStore(spark, root)
    val metrics = Seq(
      IterMetrics(0, 0.5, 0.1, 42L, 7L, Seq(PartStat(0, 2L), PartStat(1, 1L))),
      IterMetrics(1, 0.25, 0.05, 42L, 6L, Seq(PartStat(0, 3L))))
    val written = store.commit("rt", Seq((1L, 0.7), (2L, 0.3)).toDF("vid", "rank"),
      iter = 1, metrics = metrics)
    val read = store.snapshotMeta("rt", written.snapshotId)
    assert(read == written, s"manifest round-trip drift:\n  wrote $written\n  read  $read")
    assert(read.metrics == metrics && read.formatVersion == IcebergLikeStore.FormatVersion)
  }

  test("same-version manifest with an unknown extra field degrades gracefully") {
    // ADVICE r4: a newer build that adds a field WITHOUT bumping FormatVersion
    // still routes through databind (version matches) — the mapper must
    // ignore the unknown field instead of throwing and making the checkpoint
    // root unreadable.
    val root  = Files.createTempDirectory("graft-extrafield").toString
    val store = new IcebergLikeStore(spark, root)
    val written = store.commit("xf", Seq((1L, 1.0)).toDF("vid", "rank"), iter = 0)
    val mf = java.nio.file.Paths.get(root, "xf", "metadata", s"snap-${written.snapshotId}.json")
    val json = new String(Files.readAllBytes(mf), java.nio.charset.StandardCharsets.UTF_8)
    val withExtra = json.replaceFirst("\\{", "{\"futureField\":\"v\",")
    Files.write(mf, withExtra.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val read = store.snapshotMeta("xf", written.snapshotId)
    assert(read == written, "unknown same-version field must be ignored, not fatal")
  }

  test("PageRank resumes mid-iteration from durable checkpoint") {
    val pages = PageSynth.pages(spark, 300).toDF()
    val edges = GraphOps.edgesFromPages(pages).persist()
    val e7    = PageSynth.edgeList(spark, 300L, 7L).toDF()
    // both layouts PageRank iterates over: 300 pages run in the broadcast
    // regime (edges laid by dst), and broadcastMaxRows = 0 forces the shuffle
    // regime (edges laid by src)
    for (bmr <- Seq(Superstep.BroadcastMaxRows, 0L)) withClue(s"broadcastMaxRows=$bmr: ") {
      val store = new IcebergLikeStore(spark, Files.createTempDirectory("graft-resume").toString)
      val cfg   = PageRankConfig(eps = 1e-9, maxIter = 40, numPartitions = 4, ckptEvery = 4,
        broadcastMaxRows = bmr)

      // uninterrupted run
      val full = PageRank.run(spark, edges, cfg)

      // interrupted at iter 10, then resumed with the same store
      val part = PageRank.run(spark, edges, cfg.copy(maxIter = 10),
        store.rankCheckpointer("ranks"))
      assert(part.iterations == 10)
      val snap = store.currentSnapshot("ranks").get
      assert(snap.iter == 9 && snap.metrics.length == 10) // last completed superstep
      val resumed = PageRank.run(spark, edges, cfg, store.rankCheckpointer("ranks"))

      assert(resumed.iterations == full.iterations,
        s"resumed=${resumed.iterations} full=${full.iterations}")
      val f = full.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val g = resumed.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(f.keySet == g.keySet)
      f.foreach { case (k, v) => assert(math.abs(g(k) - v) < 1e-12, s"vid=$k") }
      // metrics history covers every superstep exactly once
      assert(resumed.metrics.map(_.iter) == (0 until resumed.iterations))
      // per-partition lineage stats survive the manifest JSON round-trip
      // (SURVEY §2.2; BASELINE.json:6 "per-partition lineage + iteration metrics")
      val resumedSnap = store.currentSnapshot("ranks").get
      assert(resumedSnap.metrics.forall(_.partStats.nonEmpty))
      val nVerts = full.ranks.count()
      assert(resumedSnap.metrics.forall(m => m.partStats.map(_.rows).sum == nVerts))
      assert(resumedSnap.files.nonEmpty && resumedSnap.files.forall(_.bytes > 0))

      // resuming a finished run, stopped at maxIter (above) or on eps, runs no
      // further superstep and commits no second snapshot of the same superstep
      def resumeFinished(e: DataFrame, c: PageRankConfig, st: IcebergLikeStore,
                         done: PageRankResult): Unit = {
        val again = PageRank.run(spark, e, c, st.rankCheckpointer("ranks"))
        assert(again.iterations == done.iterations, s"again=${again.iterations} done=${done.iterations}")
        val want = done.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val got  = again.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        assert(want.keySet == got.keySet)
        want.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-12, s"vid=$k") }
        val iters = st.history("ranks").map(_.iter)
        assert(iters.distinct == iters, s"snapshots by superstep: $iters")
      }
      resumeFinished(edges, cfg, store, full)

      val conv  = PageRankConfig(eps = 1e-6, numPartitions = 4, ckptEvery = 4, broadcastMaxRows = bmr)
      val store7 = new IcebergLikeStore(spark, Files.createTempDirectory("graft-resume-eps").toString)
      val done  = PageRank.run(spark, e7, conv, store7.rankCheckpointer("ranks"))
      assert(done.iterations < conv.maxIter, "the run must stop on eps")
      resumeFinished(e7, conv, store7, done)
    }
    edges.unpersist()
  }

  test("PageRank resumes on the salted path and from a ckptEvery boundary") {
    val edges = GraphOps.edgesFromPages(PageSynth.pages(spark, 300).toDF()).persist()
    val base  = PageRankConfig(eps = 1e-9, maxIter = 40, numPartitions = 4, ckptEvery = 4)
    // salted: interrupted at superstep 10, after the closing save of the
    // interrupted run; boundary: interrupted at superstep 8 = 2 · ckptEvery,
    // where the closing save is skipped and the resume reads the periodic one
    for ((name, cfg, stop, saves) <- Seq(
           ("salted", base.copy(hubDegreeThreshold = 3), 10, Seq(3, 7, 9)),
           ("boundary", base, 8, Seq(3, 7)))) withClue(s"$name: ") {
      val store = new IcebergLikeStore(spark, Files.createTempDirectory("graft-resume").toString)
      val full  = PageRank.run(spark, edges, cfg)
      val part  = PageRank.run(spark, edges, cfg.copy(maxIter = stop), store.rankCheckpointer("ranks"))
      assert(part.iterations == stop)
      val snap = store.currentSnapshot("ranks").get
      assert(snap.iter == stop - 1 && snap.metrics.length == stop)
      assert(store.history("ranks").map(_.iter).sorted == saves)
      val resumed = PageRank.run(spark, edges, cfg, store.rankCheckpointer("ranks"))
      assert(resumed.iterations == full.iterations, s"resumed=${resumed.iterations} full=${full.iterations}")
      assert(resumed.hubCount == full.hubCount && (name != "salted" || full.hubCount > 0),
        s"hubs: resumed=${resumed.hubCount} full=${full.hubCount}")
      val f = full.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val g = resumed.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(f.keySet == g.keySet)
      f.foreach { case (k, v) => assert(math.abs(g(k) - v) < 1e-12, s"vid=$k") }
      assert(resumed.metrics.map(_.iter) == (0 until resumed.iterations))
      Seq(full, part, resumed).foreach(r => GraphOps.freeCheckpoint(r.ranks))
    }
    edges.unpersist()
  }

  test("pages live in the store: extraction reads the committed snapshot") {
    // BASELINE.json:15 input contract — the engine consumes an Iceberg-style
    // `pages` table, not an in-memory DataFrame: commit the synthetic crawl,
    // read the snapshot back, extract edges from it, and match the ranks of
    // the direct (storeless) pipeline.
    val root  = Files.createTempDirectory("graft-pages").toString
    val store = new IcebergLikeStore(spark, root)
    val pages = PageSynth.pages(spark, 300).toDF()
    store.commit("pages", pages)

    val fromStore = store.read("pages")
    assert(fromStore.columns.toSet == Set("url", "warc_ts", "html", "text", "lang"))
    val cfg = PageRankConfig(eps = 1e-9, maxIter = 40, numPartitions = 4, ckptEvery = 0)
    val viaStore = PageRank.run(spark, GraphOps.edgesFromPages(fromStore), cfg)
    val direct   = PageRank.run(spark, GraphOps.edgesFromPages(pages), cfg)
    val a = viaStore.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = direct.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a.keySet == b.keySet && a.nonEmpty)
    a.foreach { case (k, v) => assert(math.abs(b(k) - v) < 1e-12, s"vid=$k") }
  }
}
