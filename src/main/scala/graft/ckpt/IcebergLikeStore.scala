package graft.ckpt

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.graph.{IterMetrics, PageRank}

/** One data file of a snapshot (name + size — the file-level lineage stat).
  * NOTE: a bare `Seq[Long]` field would lose its element type to erasure in
  * the Jackson round-trip (ints box as Integer); typed fields on a case class
  * deserialize exactly, hence this wrapper. */
final case class FileMeta(name: String, bytes: Long)

/** One committed table snapshot (the unit of lineage / resume).
  * `formatVersion` history: 1 = files as bare name strings, IterMetrics
  * without partStats; 2 = FileMeta entries + partStats. The reader accepts
  * both (legacy checkpoint roots stay resumable); the writer always emits the
  * current version. */
final case class SnapshotMeta(
    snapshotId: Long,
    parentId: Long,            // -1 for the first snapshot
    table: String,
    dataDir: String,
    files: Seq[FileMeta],
    iter: Int,                 // superstep the snapshot belongs to (-1 if n/a)
    metrics: Seq[IterMetrics], // per-iteration history up to `iter` (incl. partStats)
    committedAtMs: Long,
    formatVersion: Int = IcebergLikeStore.FormatVersion)

object IcebergLikeStore {
  val FormatVersion: Int = 2
}

/**
 * S3/S4 — Iceberg-style table store (SURVEY.md §2.1): Parquet data files plus
 * a JSON snapshot/manifest layer providing the Iceberg semantics the north
 * rule exercises — atomic snapshot commit, snapshot lineage (parent chain),
 * per-snapshot file manifests, and resume-from-snapshot — behind a narrow
 * interface so a real Iceberg catalog drops in when a runtime jar is
 * available (none exists in this offline environment; documented divergence).
 *
 * Layout under `root`:
 * {{{
 *   <table>/data/snap-<id>/part-*.parquet     immutable data files
 *   <table>/metadata/snap-<id>.json           manifest (files + lineage + metrics)
 *   <table>/metadata/current                  pointer file, atomically replaced
 * }}}
 *
 * Commit protocol: write data, write manifest, then ATOMIC_MOVE a temp
 * pointer over `current` — readers see either the old or the new snapshot,
 * never a partial one. (On an object store this last step would be a catalog
 * swap; the interface is unchanged.)
 */
class IcebergLikeStore(spark: SparkSession, root: String) {

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  // a SAME-version manifest carrying an extra field (a newer build that did
  // not bump FormatVersion) must degrade to ignoring it, not throw and make
  // the checkpoint root unreadable — unknown-field tolerance is the whole
  // point of the versioned-manifest scheme
  mapper.configure(
    com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  private def tableDir(table: String): Path = Paths.get(root, table)
  private def metaDir(table: String): Path  = tableDir(table).resolve("metadata")

  def currentSnapshotId(table: String): Option[Long] = {
    val cur = metaDir(table).resolve("current")
    if (Files.exists(cur)) Some(new String(Files.readAllBytes(cur), StandardCharsets.UTF_8).trim.toLong)
    else None
  }

  /** Version-aware manifest reader. Current-version manifests go through
    * Jackson databind — the same layer the writer uses, so a field added to
    * SnapshotMeta/IterMetrics/PartStat round-trips instead of being silently
    * defaulted by a hand-rolled parser that never learned it. Only v1
    * manifests (file names as bare strings, metrics without partStats, no
    * version field) take the tolerant field-by-field tree parse — legacy
    * checkpoint roots stay resumable. */
  def snapshotMeta(table: String, id: Long): SnapshotMeta = {
    val f = metaDir(table).resolve(s"snap-$id.json").toFile
    val n = mapper.readTree(f)
    // EXACTLY the current version goes through strict databind; v1 AND any
    // future version (a newer build's manifest read after rollback) take the
    // tolerant tree parse — strict databind on unknown versions would throw
    // on their added fields and make the checkpoint root unreadable
    if (n.path("formatVersion").asInt(1) == IcebergLikeStore.FormatVersion)
      return mapper.readValue(f, classOf[SnapshotMeta])
    val dataDir = n.path("dataDir").asText()
    val files = n.path("files").elements().asScala.map { f =>
      if (f.isTextual) { // v1: names only — recover sizes from disk when present
        val p = Paths.get(dataDir).resolve(f.asText())
        FileMeta(f.asText(), if (Files.exists(p)) Files.size(p) else -1L)
      } else FileMeta(f.path("name").asText(), f.path("bytes").asLong(-1L))
    }.toSeq
    val metrics = n.path("metrics").elements().asScala.map { m =>
      IterMetrics(
        m.path("iter").asInt(), m.path("l1").asDouble(),
        m.path("danglingMass").asDouble(), m.path("edgesProcessed").asLong(),
        m.path("wallMs").asLong(),
        m.path("partStats").elements().asScala // v1: absent → empty
          .map(p => graft.graph.PartStat(p.path("pid").asInt(), p.path("rows").asLong()))
          .toSeq)
    }.toSeq
    SnapshotMeta(
      n.path("snapshotId").asLong(), n.path("parentId").asLong(-1L),
      n.path("table").asText(table), dataDir, files, n.path("iter").asInt(-1),
      metrics, n.path("committedAtMs").asLong(),
      n.path("formatVersion").asInt(1)) // v1 manifests carry no version field
  }

  def currentSnapshot(table: String): Option[SnapshotMeta] =
    currentSnapshotId(table).map(snapshotMeta(table, _))

  /** Full lineage, newest first, following parent pointers. */
  def history(table: String): Seq[SnapshotMeta] = {
    Iterator.iterate(currentSnapshot(table)) {
      case Some(m) if m.parentId >= 0 => Some(snapshotMeta(table, m.parentId))
      case _ => None
    }.takeWhile(_.isDefined).flatten.toSeq
  }

  /** Atomic snapshot commit; returns the new snapshot's metadata.
    * Single-writer assumption: the ATOMIC_MOVE pointer swap protects readers
    * from partial states, but two concurrent committers could both compute
    * the same child id — this store is a per-driver checkpoint log, not a
    * multi-writer catalog (a real Iceberg catalog adds the CAS there). */
  def commit(table: String, df: DataFrame, iter: Int = -1,
             metrics: Seq[IterMetrics] = Nil): SnapshotMeta = {
    val parent = currentSnapshotId(table).getOrElse(-1L)
    val id     = parent + 1
    val dataDir = tableDir(table).resolve("data").resolve(s"snap-$id")
    Files.createDirectories(metaDir(table))
    df.write.mode("overwrite").parquet(dataDir.toString)
    val files = {
      val s = Files.list(dataDir)
      try s.iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq.sorted
      finally s.close()
    }
    val fileMetas = files.map(f => FileMeta(f, Files.size(dataDir.resolve(f))))
    val meta = SnapshotMeta(id, parent, table, dataDir.toString, fileMetas,
      iter, metrics, System.currentTimeMillis())
    mapper.writerWithDefaultPrettyPrinter()
      .writeValue(metaDir(table).resolve(s"snap-$id.json").toFile, meta)
    val tmp = metaDir(table).resolve(s".current.tmp-$id")
    Files.write(tmp, id.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, metaDir(table).resolve("current"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    meta
  }

  /**
   * Small-file compaction: rewrite the CURRENT snapshot's rows into
   * `targetFiles` files and commit them as a NEW snapshot, carrying the
   * iter/metrics lineage forward. Compaction is a lineage EVENT, not a
   * history rewrite — time travel to the pre-compaction snapshot keeps
   * working, and the parent pointer records what was compacted. This is
   * the operational answer to superstep checkpoints accreting
   * one-file-per-partition at high widths (the classic lakehouse
   * small-file problem — cf. Iceberg's rewrite_data_files): readers of the
   * compacted snapshot open `targetFiles` handles instead of hundreds.
   */
  def compact(table: String, targetFiles: Int): SnapshotMeta = {
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    val cur = currentSnapshot(table)
      .getOrElse(throw new IllegalStateException(s"no snapshot to compact for $table"))
    commit(table, read(table, Some(cur.snapshotId)).repartition(targetFiles),
      cur.iter, cur.metrics)
  }

  /** Read the current snapshot of a table (or a specific snapshot id — time travel). */
  def read(table: String, snapshotId: Option[Long] = None): DataFrame = {
    val meta = snapshotId.map(snapshotMeta(table, _))
      .orElse(currentSnapshot(table))
      .getOrElse(throw new IllegalStateException(s"no snapshot for table $table"))
    spark.read.parquet(meta.dataDir)
  }

  /** PageRank-facing checkpointer over the `ranks` table of this store. */
  def rankCheckpointer(table: String = "ranks"): PageRank.Checkpointer =
    new PageRank.Checkpointer {
      def save(iter: Int, ranks: DataFrame, metrics: Seq[IterMetrics]): DataFrame = {
        val meta = commit(table, ranks, iter, metrics)
        // the written schema is known, so the read-back infers none (a job)
        spark.read.schema(ranks.schema).parquet(meta.dataDir)
      }
      def latest(): Option[(Int, DataFrame, Seq[IterMetrics])] =
        currentSnapshot(table).map(m => (m.iter, read(table, Some(m.snapshotId)), m.metrics))
    }
}
