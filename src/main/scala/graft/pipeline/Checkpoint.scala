package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** P6 — checkpoint / lineage layer (SURVEY.md §7.3 "ParquetManifest").
  *
  * Iceberg is not on the sandbox classpath, so this emulates the snapshot
  * semantics the north rule needs on plain partitioned Parquet: each
  * completed sink write commits an entry {rows, files} into a JSON manifest
  * that is replaced atomically (tmp + ATOMIC_MOVE). A re-run with the same
  * `inputFingerprint` skips committed sinks — resume-from-snapshot without
  * duplicate rows. The file list doubles as per-partition lineage.
  * The pipeline only calls `isCommitted`/`commitSink`, so an Iceberg
  * backend would replace these members with a table commit and a
  * snapshot-summary lookup keyed by the input fingerprint.
  */
final class Checkpoint(outDir: String, inputFingerprint: String) {
  import Checkpoint.SinkCommit

  private val manifestPath: Path = Paths.get(outDir, "_manifest.json")

  /** snapshotId increments on every commit — monotonically, like an Iceberg
    * snapshot lineage.
    */
  @volatile private var snapshotId: Long = 0L
  private var committed: Map[String, SinkCommit] = Map.empty

  load()

  private def load(): Unit = {
    if (!Files.exists(manifestPath)) return
    val txt = new String(Files.readAllBytes(manifestPath), StandardCharsets.UTF_8)
    // minimal JSON reader for the manifest we write ourselves
    val fpr = """"fingerprint"\s*:\s*"([^"]*)"""".r
    val fp = fpr.findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
    if (fp != inputFingerprint) return // different input → start fresh
    snapshotId = """"snapshot_id"\s*:\s*(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toLong).getOrElse(0L)
    val sinkRe = """\{"sink":"([^"]+)","rows":(\d+),"files":\[([^\]]*)\]\}""".r
    committed = sinkRe.findAllMatchIn(txt).map { m =>
      val files = m.group(3).split(",").toSeq.filter(_.nonEmpty).map(_.stripPrefix("\"").stripSuffix("\""))
      m.group(1) -> SinkCommit(m.group(2).toLong, files)
    }.toMap
  }

  def isCommitted(sink: String): Boolean = committed.contains(sink)
  def committedRows(sink: String): Option[Long] = committed.get(sink).map(_.rows)
  def currentSnapshotId: Long = snapshotId

  /** Record a completed sink write; lists the sink's parquet part files as
    * its lineage and atomically replaces the manifest.
    */
  def commitSink(sink: String, rows: Long): Unit = synchronized {
    val dir = Paths.get(outDir, s"category=$sink")
    val files: Seq[String] =
      if (Files.exists(dir)) {
        val s = Files.list(dir)
        try s.iterator.asScala
          .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq.sorted
        finally s.close()
      } else Seq.empty
    committed = committed + (sink -> SinkCommit(rows, files))
    snapshotId += 1
    save()
  }

  private def save(): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val sinks = committed.toSeq.sortBy(_._1).map { case (s, c) =>
      s"""{"sink":${q(s)},"rows":${c.rows},"files":[${c.files.map(q).mkString(",")}]}"""
    }.mkString("[", ",", "]")
    val json =
      s"""{"fingerprint":${q(inputFingerprint)},"snapshot_id":$snapshotId,"sinks":$sinks}"""
    Files.createDirectories(manifestPath.getParent)
    val tmp = manifestPath.resolveSibling("_manifest.json.tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestPath, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}

object Checkpoint {
  final case class SinkCommit(rows: Long, files: Seq[String])
}
