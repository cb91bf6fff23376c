package graft.run

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization

/** Snapshot ledger — the Iceberg-snapshot emulation (SURVEY §7.5.1).
  *
  * The north rule targets Iceberg tables; this sandbox has no Iceberg
  * runtime jar, so the snapshot/commit surface is reproduced over plain
  * parquet with a deterministic manifest directory:
  *
  * {{{
  *   <root>/_snapshots/snap-<id>.json       — files of input snapshot <id>
  *   <root>/_commits/<sink>/snap-<id>.json  — sink committed snapshot <id>
  * }}}
  *
  * Semantics mirrored from Iceberg's snapshot ids + the reference's tail
  * offset checkpoint (`plugins/in_tail/tail_db.c:91-145`): processing
  * state is (snapshot → committed per sink); a killed run resumes by
  * skipping every (sink, snapshot) with a commit marker, and output writes
  * are idempotent (overwrite-by-snapshot-directory) so a crash BETWEEN
  * write and commit re-writes the same bytes. Commit markers are written
  * atomically (tmp + rename) and carry the per-partition lineage + sink
  * aggregates, so the marker doubles as the audit record.
  */
final case class Snapshot(id: Long, files: Seq[String])

final case class SinkCommit(
    sink: String,
    snapshotId: Long,
    rows: Long,
    sumNTok: Long,
    // lineage: per (input file, partition) row counts — "which byte ranges
    // produced this output" at file/partition granularity
    lineage: Seq[LineageEntry])

final case class LineageEntry(inputFile: String, partitionId: Int, rows: Long)

class SnapshotLedger(val root: String) {
  private implicit val fmts: Formats = DefaultFormats

  private def snapDir: Path = Paths.get(root, "_snapshots")
  private def commitDir(sink: String): Path = Paths.get(root, "_commits", sink)

  def init(): this.type = { Files.createDirectories(snapDir); this }

  /** Register snapshots (input file groups). Idempotent per id. */
  def writeSnapshot(s: Snapshot): Unit = {
    Files.createDirectories(snapDir)
    atomicWrite(snapDir.resolve(f"snap-${s.id}%05d.json"), Serialization.write(s))
  }

  def snapshots: Seq[Snapshot] =
    if (!Files.isDirectory(snapDir)) Seq.empty
    else Files.list(snapDir).iterator.asScala
      .filter(_.getFileName.toString.startsWith("snap-"))
      .map(p => JsonMethods.parse(Files.readString(p)).extract[Snapshot])
      .toSeq.sortBy(_.id)

  def committed(sink: String): Set[Long] = {
    val d = commitDir(sink)
    if (!Files.isDirectory(d)) Set.empty
    else Files.list(d).iterator.asScala
      .map(_.getFileName.toString)
      .collect { case n if n.startsWith("snap-") && n.endsWith(".json") =>
        n.stripPrefix("snap-").stripSuffix(".json").toLong }
      .toSet
  }

  /** Pending = registered snapshots not yet committed by EVERY sink. */
  def pending(sinks: Seq[String]): Seq[Snapshot] = {
    val done = sinks.map(committed).reduceOption(_ intersect _).getOrElse(Set.empty)
    snapshots.filterNot(s => done.contains(s.id))
  }

  def commit(c: SinkCommit): Unit = {
    Files.createDirectories(commitDir(c.sink))
    atomicWrite(commitDir(c.sink).resolve(f"snap-${c.snapshotId}%05d.json"),
      Serialization.write(c))
  }

  /** A sink's commit marker for one snapshot, as [[commit]] wrote it
    * (spec cross-check).
    */
  private[graft] def readCommit(sink: String, snapshotId: Long): Option[SinkCommit] = {
    val p = commitDir(sink).resolve(f"snap-$snapshotId%05d.json")
    if (Files.exists(p)) Some(JsonMethods.parse(Files.readString(p)).extract[SinkCommit])
    else None
  }

  /** Crash-safe file write: tmp in the same directory + atomic rename. */
  private def atomicWrite(target: Path, content: String): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}
