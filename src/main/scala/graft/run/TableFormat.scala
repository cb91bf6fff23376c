package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table-format seam (SURVEY §7.5.1): the engine processes input in
  * SNAPSHOTS with per-snapshot commits. The north rule names Iceberg;
  * this sandbox has no Iceberg runtime jar (offline), so the shipped
  * implementation is [[ParquetSnapshotTable]] over the [[SnapshotLedger]]
  * manifest directory. The trait is exactly the surface an Iceberg-backed
  * implementation fills in:
  *
  * | here                    | Iceberg                                   |
  * |-------------------------|-------------------------------------------|
  * | `Snapshot.id`           | snapshot-id                               |
  * | `Snapshot.files`        | manifest → data files                     |
  * | `read(snapshot)`        | `spark.read.option("snapshot-id", …)`     |
  * | ledger commit markers   | consumer-side watermark table             |
  *
  * Swapping in Iceberg changes ONLY this seam — Pipeline/router/operators
  * are format-agnostic DataFrame transforms.
  */
trait SnapshotTable {
  def snapshots: Seq[Snapshot]
  def read(spark: SparkSession, snapshot: Snapshot): DataFrame
}

/** Parquet + manifest-ledger implementation (the offline default). */
final class ParquetSnapshotTable(ledger: SnapshotLedger) extends SnapshotTable {
  override def snapshots: Seq[Snapshot] = ledger.snapshots
  override def read(spark: SparkSession, snapshot: Snapshot): DataFrame =
    spark.read.parquet(snapshot.files: _*)
}
