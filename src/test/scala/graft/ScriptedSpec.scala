package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Scripted
import graft.run.{ParquetSnapshotTable, Snapshot, SnapshotLedger}

case class Rec(tag: String, msg: String, n: Long)

class ScriptedSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("scripted filter: drop / keep / replace protocol (lua.c:330-393)") {
    val ds = Seq(
      Rec("a", "drop me", 1), Rec("b", "keep", 2), Rec("c", "rewrite", 3)
    ).toDS()
    val out = Scripted[Rec] {
      case r if r.msg == "drop me" => Scripted.Drop
      case r if r.msg == "rewrite" => Scripted.Replace(r.copy(n = r.n * 100))
      case _                       => Scripted.Keep
    }(ds).collect().toSet
    assert(out == Set(Rec("b", "keep", 2), Rec("c", "rewrite", 300)))
  }

  test("SnapshotTable seam: ParquetSnapshotTable reads per-snapshot, incremental since id") {
    val root = java.nio.file.Files.createTempDirectory("graft-st").toString
    val ledger = new SnapshotLedger(root).init()
    (0 to 2).foreach { i =>
      spark.range(i * 10, i * 10 + 10).toDF("v")
        .write.mode("overwrite").parquet(s"$root/s$i")
      ledger.writeSnapshot(Snapshot(i.toLong, Seq(s"$root/s$i")))
    }
    val table = new ParquetSnapshotTable(ledger)
    assert(table.snapshots.map(_.id) == Seq(0L, 1L, 2L))
    assert(table.read(spark, table.snapshots(1)).count() == 10)
  }
}
