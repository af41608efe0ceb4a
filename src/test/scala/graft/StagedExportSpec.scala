package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.export.StagedExport
import graft.operators.Normalizer
import graft.queries.EraQueries

/** The staged fan-out must be a pure execution-shape change: every
  * table's contents and count equal the per-table reference computed
  * straight from the decoded blocks, and each table's stage scan must be
  * NESTED-SCHEMA-PRUNED to its own body child — the property that makes
  * the stage shape the 100 TB one (a tiny table's job reads only its own
  * column chunks, not the corpus). */
class StagedExportSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("staged export equals the per-table reference table-for-table") {
    val blocks = EraQueries.blocks(spark)
    val stagedDir = java.nio.file.Files.createTempDirectory("graft-staged").toString
    val stage = java.nio.file.Files.createTempDirectory("graft-stage").toString
    val staged = StagedExport.exportAll(blocks, s"$stage/blocks",
      s"$stagedDir/out.parquet")
    assert(staged.keySet === Normalizer.datasetNames.toSet)
    staged.foreach { case (n, (rows, _)) =>
      assert(rows === Normalizer.dataset(blocks, n).count(), s"$n row count differs")
    }
    Normalizer.datasetNames.foreach { t =>
      val a = Normalizer.dataset(blocks, t)
        .collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))
      val b = spark.read.parquet(s"$stagedDir/out_$t.parquet")
        .collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))
      assert(a === b, s"$t contents differ between the reference and staged export")
    }
  }

  test("a child table's stage scan is pruned to its own body field") {
    val stage = java.nio.file.Files.createTempDirectory("graft-stage-prune").toString
    EraQueries.blocks(spark).toDF().coalesce(4)
      .write.mode("overwrite").parquet(stage)
    val staged = StagedExport.readStage(spark, stage)
    val scans = Normalizer.deposits(staged)
      .queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
    assert(scans.nonEmpty)
    val read = scans.map(_.requiredSchema.catalogString).mkString(";")
    assert(read.contains("deposits"), read)
    assert(!read.contains("attestations"),
      s"deposits scan reads the attestations column — nested pruning broken: $read")
    assert(!read.contains("transactions"),
      s"deposits scan reads the payload transactions column: $read")
  }
}
