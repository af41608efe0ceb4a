package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Normalizer
import graft.queries.EraQueries

/** The concurrent 15-table fan-out must be a pure latency optimization:
  * every table's contents and count, and the SUMMARY, equal the per-table
  * reference computed straight from the decoded blocks. */
class ExportParallelSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("concurrent fan-out equals the per-table reference table-for-table") {
    val blocks = EraQueries.blocks(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-exp-par").toString
    val timed = graft.export.Sinks.exportSeparateFiles(
      Normalizer.allDatasets(blocks), s"$dir/out.parquet")
    assert(timed.keySet === Normalizer.datasetNames.toSet)
    val want = Normalizer.datasetNames.map(t => t -> Normalizer.dataset(blocks, t).count()).toMap
    timed.foreach { case (name, (rows, sec)) =>
      assert(rows === want(name), s"$name row count differs")
      assert(sec > 0.0)
    }
    // value-level equality on every table; total order: sort fully-rendered
    // rows (slot alone is not unique in the child tables)
    Normalizer.datasetNames.foreach { t =>
      val a = Normalizer.dataset(blocks, t)
        .collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))
      val b = spark.read.parquet(s"$dir/out_$t.parquet")
        .collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))
      assert(a === b, s"$t contents differ from the per-table reference")
    }
    // SUMMARY: one line per table in name order, the reference counts
    val summary = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/out_SUMMARY.txt")), "UTF-8")
    assert(summary === want.toSeq.sortBy(_._1)
      .map { case (t, n) => s"$t: $n records\n" }.mkString)
  }
}
