package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.export.{EraStateManager, IncrementalExporter}
import graft.testkit.EraFixtures

/** Output-file sizing of the warehouse loop (guide §6): the loop derives a
  * per-table `maxRecordsPerFile` cap from each completed era's measured
  * bytes/row, so at production scale a multi-GB hot-table era splits into
  * ~target-sized files instead of whatever the stage's task count
  * dictated. The local corpus never produces multi-GB files, so the spec
  * exercises the MATH with a deliberately tiny target: the first era
  * (nothing measured yet) writes unconstrained; every later era's hot
  * table must split into more, smaller files — and the warehouse contents
  * must be byte-identical to an unconstrained run's. The loop runs on the
  * reference fixture eras and on [[SyntheticEra]] eras, which need no
  * fixture and whose `wide_blocks` is wide enough to split too. */
class WhFileSizingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def partFiles(tableDir: String, era: Long): Seq[java.io.File] = {
    val d = new java.io.File(s"$tableDir/era_number=$era")
    if (!d.isDirectory) Seq.empty
    else d.listFiles().toSeq.filter(f => f.getName.endsWith(".parquet"))
  }

  /** Lands `eras` of `network` twice — at the default target and at a
    * ~4 KB one — and checks that the last era of every `hot` table splits
    * into more, smaller files while both warehouses hold identical rows. */
  private def checkSizing(network: String, eras: Seq[Long], hot: Seq[String])(
      loadEra: Long => DataFrame): Unit = {
    assert(eras.size >= 2, "need at least two eras: the first only measures")

    // reference run: default (512 MB) target — local eras never hit it
    val whA = Files.createTempDirectory("graft-whsize-a").toString
    val stateA = new EraStateManager(spark,
      Files.createTempDirectory("graft-whsize-state-a").toString)
    assert(IncrementalExporter.runWarehouse(
      spark, stateA, network, eras, whA)(loadEra) === eras)

    // sized run: ~4 KB target → bytes/row measured on the first era forces
    // every later era's hot tables into multiple small files
    val whB = Files.createTempDirectory("graft-whsize-b").toString
    val stateB = new EraStateManager(spark,
      Files.createTempDirectory("graft-whsize-state-b").toString)
    assert(IncrementalExporter.runWarehouse(
      spark, stateB, network, eras, whB,
      targetFileBytes = 4096L)(loadEra) === eras)

    val lastEra = eras.last
    hot.foreach { t =>
      val a = partFiles(s"$whA/$network/$t", lastEra)
      val b = partFiles(s"$whB/$network/$t", lastEra)
      assert(a.nonEmpty && b.nonEmpty, t)
      assert(b.size > a.size,
        s"tiny target must split $t: ${a.size} files unconstrained, ${b.size} sized")
      // the cap bounds file size near the target: every sized file stays
      // within a small multiple of it (row-group framing adds per-file
      // overhead, so the bound is loose but still catches a no-op cap)
      val maxSized = b.map(_.length()).max
      val maxFree = a.map(_.length()).max
      assert(maxSized < maxFree,
        s"$t: sized files should be smaller than unconstrained ones: $maxSized vs $maxFree")
    }

    // value gate: both warehouses hold identical rows, table for table
    val rowsA = WarehouseRows(spark, s"$whA/$network")
    val rowsB = WarehouseRows(spark, s"$whB/$network")
    graft.export.StagedExport.warehouseTableNames.foreach { t =>
      assert(rowsA(t) === rowsB(t), s"table $t diverged under file sizing")
    }
  }

  test("derived maxRecordsPerFile splits later eras' hot tables; contents unchanged") {
    val eraDir = EraFixtures.ensureGenerated()
    val files: Map[Long, String] = new java.io.File(eraDir).listFiles().toSeq
      .filter(_.getName.endsWith(".era"))
      .map(f => f.getName.split("-")(1).toLong -> f.getAbsolutePath).toMap
    checkSizing("gnosis", files.keys.toSeq.sorted, Seq("attestations"))(
      era => spark.read.format("era").load(files(era)))
  }

  test("derived maxRecordsPerFile splits the hot tables, wide_blocks included [SyntheticEra]") {
    checkSizing("gnosis", SyntheticEra.SizedEras, Seq("attestations", "wide_blocks"))(
      SyntheticEra.sizedEraLoader(spark))
  }
}
