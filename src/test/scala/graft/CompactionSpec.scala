package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.export.Compaction

/** Small-file compaction of an era-partitioned table: file counts drop to
  * the byte-budget plan, rows and values never change, partitions already
  * compact are skipped, and a run killed INSIDE the two-rename swap is
  * finished (complete staged copy) or rolled back (incomplete staged
  * copy) by the recovery pass — the crash-resume discipline of the
  * warehouse loop restated for renames. */
class CompactionSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def fs(p: String) = new Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("every warehouse table has OPTIMIZE sort keys") {
    // a table missing from the map would silently fall back to plain
    // compaction in optimizeWarehouse
    assert(Compaction.DefaultWarehouseSortKeys.keySet ===
      graft.export.StagedExport.warehouseTableNames.toSet)
  }

  private def mkTable(): String = {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    spark.range(4000)
      .select(col("id"), (col("id") % 4).as("era_number"),
        (col("id") * 7 % 1000).as("v"))
      .repartition(6) // 6 writer tasks × 4 eras → 6 part files per partition
      .write.partitionBy("era_number").parquet(dir)
    dir
  }

  private def rowsOf(dir: String): Seq[(Long, Long)] =
    spark.read.parquet(dir).select("id", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("compaction collapses per-partition files, preserves every row, and skips when already compact") {
    val dir = mkTable()
    val before = rowsOf(dir)
    val r1 = Compaction.compactEraTable(spark, dir, targetBytes = 1L << 30)
    assert(r1.size === 4)
    r1.foreach { r =>
      assert(r.filesBefore === 6, r)
      assert(r.filesAfter === 1, r)
      assert(r.rows === 1000L, r)
    }
    assert(rowsOf(dir) === before, "compaction changed table contents")
    // partition reads still resolve per directory
    assert(spark.read.parquet(dir).filter(col("era_number") === 2).count() === 1000L)
    // second pass: nothing to do
    val r2 = Compaction.compactEraTable(spark, dir, targetBytes = 1L << 30)
    r2.foreach { r =>
      assert(r.filesBefore === r.filesAfter, s"re-compacted a compact partition: $r")
      assert(r.rows === -1L, s"rewrote a compact partition instead of skipping it: $r")
    }
    // staged/trash work dirs are gone
    assert(!fs(dir).exists(new Path(dir, "_compact_staged")))
    assert(!fs(dir).exists(new Path(dir, "_compact_trash")))
  }

  test("a byte budget below the partition size yields multiple output files") {
    val dir = mkTable()
    val f = fs(dir)
    val leaf = new Path(dir, "era_number=0")
    val bytes = f.listStatus(leaf).filter(_.isFile)
      .filterNot(_.getPath.getName.startsWith("_")).map(_.getLen).sum
    val r = Compaction.compactEraTable(spark, dir, targetBytes = bytes / 2)
    val p0 = r.find(_.partition == "era_number=0").get
    assert(p0.filesAfter >= 2 && p0.filesAfter < p0.filesBefore, p0)
    assert(spark.read.parquet(dir).count() === 4000L)
  }

  test("a swap killed after the first rename is FINISHED from the complete staged copy") {
    val dir = mkTable()
    val before = rowsOf(dir)
    val f = fs(dir)
    val leaf = new Path(dir, "era_number=1")
    val staged = new Path(dir, "_compact_staged/era_number=1")
    // stage a complete compacted copy (what step 2 produces), then die
    // "between the renames": live leaf already moved to trash
    spark.read.parquet(leaf.toString).coalesce(1)
      .write.parquet(staged.toString)
    val trash = new Path(dir, "_compact_trash/era_number=1")
    f.mkdirs(trash.getParent)
    require(f.rename(leaf, trash))
    assert(!f.exists(leaf))
    Compaction.compactEraTable(spark, dir, targetBytes = 1L << 30)
    assert(f.exists(leaf), "recovery did not restore the partition")
    assert(rowsOf(dir) === before, "recovery lost or duplicated rows")
  }

  test("a swap with an INCOMPLETE staged copy is ROLLED BACK from trash") {
    val dir = mkTable()
    val before = rowsOf(dir)
    val f = fs(dir)
    val leaf = new Path(dir, "era_number=2")
    val staged = new Path(dir, "_compact_staged/era_number=2")
    spark.read.parquet(leaf.toString).coalesce(1)
      .write.parquet(staged.toString)
    f.delete(new Path(staged, "_SUCCESS"), false) // simulate a torn stage
    val trash = new Path(dir, "_compact_trash/era_number=2")
    f.mkdirs(trash.getParent)
    require(f.rename(leaf, trash))
    Compaction.compactEraTable(spark, dir, targetBytes = 1L << 30)
    assert(f.exists(leaf), "rollback did not restore the partition")
    assert(rowsOf(dir) === before, "rollback lost or duplicated rows")
    assert(!f.exists(staged), "incomplete staged copy survived recovery")
  }

  /** Compacting a landed warehouse is invisible to the SQL surface and
    * lowers its file count. `land` writes the warehouse at its argument;
    * `split` are tables it leaves in several files per partition. */
  private def compactLandedWarehouse(split: Seq[String])(land: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("compact-wh").toString
    val wh = s"$root/wh"
    land(wh)
    val net = fs(wh).listStatus(new Path(wh)).filter(_.isDirectory)
      .map(_.getPath.getName).filterNot(_.startsWith("_")).head
    graft.queries.EraViews.registerWarehouse(spark, wh, net)
    def counts(): (Long, Long) = (
      spark.sql("SELECT COUNT(*) FROM blocks").first.getLong(0),
      spark.sql("SELECT COUNT(*) FROM attestations").first.getLong(0))
    val before = counts()
    assert(before._1 > 0 && before._2 > 0)
    // a freshly-exported warehouse may be one file per partition —
    // recreate the accretion a long-lived incremental loop produces by
    // splintering the blocks table's partitions into 5 files each
    val blocksDir = s"$wh/$net/blocks"
    val f = fs(blocksDir)
    f.listStatus(new Path(blocksDir)).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("era_number="))
      .foreach { d =>
        val leaf = d.getPath
        val tmp = new Path(leaf.getParent, leaf.getName + ".splinter")
        spark.read.parquet(leaf.toString).repartition(5)
          .write.parquet(tmp.toString)
        require(f.delete(leaf, true) && f.rename(tmp, leaf))
      }
    graft.queries.EraViews.registerWarehouse(spark, wh, net)
    assert(counts() === before, "splintering changed row counts")
    val rowsBefore = WarehouseRows(spark, s"$wh/$net")
    val reports = Compaction.compactWarehouse(spark, wh, net, 1L << 30)
    assert(reports.keySet === graft.export.StagedExport.warehouseTableNames.toSet)
    val blocksReports = reports("blocks")
    // 1-row fixture partitions splinter into ≥2 physical files (empty
    // writer tasks emit none); the claim is every one collapses to 1
    assert(blocksReports.nonEmpty &&
      blocksReports.forall(r => r.filesBefore > 1 && r.filesAfter == 1),
      s"blocks partitions not collapsed: $blocksReports")
    (split :+ "blocks").foreach { t =>
      val rs = reports(t)
      assert(rs.map(_.filesAfter).sum < rs.map(_.filesBefore).sum,
        s"compaction did not lower the file count of $t: $rs")
    }
    graft.queries.EraViews.registerWarehouse(spark, wh, net)
    assert(counts() === before, "compaction changed SQL-visible row counts")
    val rowsAfter = WarehouseRows(spark, s"$wh/$net")
    rowsBefore.foreach { case (t, rows) =>
      assert(rowsAfter(t) === rows, s"compaction changed the rows of $t")
    }
  }

  test("compacting a real fixture warehouse is invisible to the SQL surface") {
    compactLandedWarehouse(Seq.empty)(wh => graft.queries.EraViews.landWarehouse(
      spark.read.format("era").load(graft.testkit.EraFixtures.ensureGenerated()), wh))
  }

  test("compacting a warehouse landed in 4 KB files is invisible to the SQL surface [SyntheticEra]") {
    compactLandedWarehouse(Seq("attestations", "sync_aggregates"))(
      SyntheticEra.landSizedWarehouse(spark, _))
  }

  test("a part file committed mid-compaction trips the pre-swap fence: swap aborted, rows kept") {
    val dir = mkTable()
    val f = fs(dir)
    val victim = new Path(dir, "era_number=1")
    // a concurrent writer (the warehouse loop re-exporting this era)
    // commits one more part file between the staged-copy verify and the
    // swap — without the fence those rows are renamed into trash and
    // deleted while the state log still marks the era complete
    val extra = spark.range(5000, 5007)
      .select(col("id"), (col("id") * 7 % 1000).as("v"))
    val reports = Compaction.compactEraTable(spark, dir, targetBytes = 1L << 30,
      beforeSwap = leaf =>
        if (leaf.getName == victim.getName) {
          val tmp = new Path(dir, "_concurrent_tmp")
          extra.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val part = f.listStatus(tmp).map(_.getPath)
            .find(_.getName.startsWith("part-")).get
          require(f.rename(part, new Path(leaf, "part-concurrent.parquet")))
          f.delete(tmp, true)
        })
    val r1 = reports.find(_.partition == victim.getName).get
    assert(r1.concurrentAbort, s"fence did not trip: $r1")
    assert(r1.filesAfter === r1.filesBefore, r1)
    // the concurrently-committed rows are alive and the other partitions compacted
    assert(spark.read.parquet(dir).count() === 4007L)
    assert(spark.read.parquet(dir).filter(col("id") >= 5000).count() === 7L)
    reports.filterNot(_.partition == victim.getName).foreach { r =>
      assert(!r.concurrentAbort && r.filesAfter === 1, r)
    }
    assert(!f.exists(new Path(dir, "_compact_staged/" + victim.getName)),
      "aborted swap left its staged copy behind")
    // the next quiescent pass compacts the victim normally
    val r2 = Compaction.compactEraTable(spark, dir, targetBytes = 1L << 30)
      .find(_.partition == victim.getName).get
    assert(!r2.concurrentAbort && r2.filesAfter === 1, r2)
    assert(spark.read.parquet(dir).count() === 4007L)
  }

  test("stale staged garbage beside a LIVE partition is dropped, not swapped in") {
    val dir = mkTable()
    val before = rowsOf(dir)
    val f = fs(dir)
    val staged = new Path(dir, "_compact_staged/era_number=3")
    // a dead run's staged copy with DIFFERENT (subset) contents
    spark.read.parquet(new Path(dir, "era_number=3").toString)
      .limit(10).coalesce(1).write.parquet(staged.toString)
    Compaction.compactEraTable(spark, dir, targetBytes = 1L << 30)
    assert(!f.exists(staged), "garbage staged copy survived")
    assert(rowsOf(dir) === before)
  }
}
