package graft.export

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/**
 * Small-file compaction for the era-partitioned warehouse layout — the
 * file-count half of an `OPTIMIZE` pass (bucketing co-locates joins,
 * Z-order co-locates range predicates, compaction keeps the FILE COUNT
 * from eating the scan: a 1000-executor query against a partition of
 * 10,000 tiny part files pays listing, footer, and task-scheduling cost
 * per file; the incremental warehouse loop naturally accretes such files
 * because every per-era commit writes its own part set).
 *
 * Per partition directory (`era_number=N`):
 *
 *  1. plan: `ceil(bytes / targetBytes)` output files; a partition already
 *     at-or-under that count is SKIPPED (no rewrite, no risk);
 *  2. stage: read the leaf, `coalesce(n)` (merges input splits — no
 *     shuffle; compaction only ever reduces the file count), write to
 *     `<table>/_compact_staged/era_number=N`. The `_`-prefixed directory
 *     is invisible to every parquet reader of the table, so queries run
 *     untouched while staging;
 *  3. verify: staged row count must equal the live leaf's;
 *  4. swap: live leaf → `_compact_trash`, staged → live, trash deleted.
 *
 * Crash safety is the warehouse loop's discipline, restated for renames:
 * a death before the swap leaves the table untouched (stage is garbage,
 * collected next run); a death INSIDE the swap leaves the leaf missing
 * with a complete staged copy (its `_SUCCESS` marker was required before
 * the swap began) or with the trash copy still present — [[recover]] runs
 * first on every invocation and finishes or rolls back any torn swap, so
 * the table is never down more than one crashed-mid-rename partition, and
 * never loses rows. `CompactionSpec` drives the torn cases explicitly.
 *
 * At cluster scale each partition's rewrite is one bounded job (one era's
 * data — the same bound the incremental loop's stage relies on), and
 * partitions are processed independently, so the maintenance pass can be
 * stopped and resumed at any partition boundary.
 */
object Compaction {

  /** Per-partition outcome. `filesAfter == filesBefore` means skipped;
    * `concurrentAbort` means the pre-swap fence saw the live file set
    * change under the staged copy and refused the swap (no data touched). */
  final case class LeafReport(partition: String, filesBefore: Int,
      filesAfter: Int, bytesBefore: Long, rows: Long,
      concurrentAbort: Boolean = false)

  private val StagedDir = "_compact_staged"
  private val TrashDir = "_compact_trash"

  private def dataFiles(fs: FileSystem, dir: Path) =
    fs.listStatus(dir).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** Finish or roll back any swap a previous run died inside. Safe to run
    * when nothing is torn (and always run first). Rules per partition
    * name found under staged/trash:
    *  - live leaf missing + COMPLETE staged copy (`_SUCCESS`) → finish
    *    the swap (staged becomes live, trash dropped);
    *  - live leaf missing + no usable staged copy + trash present → roll
    *    back (trash becomes live);
    *  - live leaf present → both staged and trash copies are garbage. */
  private[export] def recover(fs: FileSystem, table: Path): Unit = {
    val staged = new Path(table, StagedDir)
    val trash = new Path(table, TrashDir)
    def leaves(root: Path): Seq[Path] =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath)
    val byName = (leaves(staged).map(p => p.getName -> ("staged", p)) ++
      leaves(trash).map(p => p.getName -> ("trash", p)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toMap)
    byName.foreach { case (name, copies) =>
      val live = new Path(table, name)
      if (!fs.exists(live)) {
        val stagedComplete = copies.get("staged")
          .filter(p => fs.exists(new Path(p, "_SUCCESS")))
        stagedComplete match {
          case Some(p) =>
            require(fs.rename(p, live), s"recover: rename $p -> $live failed")
            copies.get("trash").foreach(fs.delete(_, true))
          case None =>
            copies.get("trash").foreach { t =>
              require(fs.rename(t, live), s"recover: rename $t -> $live failed")
            }
            copies.get("staged").foreach(fs.delete(_, true))
        }
      } else copies.values.foreach(fs.delete(_, true))
    }
    sweepWorkDirs(fs, table)
  }

  /** Drop the staged/trash parents once empty (end of a clean pass, or
    * after recovery) so a finished table carries no `_`-work residue. */
  private def sweepWorkDirs(fs: FileSystem, table: Path): Unit =
    Seq(new Path(table, StagedDir), new Path(table, TrashDir)).foreach { d =>
      if (fs.exists(d) && fs.listStatus(d).isEmpty) fs.delete(d, true)
    }

  /** Compact every `era_number=N` partition of one warehouse table in
    * place. Returns one report per partition (skipped partitions report
    * `filesAfter == filesBefore`).
    *
    * Concurrency contract: compaction must NOT run concurrently with a
    * writer of the same table (the incremental warehouse loop's dynamic
    * partition overwrites land part files directly in the leaf). Two
    * defenses, because "must not" is a policy, not a guarantee:
    *  - a FENCE re-lists the leaf's data files immediately before the
    *    first rename and aborts the swap (staged copy discarded, live
    *    leaf untouched) if the set differs from what was staged — a part
    *    file committed mid-compaction can no longer be silently renamed
    *    into trash and deleted;
    *  - readers can still observe the leaf MISSING for the instant
    *    between the two renames — schedule maintenance off the write
    *    path (the loop itself is era-serial, so "after the loop exits"
    *    is always a safe window). See SCALING.md §small-file compaction.
    *
    * `beforeSwap` is a test seam (CompactionSpec injects a concurrent
    * commit between verify and swap); production callers leave it. */
  def compactEraTable(spark: SparkSession, tablePath: String,
      targetBytes: Long = 128L << 20,
      beforeSwap: Path => Unit = _ => ()): Seq[LeafReport] =
    rewriteTable(spark, tablePath, targetBytes, beforeSwap, skipCompact = true) {
      (live, stagedPath, nOut) =>
        live.coalesce(nOut).write.mode("overwrite").parquet(stagedPath)
    }

  /** The per-table walk every pass shares: find the table, [[recover]] any
    * torn swap, then plan each `era_number=N` leaf at
    * `ceil(bytes / targetBytes)` output files and rewrite it through
    * [[rewriteLeaf]] with `writeStaged(live, stagedPath, nOut)`, sweeping
    * the work dirs however the walk ends. `skipCompact` leaves a leaf
    * already at or under its planned file count untouched (compaction's
    * skip; a clustering pass rewrites every leaf). */
  private def rewriteTable(spark: SparkSession, tablePath: String,
      targetBytes: Long, beforeSwap: Path => Unit, skipCompact: Boolean)(
      writeStaged: (org.apache.spark.sql.DataFrame, String, Int) => Unit): Seq[LeafReport] = {
    require(targetBytes > 0, "targetBytes must be positive")
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(table), s"no table at $tablePath")
    recover(fs, table)
    val parts = fs.listStatus(table).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("era_number="))
      .map(_.getPath).sortBy(_.getName)
    try parts.map { leaf =>
      val files = dataFiles(fs, leaf)
      val bytes = files.map(_.getLen).sum
      val nOut = math.max(1L, math.ceil(bytes.toDouble / targetBytes).toLong).toInt
      if (skipCompact && files.size <= nOut)
        LeafReport(leaf.getName, files.size, files.size, bytes, -1L)
      else rewriteLeaf(spark, fs, table, leaf, files, bytes, beforeSwap) {
        (live, stagedPath) => writeStaged(live, stagedPath, nOut)
      }
    }
    finally sweepWorkDirs(fs, table)
  }

  /** The shared staged/verify/fence/swap core: rewrite one live leaf via
    * `writeStaged` (which must land a `_SUCCESS`-committed parquet copy of
    * exactly the rows it was given at `stagedPath`), then verify the row
    * count, fence against concurrent writers, and two-rename swap. Used by
    * both the compaction (coalesce) and OPTIMIZE (z-order cluster) paths —
    * one crash-safety implementation, not two. */
  private def rewriteLeaf(spark: SparkSession,
      fs: FileSystem, table: Path, leaf: Path,
      files: Seq[org.apache.hadoop.fs.FileStatus], bytes: Long,
      beforeSwap: Path => Unit)(
      writeStaged: (org.apache.spark.sql.DataFrame, String) => Unit): LeafReport = {
    val live = spark.read.parquet(leaf.toString)
    val rows = live.count()
    val stagedLeaf = new Path(new Path(table, StagedDir), leaf.getName)
    fs.delete(stagedLeaf, true)
    writeStaged(live, stagedLeaf.toString)
    val stagedRows = spark.read.parquet(stagedLeaf.toString).count()
    require(stagedRows == rows,
      s"staged-rewrite verify failed for ${leaf.getName}: $stagedRows != $rows")
    require(fs.exists(new Path(stagedLeaf, "_SUCCESS")),
      s"staged copy for ${leaf.getName} has no _SUCCESS marker")
    beforeSwap(leaf)
    // concurrent-writer fence: the staged copy is a snapshot of the
    // leaf AS LISTED at plan time — if a writer committed new part
    // files since (the warehouse loop overwriting this era), swapping
    // would rename those rows into trash and delete them while the
    // state log still marks the era complete. Abort the swap instead;
    // the partition rewrites on the next quiescent run.
    val nowFiles = dataFiles(fs, leaf)
      .map(st => (st.getPath.getName, st.getLen)).toSet
    val planned = files.map(st => (st.getPath.getName, st.getLen)).toSet
    if (nowFiles != planned) {
      fs.delete(stagedLeaf, true)
      LeafReport(leaf.getName, files.size, files.size, bytes, rows,
        concurrentAbort = true)
    } else {
      // the swap: two renames with a trash stop — recover() completes
      // or rolls back a run that dies between them
      val trashLeaf = new Path(new Path(table, TrashDir), leaf.getName)
      fs.delete(trashLeaf, true)
      fs.mkdirs(trashLeaf.getParent)
      require(fs.rename(leaf, trashLeaf), s"swap: rename $leaf -> trash failed")
      require(fs.rename(stagedLeaf, leaf), s"swap: rename staged -> $leaf failed")
      fs.delete(trashLeaf, true)
      LeafReport(leaf.getName, files.size,
        dataFiles(fs, leaf).size, bytes, rows)
    }
  }

  /** The full OPTIMIZE pass for one warehouse table: compaction's
    * crash-safe staged-swap discipline around a Z-ORDER clustered rewrite
    * of every `era_number=N` partition — the Spark-native analogue of the
    * reference's `OPTIMIZE TABLE ... FINAL` (era_state_manager.py:340)
    * PLUS the sort-key layout its ClickHouse DDL bakes in at CREATE time
    * (export/migrations/sql/001_initial_tables_up.sql:19-20,
    * `ORDER BY (slot, proposer_index)`),
    * generalized to two dimensions: each rewritten partition is
    * range-partitioned and sorted by the Morton interleave of
    * `zorderBy`, so parquet row-group min/max stats prune range
    * predicates on EITHER column ([[graft.operators.Layout]];
    * `OptimizeSpec` measures it on the optimized table and re-drives the
    * torn-swap recovery cases).
    *
    * Unlike compaction there is no already-compact skip: clustering is
    * the point, so every partition is rewritten (into
    * `ceil(bytes/targetBytes)` files). Same concurrency contract as
    * [[compactEraTable]] — the pre-swap fence aborts on a mid-rewrite
    * commit, and the pass must be scheduled off the write path. */
  def optimizeEraTable(spark: SparkSession, tablePath: String,
      zorderBy: (String, String), targetBytes: Long = 128L << 20,
      writerOptions: Map[String, String] = Map.empty,
      beforeSwap: Path => Unit = _ => ()): Seq[LeafReport] =
    rewriteTable(spark, tablePath, targetBytes, beforeSwap, skipCompact = false) {
      (live, stagedPath, nOut) =>
        graft.operators.Layout.zorderWrite(live, zorderBy._1, zorderBy._2,
          stagedPath, files = nOut, writerOptions = writerOptions)
    }

  /** Linear-sort OPTIMIZE for a table whose sort key is ONE column (the
    * DDL's `ORDER BY (slot)` tables): same staged-swap skeleton, each
    * partition rewritten range-partitioned + sorted on `sortBy` so the
    * row-group min/max ranges are tight for that column. */
  def sortEraTable(spark: SparkSession, tablePath: String, sortBy: String,
      targetBytes: Long = 128L << 20,
      beforeSwap: Path => Unit = _ => ()): Seq[LeafReport] =
    rewriteTable(spark, tablePath, targetBytes, beforeSwap, skipCompact = false) {
      (live, stagedPath, nOut) =>
        live.repartitionByRange(nOut, org.apache.spark.sql.functions.col(sortBy))
          .sortWithinPartitions(sortBy)
          .write.mode("overwrite").parquet(stagedPath)
    }

  /** Per-table OPTIMIZE sort keys for the standard warehouse — the first
    * two columns of each table's `ORDER BY` in the reference's ClickHouse
    * DDL (export/migrations/sql/001_initial_tables_up.sql:20-244), mapped
    * to this engine's column names. Two keys → Z-order clustered rewrite
    * (prunes on either column); one key → linear sort. */
  val DefaultWarehouseSortKeys: Map[String, Seq[String]] = Map(
    "blocks" -> Seq("slot", "proposer_index"),
    "wide_blocks" -> Seq("slot", "proposer_index"),
    "sync_aggregates" -> Seq("slot"),
    "execution_payloads" -> Seq("slot", "block_number"),
    "transactions" -> Seq("slot", "transaction_index"),
    "withdrawals" -> Seq("slot", "withdrawal_index"),
    "attestations" -> Seq("slot", "attestation_index"),
    "deposits" -> Seq("slot", "deposit_index"),
    "voluntary_exits" -> Seq("slot", "validator_index"),
    "proposer_slashings" -> Seq("slot", "slashing_index"),
    "attester_slashings" -> Seq("slot", "slashing_index"),
    "bls_changes" -> Seq("slot", "change_index"),
    "blob_commitments" -> Seq("slot", "commitment_index"),
    "deposit_requests" -> Seq("slot", "request_index"),
    "withdrawal_requests" -> Seq("slot", "request_index"),
    "consolidation_requests" -> Seq("slot", "request_index"))

  /** The reference's optimize-ALL-tables loop
    * (`era_state_manager.optimize_tables`, era_state_manager.py:329-346)
    * for one network's warehouse subtree: every table rewritten through
    * the crash-safe staged swap, clustered by its DDL-derived sort keys
    * (Z-order when two, linear when one; a table absent from
    * [[DefaultWarehouseSortKeys]] is plain-compacted).
    * CLI: `graft --optimize-warehouse <dir> <network>`. */
  def optimizeWarehouse(spark: SparkSession, warehouseDir: String,
      network: String, targetBytes: Long = 128L << 20): Map[String, Seq[LeafReport]] =
    StagedExport.warehouseTableNames.map { t =>
      val table = s"$warehouseDir/$network/$t"
      t -> (DefaultWarehouseSortKeys.get(t) match {
        case Some(Seq(x, y)) => optimizeEraTable(spark, table, (x, y), targetBytes)
        case Some(Seq(x)) => sortEraTable(spark, table, x, targetBytes)
        case _ => compactEraTable(spark, table, targetBytes)
      })
    }.toMap

  /** Compact every table of one network's warehouse subtree
    * ([[IncrementalExporter.runWarehouse]] layout). */
  def compactWarehouse(spark: SparkSession, warehouseDir: String,
      network: String,
      targetBytes: Long = 128L << 20): Map[String, Seq[LeafReport]] =
    StagedExport.warehouseTableNames.map { t =>
      t -> compactEraTable(spark, s"$warehouseDir/$network/$t", targetBytes)
    }.toMap
}
