package graft.export

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.expr

import graft.model.DecodedBlock
import graft.operators.Normalizer

/**
 * Staged 15-table fan-out: materialize the decoded blocks ONCE as parquet,
 * then run the per-table exports as concurrent column-pruned scans of the
 * stage. [[stage]] is the one stage write: the CLI's `all-blocks
 * --separate`, the incremental loop's `all-blocks` verb and the bench ETL
 * call [[exportAll]] on top of it, and the per-era warehouse loop
 * ([[IncrementalExporter.runWarehouse]]) stages each era through it.
 *
 * Why staging beats caching (measured on the 98k-block bench corpus:
 * cached decode + concurrent writes 1.9–3.5k blocks/s, parquet stage
 * 11–15k): a cached `Dataset[DecodedBlock]` stores the whole `body` struct
 * as ONE in-memory column, so all 16 table jobs re-deserialize every child
 * array of every block; parquet stores each nested field as its own column
 * chunk and Spark's nested-schema pruning reaches through `body.<child>`,
 * so the deposits job reads only the deposits bytes, vectorized. The stage
 * also survives any corpus:memory ratio — at cluster scale the executor
 * cache cannot hold the corpus, a parquet stage trivially does — making
 * this the only fan-out shape that holds at 100 TB.
 *
 * The reference fans its 15 tables out of one in-process decode pass
 * (`processor.py` fan-out); this is that shape re-expressed for a shared-
 * nothing engine: one decode pass to columnar storage, then embarrassingly
 * parallel pruned extracts.
 */
object StagedExport {

  /** Write `blocks` to `dir` as the decode-once stage and return it read
    * back. zstd: ~2× smaller than snappy for hex-heavy block payloads at
    * negligible extra CPU — halves both the write-back pressure staging
    * adds and the bytes every fan-out scan re-reads. Coalesced to 32
    * files, which also bounds each table's output file count; a single
    * era is one scan partition, so the warehouse loop's stage is one file. */
  def stage(blocks: Dataset[DecodedBlock], dir: String): Dataset[DecodedBlock] = {
    blocks.toDF().coalesce(32)
      .write.mode("overwrite").option("compression", "zstd").parquet(dir)
    readStage(blocks.sparkSession, dir)
  }

  /** Stage `blocks` under `stageDir` and export all 15 normalized tables
    * to `baseOutput` (reference naming via [[Sinks.datasetFilename]]).
    * Returns per-table (rows, seconds), the rows counted by each table's
    * own write job. The stage is left in place: the caller owns its
    * lifetime ([[stageBeside]] + [[dropStage]] for user-facing paths). */
  def exportAll(blocks: Dataset[DecodedBlock], stageDir: String,
      baseOutput: String): Map[String, (Long, Double)] =
    Sinks.exportSeparateFiles(Normalizer.allDatasets(stage(blocks, stageDir)), baseOutput)

  /** A stage written from `Dataset[DecodedBlock]`, read with the schema
    * it was written with: parquet schema inference would launch a footer-
    * reading job on every call. */
  private[graft] def readStage(spark: SparkSession, stageDir: String): Dataset[DecodedBlock] =
    spark.read.schema(Encoders.product[DecodedBlock].schema).parquet(stageDir)
      .as(Encoders.product[DecodedBlock])

  /** The stage directory for an export to `baseOutput`: a deterministic
    * sibling `<stem>__stage`. Deterministic so a killed run's stage is
    * overwritten by the resume instead of accumulating beside the output;
    * not `_`-prefixed because Spark treats such paths as hidden and warns
    * on every read of them. */
  private[graft] def stageBeside(baseOutput: String): String =
    s"${Sinks.splitExt(baseOutput)._1}__stage"

  /** Remove a stage directory, through the Hadoop FileSystem bound to its
    * URI (any store Spark can write); no-op when it does not exist. */
  private[graft] def dropStage(spark: SparkSession, stageDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(stageDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** The names of the warehouse's 16 tables ([[Normalizer.warehouseTables]]). */
  private[graft] val warehouseTableNames: Seq[String] =
    Normalizer.warehouseTables.map(_.name)

  /** One network's 16 warehouse tables ([[Normalizer.warehouseTables]]),
    * each with the `era_number` partition key appended by the same rule,
    * ARITHMETICALLY (era = slot div slots_per_historical_root, the
    * reference's own era↔slot identity — EraSlots.eraOfSlot): never from
    * the era file's name, which need not carry the era, and never by
    * joining the blocks frame back in, which would be a slot-equi join
    * whose build side is the whole block archive at 100 TB. The identity
    * is per-network (the slot geometry comes from [[graft.config.Networks]]);
    * decode-vs-arithmetic agreement is spec-pinned in `EraWarehouseSpec`.
    * Multi-network: the reference's state layer keys every row on network
    * (`era_state_manager.py:350-377`), so one store holds many networks,
    * each in its own subtree because the slot geometry is the network's.
    * Used by the per-era [[IncrementalExporter.runWarehouse]] loop. */
  private[export] def networkTables(blocks: Dataset[DecodedBlock],
      network: String): Seq[(String, DataFrame)] = {
    val spr = graft.config.Networks(network).slotsPerHistoricalRoot
    Normalizer.warehouseTables.map { t =>
      t.name -> t.project(blocks).withColumn("era_number", expr(s"slot div $spr"))
    }
  }
}
