package graft.export

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

import graft.model.DecodedBlock
import graft.operators.Normalizer

/**
 * Staged 15-table fan-out: materialize the decoded blocks ONCE as parquet,
 * then run the per-table exports as concurrent column-pruned scans of the
 * stage. This is the one era fan-out core: the CLI's `all-blocks
 * --separate`, the incremental loop's `all-blocks` verb and the bench ETL
 * all call [[exportAll]], and the warehouse writers share its stage-then-
 * fan-out discipline.
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

  /** Stage `blocks` under `stageDir` and export all 15 normalized tables
    * to `baseOutput` (reference naming via [[Sinks.datasetFilename]]).
    * Returns per-table (rows, seconds), the rows counted by each table's
    * own write job. `stageFiles` bounds both stage fan-in and per-table
    * output file count. The stage is left in place: the caller owns its
    * lifetime ([[stageBeside]] + [[dropStage]] for user-facing paths). */
  def exportAll(blocks: Dataset[DecodedBlock], stageDir: String,
      baseOutput: String, parallelism: Int = 16,
      stageFiles: Int = 32, stageCodec: String = "zstd"): Map[String, (Long, Double)] = {
    // zstd stage: ~2× smaller than snappy for hex-heavy block payloads at
    // negligible extra CPU — halves both the write-back pressure staging
    // adds and the bytes every fan-out scan re-reads
    blocks.toDF().coalesce(stageFiles)
      .write.mode("overwrite").option("compression", stageCodec).parquet(stageDir)
    Sinks.exportSeparateFiles(Normalizer.allDatasets(readStage(blocks.sparkSession, stageDir)),
      baseOutput, parallelism = parallelism)
  }

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

  /** Stage once, then write the full AT-REST WAREHOUSE: every normalized
    * table (plus the wide shape) as an era-partitioned parquet directory
    * `<warehouseDir>/<network>/<table>/era_number=N/` — the
    * [[Sinks.writePartitionedByEra]] layout
    * [[graft.queries.EraViews]]`.registerWarehouse` binds SQL views to,
    * closing the reference's paste-SQL-against-exported-tables contract
    * (docs/CLICKHOUSE.md:340+ assumes ClickHouse tables at rest). Same
    * staged fan-out discipline as [[exportAll]]: one columnar stage, then
    * concurrent nested-schema-pruned partitioned writes from a bounded
    * pool, quiescent on failure.
    *
    * Multi-network: the reference's state layer keys every row on network
    * (`era_state_manager.py:350-377`), so one store holds many networks.
    * Here each network gets its own subtree because `era_number` is
    * derived arithmetically from the NETWORK'S slot geometry — the
    * per-(network, table) writes all fan out of the one shared stage. */
  def exportWarehouse(blocks: Dataset[DecodedBlock], stageDir: String,
      warehouseDir: String, parallelism: Int = 16,
      stageFiles: Int = 32, stageCodec: String = "zstd"): Unit = {
    val spark = blocks.sparkSession
    import spark.implicits._
    // stage partitioned BY NETWORK: with a mixed stage every per-(network,
    // table) extract would scan 100% of the stage bytes and filter the
    // other networks out row by row; partitioning lets each extract's
    // network filter prune to its own subdirectory — the same discipline
    // the stage's nested-schema pruning applies to columns. Single-network
    // corpora pay one directory level, nothing else.
    blocks.toDF().coalesce(stageFiles)
      .write.mode("overwrite").option("compression", stageCodec)
      .partitionBy("network").parquet(stageDir)
    val staged = spark.read.parquet(stageDir).as[DecodedBlock]
    val nets = staged.select(org.apache.spark.sql.functions.col("network"))
      .distinct().collect().map(_.getString(0)).sorted
    require(nets.nonEmpty, "warehouse export needs a non-empty corpus")
    val tables = nets.toSeq.flatMap { net =>
      val mine = staged.filter(org.apache.spark.sql.functions.col("network") === net)
      networkTables(mine, net).map { case (name, df) => (net, name, df) }
    }
    Sinks.runQuiescent(spark, parallelism, tables.map { case (net, name, df) =>
      () => Sinks.writePartitionedByEra(df, s"$warehouseDir/$net/$name")
    })
    ()
  }

  /** The warehouse's table set — the 16 normalized datasets plus the wide
    * shape. ONE definition shared by the exporters and the incremental
    * loop so a table rename can't drift across them. */
  private[graft] val warehouseTableNames: Seq[String] =
    Normalizer.datasetNames :+ "wide_blocks"

  /** One network's warehouse tables (15 children + blocks + wide shape),
    * each with the `era_number` partition key attached ARITHMETICALLY
    * (era = slot div slots_per_historical_root, the reference's own
    * era↔slot identity — EraSlots.eraOfSlot) rather than joining the
    * blocks frame back in: a narrow per-row projection instead of a
    * slot-equi join whose build side is the whole block archive at
    * 100 TB. The identity is per-network (the slot geometry comes from
    * [[graft.config.Networks]]); decode-vs-arithmetic agreement is
    * spec-pinned in `EraWarehouseSpec`. Shared by the full-corpus
    * [[exportWarehouse]] and the per-era
    * [[IncrementalExporter.runWarehouse]] loop. */
  private[export] def networkTables(blocks: Dataset[DecodedBlock],
      network: String): Seq[(String, org.apache.spark.sql.DataFrame)] = {
    val spr = graft.config.Networks(network).slotsPerHistoricalRoot
    def withEra(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("era_number",
        org.apache.spark.sql.functions.expr(s"slot div $spr"))
    Normalizer.allDatasets(blocks).toSeq.sortBy(_._1)
      .map { case (n, df) => n -> withEra(df) } :+
      ("wide_blocks" -> Normalizer.wideBlocksWithEra(blocks))
  }
}
