package graft.export

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.config.Networks

/**
 * Incremental-processing state layer (SURVEY.md §2 P6/J4/W3/A5/A6, §7 step
 * 7), re-expressing the reference's ClickHouse `era_completion` +
 * `era_status` machinery (`era_parser/export/era_state_manager.py`,
 * `migrations/sql/002_performance_optimizations_up.sql:2-38`) over an
 * append-only Parquet log:
 *
 *  - every state transition is an appended row carrying a monotonically
 *    increasing `insert_version` (the ReplacingMergeTree insert-version
 *    idiom);
 *  - the current state is the latest-version row per (network, era_number)
 *    — the `era_status` argmax view — computed with a window
 *    `row_number() = 1`, never an in-place update;
 *  - resume = anti-join of available eras against completed ones
 *    (determine_eras_to_process, era_state_manager.py:430-473);
 *  - force-clean = partition delete of the era's data + filtered rewrite
 *    of the (small) state log (clean_era_completely,
 *    era_state_manager.py:190-235).
 *
 * At scale the log stays tiny (rows ∝ eras processed), so every read is a
 * broadcast-size scan; the anti-join broadcasts the completed set against
 * the available list. The state dir and the data roots it cleans may be
 * on any Hadoop filesystem (hdfs://, s3a://, file:, local): every touch
 * goes through the `FileSystem` bound to the path's URI.
 */
object EraStateManager {

  /** The era_completion log schema (002_performance_optimizations_up.sql's
    * era_completion, Parquet-resident). */
  val logSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      """network STRING, era_number BIGINT, status STRING, slot_start BIGINT,
        |slot_end BIGINT, total_records BIGINT, datasets_processed ARRAY<STRING>,
        |error_message STRING, retry_count BIGINT, insert_version BIGINT,
        |writer_id STRING, recorded_at TIMESTAMP""".stripMargin.replaceAll("\n", " "))

  /** era_completion shape for a generic JDBC target: the array column is
    * flattened to a comma-joined string (JDBC writers have no portable
    * array type; ClickHouse-specific Array(String) is the reference's
    * luxury, not ours). */
  val jdbcLogSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(logSchema.map { f =>
      if (f.name == "datasets_processed")
        f.copy(dataType = org.apache.spark.sql.types.StringType)
      else f
    })
}

class EraStateManager(spark: SparkSession, stateDir: String) {

  private val logPath = s"$stateDir/era_completion"
  private def logExists: Boolean = {
    val p = new Path(logPath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
  // monotonic within the process AND tracking wall-clock across processes:
  // next = max(prev + 1, now). Two managers on the same state dir then
  // interleave versions in real-time order (same-millisecond writes from
  // two JVMs remain racy — same as the reference's insert-version idiom)
  private val versionCounter = new AtomicLong(0L)

  // per-writer discriminator: two managers writing the same (network, era)
  // in the same millisecond would otherwise tie on insert_version and make
  // the latest-state argmax nondeterministic
  private val writerId = java.util.UUID.randomUUID().toString

  private def nextVersion(): Long =
    versionCounter.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis()))

  private def eraSlotRange(eraNumber: Long, network: String): (Long, Long) = {
    val spe = Networks(network).slotsPerHistoricalRoot
    (eraNumber * spe, eraNumber * spe + spe - 1)
  }

  private def appendRow(network: String, era: Long, status: String,
      totalRecords: Long, datasets: Seq[String], errorMessage: String,
      retryCount: Long): Unit = {
    import spark.implicits._
    val (s0, s1) = eraSlotRange(era, network)
    val df = Seq((network, era, status, s0, s1, totalRecords, datasets,
        errorMessage.take(500), retryCount, nextVersion(), writerId))
      .toDF("network", "era_number", "status", "slot_start", "slot_end",
        "total_records", "datasets_processed", "error_message", "retry_count",
        "insert_version", "writer_id")
      .withColumn("recorded_at", current_timestamp())
    df.coalesce(1).write.mode("append").parquet(logPath)
  }

  /** era_state_manager.py:102-122 */
  def recordEraStart(era: Long, network: String): Unit =
    appendRow(network, era, "processing", 0, Nil, "Processing...", 0)

  /** era_state_manager.py:124-145 */
  def recordEraCompletion(era: Long, network: String,
      datasets: Seq[String], totalRecords: Long): Unit =
    appendRow(network, era, "completed", totalRecords, datasets, "", 0)

  /** era_state_manager.py:147-168 — retry_count = previous max + 1. */
  def recordEraFailure(era: Long, network: String, error: String): Unit =
    appendRow(network, era, "failed", 0, Nil, error, retryCount(era, network) + 1)

  /** Raw append-only log (empty DataFrame with full schema if none yet),
    * read with its known [[EraStateManager.logSchema]], so planning the
    * read opens none of the one-row files to infer or merge a schema.
    * Files written before the writer_id column existed read that column
    * as NULL, which becomes the empty discriminator (sorts last in the
    * tie-break). */
  def log: DataFrame =
    if (logExists)
      spark.read.schema(EraStateManager.logSchema).parquet(logPath)
        .withColumn("writer_id", coalesce(col("writer_id"), lit("")))
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      EraStateManager.logSchema)

  /** The `era_status` latest-state view (W3): argmax over insert_version
    * per (network, era_number) — 002_performance_optimizations_up.sql:20-38.
    * Ties (same-millisecond writes from two processes) resolve
    * deterministically via recorded_at then the unique writer_id. */
  def eraStatus: DataFrame = {
    val w = Window.partitionBy(col("network"), col("era_number"))
      .orderBy(col("insert_version").desc, col("recorded_at").desc, col("writer_id").desc)
    log.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Completed era numbers for a network (era_state_manager.py:350-377). */
  def completedEras(network: String): DataFrame =
    eraStatus
      .filter(col("network") === network && col("status") === "completed")
      .select(col("era_number"))

  /** P6/J4: available ∖ completed via left_anti join
    * (determine_eras_to_process, era_state_manager.py:430-473). */
  def determineErasToProcess(available: Seq[Long], network: String): Seq[Long] = {
    import spark.implicits._
    available.toDF("era_number")
      .join(completedEras(network), Seq("era_number"), "left_anti")
      .orderBy(col("era_number"))
      .collect().map(_.getLong(0)).toSeq
  }

  /** A6: COALESCE(MAX(retry_count), 0) (era_state_manager.py:170-186). */
  def retryCount(era: Long, network: String): Long = {
    val r = log.filter(col("network") === network && col("era_number") === era)
      .agg(coalesce(max(col("retry_count")), lit(0L))).collect()
    if (r.isEmpty) 0L else r(0).getLong(0)
  }

  /** A5: status summary — count + records by current status
    * (era_state_manager.py:398-426). */
  def summary(network: String): DataFrame =
    eraStatus.filter(col("network") === network)
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_eras"), sum(col("total_records")).as("total_records"))
      .orderBy(col("status"))

  /** Failed era numbers (latest state = failed). */
  def failedEras(network: String): Seq[Long] =
    eraStatus.filter(col("network") === network && col("status") === "failed")
      .select("era_number").orderBy("era_number").collect().map(_.getLong(0)).toSeq

  /** Health check (docs/CLICKHOUSE.md monitoring section): era-coverage
    * gaps — eras inside the completed span with no completed record. */
  def missingEras(network: String): Seq[Long] = {
    import spark.implicits._
    val completed = completedEras(network)
    val bounds = completed.agg(min("era_number"), max("era_number")).collect()(0)
    if (bounds.isNullAt(0)) return Nil
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    spark.range(lo, hi + 1).toDF("era_number")
      .join(completed, Seq("era_number"), "left_anti")
      .orderBy("era_number").collect().map(_.getLong(0)).toSeq
  }

  /** Log compaction — the ReplacingMergeTree `OPTIMIZE TABLE FINAL`
    * analogue (era_state_manager.py:329-346): rewrite the append-only log
    * keeping only the latest-version row per (network, era_number). */
  def optimize(): Unit = {
    if (!logExists) return
    val latest = eraStatus.collect().toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(latest, 1),
        EraStateManager.logSchema)
      .write.mode("overwrite").parquet(logPath)
  }

  /** Force-clean (era_state_manager.py:190-235): drop the era's partition
    * dirs from each dataset root (the Parquet-resident equivalent of the
    * slot-range DELETE — data is era-partitioned, so clean = partition
    * remove) and erase the era from the state log via filtered rewrite. */
  def cleanEraCompletely(dataRoot: String, network: String, era: Long): Unit = {
    val root = new Path(dataRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // partitioned layout: <root>/<table>/era_number=<era>, for each of the
    // 16 warehouse tables
    StagedExport.warehouseTableNames.foreach(t =>
      fs.delete(new Path(root, s"$t/era_number=$era"), true))
    // era-suffixed CLI layout: <root>/..._era_<00000>_<dataset>.<ext>
    // (Sinks.eraOutputFilename) — a failed era's partial outputs must go too
    val eraTag = f"_era_$era%05d"
    if (fs.exists(root))
      fs.listStatus(root).map(_.getPath).filter(_.getName.contains(eraTag))
        .foreach(fs.delete(_, true))
    if (logExists) {
      // the log is tiny (rows ∝ state transitions) — materialize on the
      // driver, then overwrite; avoids writing over a lazily-read source
      val kept = log.filter(!(col("network") === network && col("era_number") === era))
        .collect().toSeq
      spark.createDataFrame(
          spark.sparkContext.parallelize(kept, 1), EraStateManager.logSchema)
        .write.mode("overwrite").parquet(logPath)
    }
  }
}
