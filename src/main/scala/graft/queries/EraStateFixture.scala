package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.export.EraStateManager
import graft.operators.Normalizer

/**
 * Deterministic fixture state history for the era-state SQL surface
 * (docs/CLICKHOUSE.md:342-378 "Era Completion Tracking" + :902-912
 * "Processing performance" run against the `era_completion` table).
 *
 * Built once per JVM by driving the REAL [[EraStateManager]] protocol over
 * the fixture corpus's eras (one start/complete cycle per era, mirroring
 * era_state_manager.py:102-145): the first era fails once and is retried
 * to completion (so retry history exists), the last era's LATEST state is
 * a failure (so the failed-eras report is non-empty), and every other era
 * completes cleanly with its real decoded block count as `total_records`.
 *
 * `recorded_at`/`insert_version` are wall-clock — deterministic for the
 * oracle because the SAME JVM that answered the queries exports the SAME
 * log parquet for DuckDB ([[EraOracle.exportTables]]); the oracle then
 * independently recomputes the latest-state argmax from the raw log, so
 * the dedup semantics (not just the bytes) are cross-checked.
 */
object EraStateFixture {

  /** The network whose fixture corpus seeds the history. */
  val Network = "gnosis"

  private var cached: EraStateManager = _
  private var cachedSession: SparkSession = _

  /** The per-JVM fixture state manager (lazily built on first use).
    * Session-aware like `EraQueries.blocks`: a manager built on a retired
    * session would register its temp views into the OLD session's catalog
    * (temp views are per-session) and every `era_sql_state_*` query on
    * the new session would fail with TABLE_OR_VIEW_NOT_FOUND. */
  def manager(spark: SparkSession): EraStateManager = synchronized {
    if (cached == null || cachedSession == null || cachedSession.ne(spark) ||
        cachedSession.sparkContext.isStopped) {
      cached = build(spark)
      cachedSession = spark
    }
    cached
  }

  private def build(spark: SparkSession): EraStateManager = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-state-fixture").toString
    val mgr = new EraStateManager(spark, dir)
    // real decoded per-era record counts — bounded: one row per fixture era
    val eras: Seq[(Long, Long)] = EraQueries.blocks(spark).toDF()
      .groupBy(col("era_number")).agg(count(lit(1)).as("n"))
      .orderBy(col("era_number"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    eras.zipWithIndex.foreach { case ((era, n), i) =>
      mgr.recordEraStart(era, Network)
      if (i == 0 && eras.size > 1) {
        // transient failure → retry → success: retry_count history
        mgr.recordEraFailure(era, Network, "simulated transient export failure")
        mgr.recordEraStart(era, Network)
      }
      if (i == eras.size - 1 && eras.size > 1)
        // terminal (latest-state) failure: the "needing attention" row
        mgr.recordEraFailure(era, Network, "incomplete era: awaiting next file")
      else
        mgr.recordEraCompletion(era, Network, Normalizer.datasetNames, n)
    }
    mgr
  }
}
