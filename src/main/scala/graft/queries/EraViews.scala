package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.model.DecodedBlock
import graft.operators.Normalizer

/**
 * Raw-SQL surface over the era-domain tables — the missing half of the
 * reference's user contract: its entire downstream query corpus is
 * documented as SQL the user pastes against the exported tables
 * (docs/CLICKHOUSE.md:340-920), so an engine swap has to let that SQL run
 * (near-)verbatim, not only through a Scala query map.
 *
 * [[register]] exposes the 16 tables of [[Normalizer.warehouseTables]] (the
 * normalized tables blocks, attestations, transactions, … plus the wide
 * single-file shape `wide_blocks`) as TEMP VIEWS, after which
 * `spark.sql("SELECT … FROM attestations …")` works directly. Views are
 * lazy plans over the one shared decode — registering costs nothing until
 * a query runs, and every SQL query hits the same cached decode the
 * DataFrame corpus uses (no second scan).
 *
 * The `era_sql_*` queries below are CLICKHOUSE.md queries translated to
 * Spark SQL TEXT (ClickHouse's `toStartOfDay`/`count()` become ANSI
 * `date_trunc`/`count(*)`; the rolling `now() − INTERVAL` guards are
 * dropped because the fixture corpus is historical) and executed through
 * `spark.sql` against these views. Each is oracle-gated with the SAME
 * DuckDB SQL as its DataFrame twin in [[EraQueries]], and
 * `EraViewsSpec` asserts text-vs-DataFrame result equality row-for-row.
 */
object EraViews {

  /** Register all era tables as temp views over an arbitrary decoded-block
    * dataset — the production entry (point it at any era directory's
    * decode). */
  def register(spark: SparkSession, blocks: Dataset[DecodedBlock]): Unit = {
    // temp views land in the session that OWNS the frame — a mismatched
    // pair would "succeed" while registering into the wrong catalog and
    // the caller's spark.sql would fail with TABLE_OR_VIEW_NOT_FOUND
    require(blocks.sparkSession eq spark,
      "register: blocks belongs to a different SparkSession than the one passed")
    Normalizer.warehouseTables.foreach(t => t.project(blocks).createOrReplaceTempView(t.name))
  }

  /** Fixture-backed registration (the harness/test entry): views over the
    * same cached decode every era query shares. */
  def register(spark: SparkSession): Unit =
    register(spark, EraQueries.blocks(spark))

  /** Bind the warehouse views for the single network under `dir` — the
    * common case (the reference exports one network per pipeline run).
    * A root holding several networks must name one explicitly via the
    * 3-arg overload; detecting is cheap (one directory listing), choosing
    * silently would be wrong. */
  def registerWarehouse(spark: SparkSession, dir: String): Unit = {
    // Hadoop FS, not java.nio: the warehouse contract is "any store Spark
    // can read" (hdfs://, s3a://, local) — a scheme'd path under java.nio
    // would read as a relative local dir and refuse a perfectly good store
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.getFileStatus(root).isDirectory, s"no warehouse at $dir")
    val nets = fs.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).filterNot(_.startsWith("_")).sorted
    require(nets.size == 1,
      s"warehouse at $dir holds networks [${nets.mkString(", ")}]; " +
        "name one: registerWarehouse(spark, dir, network)")
    registerWarehouse(spark, dir, nets.head)
  }

  /** Bind the SAME views to an AT-REST warehouse directory — the layout
    * [[graft.export.IncrementalExporter.runWarehouse]] writes (one
    * era-partitioned parquet directory per table under
    * `dir/<network>`). This is
    * the other half of the reference's SQL contract: its users paste SQL
    * against the EXPORTED tables (docs/CLICKHOUSE.md:340-920 assumes
    * ClickHouse tables on disk), not against an in-session decode — so an
    * engine swap needs `spark.sql(text)` to run against the warehouse with
    * no decode in sight. Every `era_sql_*` text here runs unchanged.
    *
    * Schema alignment: each view is projected onto the table's canonical
    * decode schema (derived from an EMPTY dataset — no decode executes)
    * with `era_number` appended as the LAST column, because `partitionBy`
    * moves the key to directory names whose read-back type is
    * directory-inferred (INT, not the decode's BIGINT). The cast/reorder
    * is a narrow projection; era-ranged predicates still prune partitions
    * through the cast (UnwrapCastInBinaryComparison strips it before
    * partition pruning — plan-asserted in `EraWarehouseSpec`). The
    * partition key stays visible in every view — `WHERE era_number = N`
    * is the at-rest contract's point-lookup idiom. */
  def registerWarehouse(spark: SparkSession, dir: String, network: String): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val empty = spark.emptyDataset[DecodedBlock]
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bind(name: String, canonical: org.apache.spark.sql.types.StructType): Unit = {
      val path = s"$dir/$network/$name"
      require(fs.exists(new org.apache.hadoop.fs.Path(path)),
        s"warehouse table missing at $path — expected the " +
          "warehouse layout IncrementalExporter.runWarehouse writes " +
          "(<dir>/<network>/<table>/era_number=N/)")
      // read with the EXPLICIT canonical schema (+ the era_number partition
      // key): schema inference would (a) pay a footer-listing pass per
      // table per registration and (b) throw "Unable to infer schema" for
      // a table that was legitimately EMPTY at export time — partitionBy
      // of zero rows emits only _SUCCESS, no part files — even though the
      // canonical schema is known right here
      val readSchema = canonical.add("era_number", org.apache.spark.sql.types.LongType)
      val ordered = canonical.fieldNames.toSeq.map(n => col(n).as(n)) :+
        col("era_number").cast("long").as("era_number")
      spark.read.schema(readSchema).parquet(path)
        .select(ordered: _*).createOrReplaceTempView(name)
    }
    Normalizer.warehouseTables.foreach(t => bind(t.name, t.project(empty).schema))
  }

  private def sql(s: SparkSession, text: String): DataFrame = {
    register(s)
    s.sql(text)
  }

  /** Lazily-built fixture WAREHOUSE (the fixture eras landed by
    * [[landWarehouse]] in a temp directory, one per JVM, removed on
    * exit): the `era_sql_wh_*` queries
    * run the SAME ClickHouse-derived texts against the AT-REST views, so
    * the driver's oracle gate checks the full contract end to end —
    * decode → partitioned export → SQL over the exported tables — not
    * just the in-session half. */
  @volatile private var fixtureWarehouse: String = _
  private def warehouseDir(s: SparkSession): String = synchronized {
    if (fixtureWarehouse == null) {
      val root = java.nio.file.Files.createTempDirectory("graft-wh").toString
      sys.addShutdownHook(graft.Bench.deleteRecursively(root))
      landWarehouse(s.read.format("era").load(graft.testkit.EraFixtures.ensureGenerated()),
        s"$root/wh")
      fixtureWarehouse = s"$root/wh"
    }
    fixtureWarehouse
  }

  /** Land every era of the raw era `records` into the warehouse at `wh`
    * through the per-era loop ([[graft.export.IncrementalExporter.runWarehouse]]),
    * one call per network, on a fresh state log that is deleted after. */
  private[graft] def landWarehouse(records: DataFrame, wh: String): Unit = {
    import org.apache.spark.sql.functions.col
    val spark = records.sparkSession
    val state = java.nio.file.Files.createTempDirectory("graft-wh-state").toString
    try records.select("network", "era_number").distinct().collect()
      .groupBy(_.getString(0)).toSeq.sortBy(_._1).foreach { case (net, rows) =>
        val eras = rows.map(_.getLong(1)).sorted.toSeq
        val done = graft.export.IncrementalExporter.runWarehouse(spark,
          new graft.export.EraStateManager(spark, state), net, eras, wh) { era =>
          records.filter(col("network") === net && col("era_number") === era)
        }
        require(done == eras, s"$net: landed eras $done of $eras")
      }
    finally graft.Bench.deleteRecursively(state)
  }

  private def sqlWarehouse(s: SparkSession, text: String): DataFrame = {
    // registration is deliberately NOT memoized: decode-backed `era_sql_*`
    // queries rebind the SAME view names between warehouse queries, so a
    // skipped re-register would silently run the wh query against decode
    // views — vacuously green (decode ≡ warehouse is exactly what these
    // queries exist to prove) while exercising nothing at rest. The ~35
    // FS round-trips per bind are fixture-local; a production caller
    // holding one store binds once and queries freely.
    registerWarehouse(s, warehouseDir(s))
    s.sql(text)
  }

  /** Register the era-state bookkeeping views: `era_completion` is the
    * latest-state read (the reference's argmax-by-version semantics —
    * ClickHouse ReplacingMergeTree FINAL), `era_completion_log` the raw
    * append-only event log (what the performance query scans). */
  def registerState(spark: SparkSession): Unit = {
    val mgr = EraStateFixture.manager(spark)
    mgr.eraStatus.createOrReplaceTempView("era_completion")
    mgr.log.createOrReplaceTempView("era_completion_log")
  }

  private def sqlState(s: SparkSession, text: String): DataFrame = {
    registerState(s)
    s.sql(text)
  }

  /** CLICKHOUSE.md:386-399 — daily activity (toStartOfDay → date_trunc). */
  val DailyActivitySql: String =
    """SELECT date_trunc('day', timestamp_utc) AS day,
      |       count(*) AS n_blocks,
      |       count(DISTINCT proposer_index) AS n_proposers
      |FROM blocks
      |GROUP BY day
      |ORDER BY day""".stripMargin

  /** CLICKHOUSE.md:500-508 — missing-slot analysis, verbatim global-lag
    * form. NOTE the documented SQL is the inherently-global window (one
    * partition); [[EraQueries]]'s `era_slot_gaps` is the scale-safe
    * per-era restatement — both produce the same gaps, and the spec
    * checks them against each other. */
  val SlotGapsSql: String =
    """SELECT slot,
      |       lag(slot) OVER (ORDER BY slot) AS prev_slot,
      |       slot - coalesce(lag(slot) OVER (ORDER BY slot), slot) AS gap
      |FROM blocks
      |ORDER BY slot""".stripMargin

  /** CLICKHOUSE.md:604-613 — attestation participation per committee. */
  val AttestationParticipationSql: String =
    """SELECT committee_index,
      |       count(*) AS attestations,
      |       count(DISTINCT attestation_slot) AS slots_attested,
      |       count(DISTINCT slot) AS inclusion_slots,
      |       round(avg(slot - attestation_slot), 4) AS avg_inclusion_delay
      |FROM attestations
      |GROUP BY committee_index
      |ORDER BY attestations DESC, committee_index""".stripMargin

  /** CLICKHOUSE.md:616-624 — voluntary exits by month. */
  val ExitsMonthlySql: String =
    """SELECT date_trunc('month', timestamp_utc) AS month,
      |       count(*) AS exit_count,
      |       count(DISTINCT validator_index) AS unique_validators
      |FROM voluntary_exits
      |GROUP BY month
      |ORDER BY month""".stripMargin

  /** CLICKHOUSE.md:512-524 — tx volume by fee recipient with global share
    * (the scalar subquery denominator, verbatim shape). */
  val TxFeeRecipientsSql: String =
    """SELECT fee_recipient,
      |       count(*) AS transactions,
      |       round(avg(gas_limit), 2) AS avg_gas_limit,
      |       round(avg(gas_used), 2) AS avg_gas_used,
      |       round(count(*) * cast(100.0 AS DOUBLE) / (SELECT count(*) FROM transactions), 4) AS percentage
      |FROM transactions
      |GROUP BY fee_recipient
      |ORDER BY transactions DESC, fee_recipient
      |LIMIT 20""".stripMargin

  /** CLICKHOUSE.md:628-638 — sync committee participation by hour
    * (toStartOfHour → date_trunc). */
  val SyncParticipationSql: String =
    """SELECT date_trunc('hour', timestamp_utc) AS hour,
      |       round(avg(participating_validators), 2) AS avg_participation,
      |       min(participating_validators) AS min_participation,
      |       max(participating_validators) AS max_participation,
      |       count(*) AS total_sync_aggregates
      |FROM sync_aggregates
      |GROUP BY hour
      |ORDER BY hour""".stripMargin

  /** CLICKHOUSE.md:666-685 — attester-slashing classification (double vs
    * surround vote), the documented CASE verbatim; ordered by the table
    * key instead of `timestamp_utc DESC` so the result is deterministic
    * under slot-timestamp ties (the twin's column set). */
  val SlashingClassifiedSql: String =
    """SELECT slot, slashing_index, att_1_committee_index,
      |       att_1_validator_count, att_2_validator_count,
      |       total_slashed_validators,
      |       CASE
      |         WHEN att_1_target_epoch = att_2_target_epoch THEN 'Double Vote'
      |         WHEN att_1_source_epoch < att_2_source_epoch
      |          AND att_1_target_epoch > att_2_target_epoch THEN 'Surround Vote'
      |         ELSE 'Other'
      |       END AS slashing_type
      |FROM attester_slashings
      |ORDER BY slot, slashing_index""".stripMargin

  /** CLICKHOUSE.md:733-745 — repeat BLS changers (groupArray →
    * sort_array+array_join for a deterministic address list). */
  val BlsTopValidatorsSql: String =
    """SELECT validator_index,
      |       count(*) AS change_count,
      |       array_join(sort_array(collect_list(to_execution_address)), ',')
      |         AS execution_addresses
      |FROM bls_changes
      |GROUP BY validator_index
      |ORDER BY change_count DESC, validator_index""".stripMargin

  /** CLICKHOUSE.md:749-760 — blob commitment patterns. The documented
    * `avg(count()) OVER ()` is an all-rows window (one partition); the
    * scale-safe restatement is a scalar aggregate over the hourly frame
    * cross-joined back — identical values, no single-partition Exchange
    * (same shape as the `era_blob_patterns` DataFrame twin). */
  val BlobPatternsSql: String =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', timestamp_utc) AS hour,
      |         count(*) AS total_commitments,
      |         count(DISTINCT slot) AS blocks_with_blobs
      |  FROM blob_commitments
      |  GROUP BY hour),
      |a AS (SELECT round(avg(total_commitments), 4) AS avg_hourly_commitments
      |      FROM hourly)
      |SELECT hour, total_commitments, blocks_with_blobs, avg_hourly_commitments
      |FROM hourly CROSS JOIN a
      |ORDER BY hour""".stripMargin

  /** CLICKHOUSE.md:477-487 — block production statistics, verbatim over
    * `wide_blocks` (the child-count columns live on the wide shape; the
    * reference's `blocks` table carries them inline). Deterministic
    * proposer tie-break added to the documented ORDER BY. */
  val BlockProductionSql: String =
    """SELECT proposer_index,
      |       count(*) AS blocks_proposed,
      |       round(avg(attestation_count), 4) AS avg_attestations,
      |       min(timestamp_utc) AS first_block,
      |       max(timestamp_utc) AS last_block
      |FROM wide_blocks
      |GROUP BY proposer_index
      |ORDER BY blocks_proposed DESC, proposer_index
      |LIMIT 20""".stripMargin

  /** CLICKHOUSE.md:489-498 — block timing analysis by hour. */
  val BlockTimingSql: String =
    """SELECT date_trunc('hour', timestamp_utc) AS hour,
      |       count(*) AS block_count,
      |       round(avg(attestation_count), 4) AS avg_attestations,
      |       round(avg(deposit_count), 4) AS avg_deposits
      |FROM wide_blocks
      |GROUP BY hour
      |ORDER BY hour""".stripMargin

  /** CLICKHOUSE.md:410-420 — withdrawal request patterns by hour of day
    * (toHour → hour()). */
  val WithdrawalHourlySql: String =
    """SELECT cast(hour(timestamp_utc) AS BIGINT) AS hour,
      |       count(*) AS withdrawal_requests,
      |       round(avg(amount), 2) AS avg_amount_gwei,
      |       count(DISTINCT source_address) AS unique_addresses,
      |       count(DISTINCT validator_pubkey) AS unique_validators
      |FROM withdrawal_requests
      |GROUP BY hour
      |ORDER BY hour""".stripMargin

  /** CLICKHOUSE.md:422-459 — cross-request-type analysis, the three-way
    * UNION ALL verbatim (consolidations carry no amount → literal 0);
    * request_type tie-break added for a deterministic order. */
  val RequestMixSql: String =
    """SELECT 'deposit_requests' AS request_type,
      |       count(*) AS total_requests,
      |       sum(amount) AS total_amount_gwei,
      |       count(DISTINCT pubkey) AS unique_keys,
      |       min(timestamp_utc) AS earliest_request,
      |       max(timestamp_utc) AS latest_request
      |FROM deposit_requests
      |UNION ALL
      |SELECT 'withdrawal_requests' AS request_type,
      |       count(*) AS total_requests,
      |       sum(amount) AS total_amount_gwei,
      |       count(DISTINCT validator_pubkey) AS unique_keys,
      |       min(timestamp_utc) AS earliest_request,
      |       max(timestamp_utc) AS latest_request
      |FROM withdrawal_requests
      |UNION ALL
      |SELECT 'consolidation_requests' AS request_type,
      |       count(*) AS total_requests,
      |       cast(0 AS BIGINT) AS total_amount_gwei,
      |       count(DISTINCT source_pubkey) AS unique_keys,
      |       min(timestamp_utc) AS earliest_request,
      |       max(timestamp_utc) AS latest_request
      |FROM consolidation_requests
      |ORDER BY total_requests DESC, request_type""".stripMargin

  /** CLICKHOUSE.md:385-394 — deposit request trends by day. */
  val DepositTrendsSql: String =
    """SELECT date_trunc('day', timestamp_utc) AS day,
      |       count(*) AS deposit_requests,
      |       sum(amount) AS total_amount_gwei,
      |       count(DISTINCT pubkey) AS unique_validators
      |FROM deposit_requests
      |GROUP BY day
      |ORDER BY day""".stripMargin

  /** CLICKHOUSE.md:396-408 — top addresses by consolidation requests
    * (deterministic address tie-break added to the documented ORDER BY). */
  val ConsolidationAddressesSql: String =
    """SELECT source_address,
      |       count(*) AS consolidation_count,
      |       count(DISTINCT source_pubkey) AS validators_consolidated,
      |       count(DISTINCT target_pubkey) AS target_validators,
      |       min(timestamp_utc) AS first_consolidation,
      |       max(timestamp_utc) AS last_consolidation
      |FROM consolidation_requests
      |GROUP BY source_address
      |ORDER BY consolidation_count DESC, source_address
      |LIMIT 20""".stripMargin

  /** CLICKHOUSE.md:461-473 — validator consolidation efficiency. The
    * documented `HAVING total_consolidations >= 5` production threshold is
    * lowered to `>= 1`: the fixture corpus holds a handful of requests and
    * the gate's value is the ratio semantics, not the cutoff (same spirit
    * as dropping the `now() − INTERVAL` guards). */
  val ConsolidationEfficiencySql: String =
    """SELECT source_address,
      |       count(*) AS total_consolidations,
      |       count(DISTINCT source_pubkey) AS source_validators,
      |       count(DISTINCT target_pubkey) AS target_validators,
      |       round(count(DISTINCT source_pubkey) * cast(1.0 AS DOUBLE)
      |             / count(DISTINCT target_pubkey), 2) AS consolidation_ratio
      |FROM consolidation_requests
      |GROUP BY source_address
      |HAVING count(*) >= 1
      |ORDER BY consolidation_ratio DESC, source_address
      |LIMIT 20""".stripMargin

  /** CLICKHOUSE.md:526-535 — transaction patterns by hour of day. The
    * documented `avg(transaction_count) OVER ()` is an all-rows window
    * (one partition); restated as a scalar aggregate cross-joined back —
    * the blob-patterns discipline: identical values, no single-partition
    * Exchange. */
  val TxHourlySql: String =
    """WITH hourly AS (
      |  SELECT cast(hour(timestamp_utc) AS BIGINT) AS hour,
      |         count(*) AS transaction_count
      |  FROM transactions
      |  GROUP BY hour),
      |a AS (SELECT round(avg(transaction_count), 4) AS avg_hourly_txs FROM hourly)
      |SELECT hour, transaction_count, avg_hourly_txs
      |FROM hourly CROSS JOIN a
      |ORDER BY hour""".stripMargin

  /** CLICKHOUSE.md:537-551 — per-block gas utilization: blocks ⋈
    * execution_payloads (1:1 on slot) LEFT ⋈ transactions for the count —
    * the documented three-way join verbatim, slot tie-break added. */
  val GasUtilizationSql: String =
    """SELECT b.slot,
      |       ep.gas_limit, ep.gas_used,
      |       round((ep.gas_used * cast(100.0 AS DOUBLE)) / ep.gas_limit, 2)
      |         AS gas_utilization_percent,
      |       ep.base_fee_per_gas,
      |       count(tx.transaction_hash) AS transaction_count
      |FROM blocks b
      |JOIN execution_payloads ep ON b.slot = ep.slot
      |LEFT JOIN transactions tx ON b.slot = tx.slot
      |WHERE ep.gas_used > 0
      |GROUP BY b.slot, ep.gas_limit, ep.gas_used, ep.base_fee_per_gas
      |ORDER BY gas_utilization_percent DESC, b.slot
      |LIMIT 100""".stripMargin

  /** CLICKHOUSE.md:879-901 — ingestion health check: per-table data
    * freshness + row counts through one multi-table UNION (the `today()`
    * guard dropped: the fixture corpus is historical). */
  val HealthFreshnessSql: String =
    """SELECT tbl, max(timestamp_utc) AS latest_data, count(*) AS n_rows
      |FROM (
      |  SELECT 'blocks' AS tbl, timestamp_utc FROM blocks
      |  UNION ALL SELECT 'transactions', timestamp_utc FROM transactions
      |  UNION ALL SELECT 'attestations', timestamp_utc FROM attestations
      |  UNION ALL SELECT 'withdrawals', timestamp_utc FROM withdrawals
      |  UNION ALL SELECT 'deposit_requests', timestamp_utc FROM deposit_requests
      |  UNION ALL SELECT 'withdrawal_requests', timestamp_utc FROM withdrawal_requests
      |  UNION ALL SELECT 'consolidation_requests', timestamp_utc FROM consolidation_requests
      |) u
      |GROUP BY tbl
      |ORDER BY tbl""".stripMargin

  /** CLICKHOUSE.md:914-952 — the documented data-quality audit: five
    * issue probes UNIONed into one report (zero-timestamp blocks, orphan
    * execution payloads via the LEFT-JOIN-null anti shape, empty deposit
    * pubkeys, zero-amount withdrawal requests, self-targeted
    * consolidations). Counts are expected to be zero on healthy data —
    * the value gate pins that they ARE zero on the fixture corpus, and
    * that both engines agree on the probe semantics. */
  val DataQualitySql: String =
    """SELECT 'blocks_with_zero_timestamp' AS issue, count(*) AS n
      |FROM blocks
      |WHERE timestamp_utc = timestamp'1970-01-01 00:00:00' AND slot > 0
      |UNION ALL
      |SELECT 'execution_payloads_without_blocks', count(*)
      |FROM execution_payloads ep LEFT JOIN blocks b ON ep.slot = b.slot
      |WHERE b.slot IS NULL
      |UNION ALL
      |SELECT 'deposit_requests_with_empty_pubkey', count(*)
      |FROM deposit_requests WHERE pubkey = ''
      |UNION ALL
      |SELECT 'withdrawal_requests_with_zero_amount', count(*)
      |FROM withdrawal_requests WHERE amount = 0
      |UNION ALL
      |SELECT 'consolidation_requests_same_source_target', count(*)
      |FROM consolidation_requests WHERE source_pubkey = target_pubkey
      |ORDER BY issue""".stripMargin

  /** CLICKHOUSE.md:347-354 — era completion status summary (the A5
    * `summary` operator as the documented SQL text). */
  val StateStatusSql: String =
    """SELECT status,
      |       count(*) AS era_count,
      |       sum(total_records) AS total_records
      |FROM era_completion
      |WHERE network = 'gnosis'
      |GROUP BY status
      |ORDER BY status""".stripMargin

  /** CLICKHOUSE.md:356-366 — recent processing activity (the rolling
    * `processing_started_at` guard dropped: fixture history; recorded_at
    * stands in for the reference's completed_at column). */
  val StateRecentSql: String =
    """SELECT era_number, status, total_records,
      |       recorded_at AS completed_at, error_message
      |FROM era_completion
      |WHERE network = 'gnosis'
      |ORDER BY era_number DESC""".stripMargin

  /** CLICKHOUSE.md:368-378 — failed eras needing attention (latest state
    * IS failed — eras that failed then completed on retry don't appear,
    * the reference's semantics). */
  val StateFailedSql: String =
    """SELECT era_number, retry_count, error_message
      |FROM era_completion
      |WHERE network = 'gnosis' AND status = 'failed'
      |ORDER BY era_number""".stripMargin

  /** CLICKHOUSE.md:902-912 — processing performance by hour. Runs over the
    * raw event log (every attempt is an event, the documented table
    * semantics) rather than the latest-state view. */
  val StatePerfSql: String =
    """SELECT date_trunc('hour', recorded_at) AS hour,
      |       count(*) AS events,
      |       count_if(status = 'completed') AS eras_completed,
      |       round(avg(retry_count), 4) AS avg_retries,
      |       count_if(status = 'failed') AS failed,
      |       sum(total_records) AS total_rows
      |FROM era_completion_log
      |GROUP BY hour
      |ORDER BY hour""".stripMargin

  /** The SQL-text query corpus: each runs through `spark.sql` against the
    * registered views and carries the same oracle as its DataFrame twin. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "era_sql_state_status" -> ((s, _) => sqlState(s, StateStatusSql)),
    "era_sql_state_recent" -> ((s, _) => sqlState(s, StateRecentSql)),
    "era_sql_state_failed" -> ((s, _) => sqlState(s, StateFailedSql)),
    "era_sql_state_perf" -> ((s, _) => sqlState(s, StatePerfSql)),
    "era_sql_deposit_trends" -> ((s, _) => sql(s, DepositTrendsSql)),
    "era_sql_consolidation_addresses" ->
      ((s, _) => sql(s, ConsolidationAddressesSql)),
    "era_sql_consolidation_efficiency" ->
      ((s, _) => sql(s, ConsolidationEfficiencySql)),
    "era_sql_tx_hourly" -> ((s, _) => sql(s, TxHourlySql)),
    "era_sql_gas_utilization" -> ((s, _) => sql(s, GasUtilizationSql)),
    "era_sql_health_freshness" -> ((s, _) => sql(s, HealthFreshnessSql)),
    "era_sql_data_quality" -> ((s, _) => sql(s, DataQualitySql)),
    "era_sql_daily_activity" -> ((s, _) => sql(s, DailyActivitySql)),
    "era_sql_slot_gaps" -> ((s, _) => sql(s, SlotGapsSql)),
    "era_sql_attestation_participation" ->
      ((s, _) => sql(s, AttestationParticipationSql)),
    // the same texts against the AT-REST warehouse views — the
    // paste-SQL-against-exported-tables half of the reference contract,
    // oracle-gated with the identical DuckDB SQL as the decode-backed twins
    "era_sql_wh_daily_activity" -> ((s, _) => sqlWarehouse(s, DailyActivitySql)),
    "era_sql_wh_attestation_participation" ->
      ((s, _) => sqlWarehouse(s, AttestationParticipationSql)),
    "era_sql_wh_exits_monthly" -> ((s, _) => sqlWarehouse(s, ExitsMonthlySql)),
    "era_sql_exits_monthly" -> ((s, _) => sql(s, ExitsMonthlySql)),
    "era_sql_tx_fee_recipients" -> ((s, _) => sql(s, TxFeeRecipientsSql)),
    "era_sql_sync_participation" -> ((s, _) => sql(s, SyncParticipationSql)),
    "era_sql_slashing_classified" -> ((s, _) => sql(s, SlashingClassifiedSql)),
    "era_sql_bls_top_validators" -> ((s, _) => sql(s, BlsTopValidatorsSql)),
    "era_sql_blob_patterns" -> ((s, _) => sql(s, BlobPatternsSql)),
    "era_sql_block_production" -> ((s, _) => sql(s, BlockProductionSql)),
    "era_sql_block_timing" -> ((s, _) => sql(s, BlockTimingSql)),
    "era_sql_withdrawal_hourly" -> ((s, _) => sql(s, WithdrawalHourlySql)),
    "era_sql_request_mix" -> ((s, _) => sql(s, RequestMixSql)))
}
