package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.model.DecodedBlock
import graft.operators.Normalizer
import graft.testkit.EraFixtures

/**
 * Era-domain query corpus: the full scan→decompress→decode→explode pipeline
 * plus the documented downstream analytics surface
 * (docs/CLICKHOUSE.md:340-920 in the reference). These run on fixture-derived
 * era files (deterministic, generated from the RPC fixtures), so the driver
 * records rows-only checks — value-level correctness is pinned by
 * DecodeFixtureSpec / EraPipelineSpec against the RPC oracle.
 *
 * Scale notes: the pipeline is a narrow map (scan → decode → explode); no
 * shuffle until an aggregation. One input partition per era file ⇒ a 100 TB
 * era archive parallelizes across files. Aggregations below shuffle only
 * group keys (partial agg), windows partition by slot-derived keys except
 * the inherently-global gap analysis (flagged).
 */
object EraQueries {

  /** Single-slot per-session decode cache — the harness (Bench/Verify)
    * gets the decode-once-fan-out-15-tables shape the reference uses. One
    * slot, explicitly released on session change, so library use never
    * accumulates retired sessions' plans or cached blocks (a weak map
    * would not work here: the Dataset strongly references its own
    * SparkSession, so a session-keyed entry could never be collected). */
  @volatile private var cachedBlocks: Dataset[DecodedBlock] = _

  /** Decoded blocks over the fixture era directory; cached across queries
    * within a session (the reference decodes once and fans out 15 tables —
    * same shape here). */
  def blocks(spark: SparkSession): Dataset[DecodedBlock] = synchronized {
    if (cachedBlocks == null || cachedBlocks.sparkSession.ne(spark)) {
      if (cachedBlocks != null) {
        // release the previous session's cached blocks (no-op if stopped)
        try cachedBlocks.unpersist() catch { case _: Throwable => () }
      }
      val dir = EraFixtures.ensureGenerated()
      cachedBlocks = Normalizer.decodeBlocks(spark.read.format("era").load(dir)).cache()
    }
    cachedBlocks
  }

  @volatile private var cachedMainnetBlocks: Dataset[DecodedBlock] = _

  /** Decoded blocks over the MAINNET fixture eras
    * ([[graft.testkit.MainnetEraFixture]]) — the second network config
    * through the identical decode plan (filename → network → fork ladder →
    * timestamp), cached like [[blocks]]. */
  def mainnetBlocks(spark: SparkSession): Dataset[DecodedBlock] = synchronized {
    if (cachedMainnetBlocks == null || cachedMainnetBlocks.sparkSession.ne(spark)) {
      if (cachedMainnetBlocks != null)
        try cachedMainnetBlocks.unpersist() catch { case _: Throwable => () }
      val dir = graft.testkit.MainnetEraFixture.ensureGenerated()
      cachedMainnetBlocks =
        Normalizer.decodeBlocks(spark.read.format("era").load(dir)).cache()
    }
    cachedMainnetBlocks
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = {
    // every warehouse table is directly a query: the 15-way explode is the
    // reference's core "query" (processor.py:101-399), and the wide
    // single-file all-blocks shape is its export (export/base.py:59-153)
    val tables: Map[String, (SparkSession, String) => DataFrame] =
      Normalizer.warehouseTables.map { t =>
        s"era_${t.name}" -> ((s: SparkSession, _: String) =>
          t.project(blocks(s)).orderBy("slot"))
      }.toMap

    tables ++ Map(
      // S3/A1: record stats scan (era_reader.py:135-155)
      "era_stats" -> ((s, _) => {
        val dir = EraFixtures.ensureGenerated()
        s.read.format("era").load(dir)
          .groupBy(col("record_type"))
          .agg(count(lit(1)).as("n"),
            min(when(col("record_type") === "block", col("slot"))).as("min_slot"),
            max(when(col("record_type") === "block", col("slot"))).as("max_slot"))
          .orderBy(col("record_type"))
      }),
      // F20/F21/F22 on the NON-DEFAULT network: decoded fork / era / epoch /
      // timestamp for the mainnet fixtures. The oracle recomputes fork from
      // the mainnet epoch ladder and the timestamp from payload-time-else-
      // genesis+slot·12 (networks.py:1-41 mainnet row), so a regression that
      // silently falls back to the gnosis config fails the value hash.
      "era_mainnet_ladder" -> ((s, _) =>
        mainnetBlocks(s).toDF()
          .select(col("slot"), col("network"), col("version").as("fork"),
            col("era_number"),
            // the NETWORK's epoch geometry, not a hardcoded divisor — the
            // adjacent gnosis config uses 16 slots/epoch, so a copied
            // per-network variant with a literal silently computes wrong
            // epochs
            expr(s"slot div ${graft.config.Networks.mainnet.slotsPerEpoch}").as("epoch"),
            unix_seconds(col("timestamp_utc")).as("ts_epoch"))
          .orderBy(col("slot"))),
      // P1: point lookup — the slot predicate sits UNDER the decode, on
      // the era source itself, so pushdown prunes whole files before any
      // byte is read (filtering the cached decode instead would measure
      // cache filtering and leave EraFilePruning unexercised by the gate).
      // The decode is section-pruned to the blocks table (r13): the oracle
      // gate thereby value-verifies the pruned path end to end, including
      // the payload-timestamp fixed-offset read on post-merge forks.
      "era_point_lookup" -> ((s, _) => {
        val dir = graft.testkit.EraFixtures.ensureGenerated()
        Normalizer.blocksTable(Normalizer.decodeBlocks(
          s.read.format("era").load(dir).filter(col("slot") === 98300L),
          Set("blocks")))
      }),
      // P1 batch form: `slot IN (…)` — pushed as sources.In, file-pruned,
      // and answered through ONE SlotIndex tail parse + one probe per slot
      // per surviving file (EraFileReader.read; r13). The middle value
      // is a HOLE (no block at that slot in any fixture era), so the
      // indexed-miss path is oracle-checked too.
      "era_point_lookup_multi" -> ((s, _) => {
        val dir = graft.testkit.EraFixtures.ensureGenerated()
        Normalizer.blocksTable(Normalizer.decodeBlocks(
          s.read.format("era").load(dir)
            .filter(col("slot").isin(300L, 98301L, 16383000L)),
          Set("blocks")))
          .orderBy(col("slot"))
      }),
      // P1 range form (r14): a narrow `slot BETWEEN a AND b` arrives as
      // two AND-ed comparison filters; EraScan converts a ≤4096-slot
      // window into per-slot SlotIndex probes (holes indexed 0 are
      // skipped), so a slot-window query reads O(window) bytes instead of
      // walking every surviving file. 98299/98301 are holes; 98300 is the
      // altair fixture block — the oracle checks the probe+skip shape.
      "era_slot_range" -> ((s, _) => {
        val dir = graft.testkit.EraFixtures.ensureGenerated()
        Normalizer.blocksTable(Normalizer.decodeBlocks(
          s.read.format("era").load(dir)
            .filter(col("slot") >= 98299L && col("slot") <= 98301L),
          Set("blocks")))
          .orderBy(col("slot"))
      }),
      // dense-children × query-surface witness (VERDICT r15 #8): per-slot
      // child-row density across ALL 15 normalized tables, value-hashed —
      // the gnosis_dense_syn fixture's ~10× offset-table sizes flow
      // through an oracle-checked aggregation rather than only through
      // the decode specs. One narrow groupBy(slot) per table (partial
      // agg; child tables never shuffle whole rows), 15-way UNION of
      // slot-count frames — rows ∝ blocks, any scale.
      "era_child_density" -> ((s, _) => {
        val b = blocks(s)
        Normalizer.datasetNames.map { name =>
          Normalizer.dataset(b, name)
            .groupBy(col("slot")).agg(count(lit(1)).as("n_rows"))
            .select(lit(name).as("tbl"), col("slot"), col("n_rows"))
        }.reduce(_ unionByName _)
          .orderBy(col("tbl"), col("slot"))
      }),
      // CLICKHOUSE.md:604-613 — attestation inclusion delay
      "era_inclusion_delay" -> ((s, _) =>
        Normalizer.attestations(blocks(s))
          .groupBy(col("committee_index"))
          .agg(round(avg(col("slot") - col("attestation_slot")), 4).as("avg_inclusion_delay"),
            count(lit(1)).as("n_attestations"))
          .orderBy(col("committee_index"))),
      // CLICKHOUSE.md:500-508 — missing-slot gap analysis (W1). Scale-safe
      // form of the inherently-global chain-integrity lag: lag within
      // era_number partitions, then stitch era boundaries with a tiny
      // per-era frame (rows ∝ eras) — no single-reducer global window.
      "era_slot_gaps" -> ((s, _) => {
        val b = blocks(s).toDF().select(col("era_number"), col("slot"))
        val wEra = Window.partitionBy(col("era_number")).orderBy(col("slot"))
        val lagged = b.withColumn("prev_in_era", lag(col("slot"), 1).over(wEra))
        val eraBounds = b.groupBy(col("era_number")).agg(max(col("slot")).as("era_last"))
        val prevLast = eraBounds
          .withColumn("prev_era_last",
            lag(col("era_last"), 1).over(Window.orderBy(col("era_number"))))
          .select(col("era_number"), col("prev_era_last"))
        lagged.join(broadcast(prevLast), Seq("era_number"))
          .select(col("slot"),
            coalesce(col("prev_in_era"), col("prev_era_last")).as("prev_slot"))
          .withColumn("gap", col("slot") - coalesce(col("prev_slot"), col("slot")))
          .orderBy(col("slot"))
      }),
      // CLICKHOUSE.md:384-399 — per-fork block counts + sizes over time
      "era_fork_summary" -> ((s, _) =>
        blocks(s).toDF()
          .groupBy(col("version"))
          .agg(count(lit(1)).as("n_blocks"),
            sum(col("compressed_size")).as("total_compressed"),
            sum(col("decompressed_size")).as("total_decompressed"),
            min(col("slot")).as("min_slot"),
            max(col("slot")).as("max_slot"))
          .orderBy(col("version"))),
      // CLICKHOUSE.md:544-560 — blocks ⋈ execution_payloads ⋈ transactions
      "era_block_tx_join" -> ((s, _) => {
        val b = Normalizer.blocksTable(blocks(s)).select("slot", "proposer_index", "version")
        val p = Normalizer.executionPayloads(blocks(s))
          .select(col("slot"), col("block_number"), col("gas_used"))
        val t = Normalizer.transactions(blocks(s))
          .groupBy(col("slot")).agg(count(lit(1)).as("n_tx"))
        b.join(p, Seq("slot"))
          .join(t, Seq("slot"), "left")
          .select(col("slot"), col("proposer_index"), col("version"),
            col("block_number"), col("gas_used"), coalesce(col("n_tx"), lit(0L)).as("n_tx"))
          .orderBy(col("slot"))
      }),
      // CLICKHOUSE.md:804-815 — request tables FULL OUTER reconciliation (J3)
      "era_requests_reconciliation" -> ((s, _) => {
        val d = Normalizer.depositRequests(blocks(s))
          .groupBy(col("slot")).agg(count(lit(1)).as("n_deposit_req"))
        val w = Normalizer.withdrawalRequests(blocks(s))
          .groupBy(col("slot")).agg(count(lit(1)).as("n_withdrawal_req"))
        val c = Normalizer.consolidationRequests(blocks(s))
          .groupBy(col("slot")).agg(count(lit(1)).as("n_consolidation_req"))
        d.join(w, Seq("slot"), "full_outer").join(c, Seq("slot"), "full_outer")
          .select(col("slot"),
            coalesce(col("n_deposit_req"), lit(0L)).as("n_deposit_req"),
            coalesce(col("n_withdrawal_req"), lit(0L)).as("n_withdrawal_req"),
            coalesce(col("n_consolidation_req"), lit(0L)).as("n_consolidation_req"))
          .orderBy(col("slot"))
      }),
      // CLICKHOUSE.md:705-706 — JSON array extraction + containment over
      // attester_slashings (from_json + array_contains)
      "era_slashed_validator_search" -> ((s, _) =>
        Normalizer.attesterSlashings(blocks(s))
          .withColumn("indices_1",
            from_json(col("att_1_attesting_indices"), lit("array<bigint>")))
          .select(col("slot"), col("slashing_index"),
            array_contains(col("indices_1"), 0L).as("has_validator_0"),
            size(col("indices_1")).cast("long").as("n1"))
          .orderBy(col("slot"), col("slashing_index"))),
      // time-bucketed activity (toStartOfDay ladder, CLICKHOUSE.md:386-424)
      "era_daily_activity" -> ((s, _) =>
        Normalizer.blocksTable(blocks(s))
          .groupBy(date_trunc("day", col("timestamp_utc")).as("day"))
          .agg(count(lit(1)).as("n_blocks"),
            countDistinct(col("proposer_index")).as("n_proposers"))
          .orderBy(col("day"))),
      // CLICKHOUSE.md:476-489 — block production statistics (top proposers)
      "era_proposer_stats" -> ((s, _) =>
        Normalizer.blocksTable(blocks(s))
          .groupBy(col("proposer_index"))
          .agg(count(lit(1)).as("blocks_proposed"),
            min(col("timestamp_utc")).as("first_block"),
            max(col("timestamp_utc")).as("last_block"))
          .orderBy(col("blocks_proposed").desc, col("proposer_index"))
          .limit(20)),
      // CLICKHOUSE.md:512-524 — tx volume by fee recipient w/ global share.
      // The share denominator is a scalar agg cross-joined broadcast — not
      // a `sum() over ()` window, which would funnel every group through
      // one partition at real fee-recipient cardinality.
      "era_tx_fee_recipients" -> ((s, _) => {
        val tx = Normalizer.transactions(blocks(s))
        val grouped = tx.groupBy(col("fee_recipient"))
          .agg(count(lit(1)).as("transactions"),
            round(avg(col("gas_limit")), 2).as("avg_gas_limit"),
            round(avg(col("gas_used")), 2).as("avg_gas_used"))
        val total = tx.agg(count(lit(1)).as("total_tx"))
        grouped.crossJoin(broadcast(total))
          .withColumn("percentage",
            round(col("transactions") * 100.0 / col("total_tx"), 4))
          .drop("total_tx")
          .orderBy(col("transactions").desc, col("fee_recipient"))
          .limit(20)
      }),
      // CLICKHOUSE.md:555-580 — traditional vs request withdrawals (UNION ALL)
      "era_withdrawal_comparison" -> ((s, _) => {
        val w = Normalizer.withdrawals(blocks(s))
          .groupBy(date_trunc("day", col("timestamp_utc")).as("day"))
          .agg(count(lit(1)).as("withdrawal_count"),
            sum(col("amount")).as("total_withdrawn_gwei"),
            countDistinct(col("validator_index")).as("unique_validators"))
          .withColumn("withdrawal_type", lit("traditional_withdrawals"))
        val r = Normalizer.withdrawalRequests(blocks(s))
          .groupBy(date_trunc("day", col("timestamp_utc")).as("day"))
          .agg(count(lit(1)).as("withdrawal_count"),
            sum(col("amount")).as("total_withdrawn_gwei"),
            countDistinct(col("validator_pubkey")).as("unique_validators"))
          .withColumn("withdrawal_type", lit("withdrawal_requests"))
        w.unionByName(r).orderBy(col("day"), col("withdrawal_type"))
      }),
      // CLICKHOUSE.md:583-601 — deposits vs deposit_requests totals
      "era_deposit_comparison" -> ((s, _) => {
        val d = Normalizer.deposits(blocks(s))
          .agg(count(lit(1)).as("deposit_count"),
            sum(col("amount")).as("total_deposited_gwei"),
            countDistinct(col("pubkey")).as("unique_validators"))
          .withColumn("deposit_type", lit("traditional_deposits"))
        val r = Normalizer.depositRequests(blocks(s))
          .agg(count(lit(1)).as("deposit_count"),
            sum(col("amount")).as("total_deposited_gwei"),
            countDistinct(col("pubkey")).as("unique_validators"))
          .withColumn("deposit_type", lit("deposit_requests"))
        d.unionByName(r).orderBy(col("deposit_type"))
      }),
      // CLICKHOUSE.md:604-613 — attestation participation per committee
      "era_attestation_participation" -> ((s, _) =>
        Normalizer.attestations(blocks(s))
          .groupBy(col("committee_index"))
          .agg(count(lit(1)).as("attestations"),
            countDistinct(col("attestation_slot")).as("slots_attested"),
            countDistinct(col("slot")).as("inclusion_slots"),
            round(avg(col("slot") - col("attestation_slot")), 4).as("avg_inclusion_delay"))
          .orderBy(col("attestations").desc, col("committee_index"))),
      // CLICKHOUSE.md:616-624 — voluntary exits by month
      "era_exits_monthly" -> ((s, _) =>
        Normalizer.voluntaryExits(blocks(s))
          .groupBy(date_trunc("month", col("timestamp_utc")).as("month"))
          .agg(count(lit(1)).as("exit_count"),
            countDistinct(col("validator_index")).as("unique_validators"))
          .orderBy(col("month"))),
      // CLICKHOUSE.md:628-638 — sync participation (uses the popcount column
      // the reference declares but never computes)
      "era_sync_participation" -> ((s, _) =>
        Normalizer.syncAggregates(blocks(s))
          .groupBy(date_trunc("hour", col("timestamp_utc")).as("hour"))
          .agg(round(avg(col("participating_validators")), 2).as("avg_participation"),
            min(col("participating_validators")).as("min_participation"),
            max(col("participating_validators")).as("max_participation"),
            count(lit(1)).as("total_sync_aggregates"))
          .orderBy(col("hour"))),
      // CLICKHOUSE.md:641-650 — sync efficiency: avg + stddevPop by day
      "era_sync_efficiency" -> ((s, _) =>
        Normalizer.syncAggregates(blocks(s))
          .groupBy(date_trunc("day", col("timestamp_utc")).as("day"))
          .agg(round(avg(col("participating_validators")), 2).as("avg_participation"),
            round(coalesce(stddev_pop(col("participating_validators")), lit(0.0)), 4)
              .as("participation_stddev"),
            count(lit(1)).as("sync_count"))
          .orderBy(col("day"))),
      // CLICKHOUSE.md:666-685 — slashing classification (double/surround vote)
      "era_slashing_classified" -> ((s, _) =>
        Normalizer.attesterSlashings(blocks(s))
          .withColumn("slashing_type",
            when(col("att_1_target_epoch") === col("att_2_target_epoch"), "Double Vote")
              .when(col("att_1_source_epoch") < col("att_2_source_epoch") &&
                col("att_1_target_epoch") > col("att_2_target_epoch"), "Surround Vote")
              .otherwise("Other"))
          .select(col("slot"), col("slashing_index"), col("att_1_committee_index"),
            col("att_1_validator_count"), col("att_2_validator_count"),
            col("total_slashed_validators"), col("slashing_type"))
          .orderBy(col("slot"), col("slashing_index"))),
      // CLICKHOUSE.md:688-697 — largest slashings (top-k)
      "era_top_slashings" -> ((s, _) =>
        Normalizer.attesterSlashings(blocks(s))
          .select(col("slot"), col("total_slashed_validators"),
            col("att_1_validator_count"), col("att_2_validator_count"))
          .orderBy(col("total_slashed_validators").desc, col("slot"))
          .limit(20)),
      // CLICKHOUSE.md:710-719 — slashing trends by month
      "era_slashing_monthly" -> ((s, _) =>
        Normalizer.attesterSlashings(blocks(s))
          .groupBy(date_trunc("month", col("timestamp_utc")).as("month"))
          .agg(count(lit(1)).as("slashing_events"),
            sum(col("total_slashed_validators")).as("total_validators_slashed"),
            round(avg(col("total_slashed_validators")), 4).as("avg_validators_per_slashing"))
          .orderBy(col("month"))),
      // CLICKHOUSE.md:733-745 — repeat BLS changers with address groupArray
      "era_bls_top_validators" -> ((s, _) =>
        Normalizer.blsChanges(blocks(s))
          .groupBy(col("validator_index"))
          .agg(count(lit(1)).as("change_count"),
            array_join(sort_array(collect_list(col("to_execution_address"))), ",")
              .as("execution_addresses"))
          .orderBy(col("change_count").desc, col("validator_index"))),
      // CLICKHOUSE.md:749-760 — blob patterns with global hourly average
      // (W2). The global average is a scalar agg over the grouped frame,
      // cross-joined broadcast — no single-partition window.
      "era_blob_patterns" -> ((s, _) => {
        val hourly = Normalizer.blobCommitments(blocks(s))
          .groupBy(date_trunc("hour", col("timestamp_utc")).as("hour"))
          .agg(count(lit(1)).as("total_commitments"),
            countDistinct(col("slot")).as("blocks_with_blobs"))
        val avgHour = hourly.agg(
          round(avg(col("total_commitments")), 4).as("avg_hourly_commitments"))
        hourly.crossJoin(broadcast(avgHour)).orderBy(col("hour"))
      }),
      // CLICKHOUSE.md:762-771 — blocks with most blob commitments
      "era_blob_top_blocks" -> ((s, _) =>
        Normalizer.blobCommitments(blocks(s))
          .groupBy(col("slot"))
          .agg(count(lit(1)).as("commitment_count"))
          .orderBy(col("commitment_count").desc, col("slot"))
          .limit(20))
    )
  }
}
