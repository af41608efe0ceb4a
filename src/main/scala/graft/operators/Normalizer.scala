package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.config.Networks
import graft.decode.BlockDecoder
import graft.functions.HexPopcount.hex_popcount
import graft.model.DecodedBlock

/**
 * Decode + normalize: raw era records → decoded block Dataset → the 15
 * normalized relational tables (SURVEY.md §1.3, §2.4).
 *
 * The table set is defined once, as the catalog [[datasets]]: each entry
 * names a table, the body sections it reads and its projection.
 * [[warehouseTables]] adds the wide single-file shape, making the 16
 * tables the warehouse, its views, compaction and force-clean share.
 *
 * Every child extraction is a pure `DataFrame => DataFrame` of
 * `select`/`posexplode` over the nested block schema — a narrow, shuffle-free
 * map stage at any scale. Child rows inherit parent context by projection
 * (exactly how the reference denormalizes — processor.py:188-216); no joins.
 *
 * Column lists mirror extract_all_data (era_parser/core/processor.py:101-399)
 * and the ClickHouse DDL (migrations/sql/001_initial_tables_up.sql). Typed
 * divergences from the reference (intentional, SURVEY.md §1.4): uint64s are
 * LongType not String; timestamp_utc is TimestampType; JSON-array columns
 * (`proof`, `attesting_indices`) use Spark `to_json` (compact separators).
 */
object Normalizer {

  /** One table of the catalog: its name, the body sections its projection
    * reads (the header, eth1 data, graffiti, randao and timestamp are
    * always decoded, so `blocks` needs no variable section at all), and
    * the projection from the decoded blocks. */
  final case class Table(name: String, sections: Set[String],
      project: Dataset[DecodedBlock] => DataFrame)

  /** The 15 normalized datasets in the reference's order
    * (era_state_manager.py:30-36) — the one definition of the table set.
    * [[datasetNames]], [[sectionsFor]], [[dataset]] and [[allDatasets]]
    * derive from it, and [[warehouseTables]] extends it. */
  val datasets: Seq[Table] = Seq(
    Table("blocks", Set.empty, blocksTable),
    Table("sync_aggregates", Set("sync_aggregate"), syncAggregates),
    Table("execution_payloads", Set("execution_payload"), executionPayloads),
    Table("transactions", Set("execution_payload"), transactions),
    Table("withdrawals", Set("execution_payload"), withdrawals),
    Table("attestations", Set("attestations"), attestations),
    Table("deposits", Set("deposits"), deposits),
    Table("voluntary_exits", Set("voluntary_exits"), voluntaryExits),
    Table("proposer_slashings", Set("proposer_slashings"), proposerSlashings),
    Table("attester_slashings", Set("attester_slashings"), attesterSlashings),
    Table("bls_changes", Set("bls_to_execution_changes"), blsChanges),
    Table("blob_commitments", Set("blob_kzg_commitments"), blobCommitments),
    Table("deposit_requests", Set("execution_requests"), depositRequests),
    Table("withdrawal_requests", Set("execution_requests"), withdrawalRequests),
    Table("consolidation_requests", Set("execution_requests"), consolidationRequests))

  /** The 16 tables the warehouse stores and the views bind: the 15
    * datasets plus the wide single-file shape, which reads every section.
    * None carries `era_number`; the warehouse adds it to all 16 alike
    * ([[graft.export.StagedExport.networkTables]]). */
  val warehouseTables: Seq[Table] =
    datasets :+ Table("wide_blocks", datasets.flatMap(_.sections).toSet, wideBlocks)

  val datasetNames: Seq[String] = datasets.map(_.name)

  /** The column-pruning map for [[decodeBlocks]]. */
  val sectionsFor: Map[String, Set[String]] =
    datasets.map(t => t.name -> t.sections).toMap

  /** Decode raw era records (format("era") output) into the nested block
    * Dataset. Narrow mapPartitions — decode happens once; all 15 child
    * tables project from this (stage it when fanning out to all sinks).
    *
    * `tables` PRUNES the body parse to the sections those tables read —
    * decode-side column pruning, the SURVEY.md §4 optional upgrade the
    * reference's compute-all-then-select (processor.py:401-404) never had:
    * a single-table extract skips the other 14 sections' parse work
    * entirely (on attestation-heavy or payload-heavy forks that is most of
    * the decode CPU). The default, every table, is the full decode. A
    * pruned Dataset is ONLY valid for the requested tables — every other
    * body field is deliberately empty. Equality with the full decode on
    * the requested tables is pinned by `SectionPruningSpec`; see
    * [[graft.decode.BlockDecoder.decode]] for the corrupt-pruned-section
    * contract. */
  def decodeBlocks(records: DataFrame,
      tables: Set[String] = datasetNames.toSet): Dataset[DecodedBlock] = {
    val unknown = tables.diff(datasetNames.toSet)
    require(unknown.isEmpty, s"Unknown datasets: ${unknown.mkString(", ")}")
    val sections = tables.flatMap(sectionsFor)
    val spark = records.sparkSession
    import spark.implicits._
    records
      .filter(col("record_type") === "block")
      .select("slot", "data", "network", "era_number", "source_file")
      .as[(Long, Array[Byte], String, Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (slot, data, net, era, file) =>
          BlockDecoder.decode(data, slot, Networks(net), era, file, sections)
        }
      }
  }

  /** One table straight from raw era records through the section-pruned
    * decode — the single-table extract path (CLI `graft <era> attestations
    * out.parquet`, the incremental loop's single-dataset verb). */
  def datasetPruned(records: DataFrame, name: String): DataFrame =
    dataset(decodeBlocks(records, Set(name)), name)

  /** Extract one named dataset; lazy evaluation prunes everything else —
    * unlike the reference's compute-all-then-select
    * (processor.py:401-404, SURVEY.md §2.2 P4). */
  def dataset(blocks: Dataset[DecodedBlock], name: String): DataFrame =
    datasets.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"Unknown dataset: $name. Available: ${datasetNames.mkString(", ")}"))
      .project(blocks)

  def allDatasets(blocks: Dataset[DecodedBlock]): Map[String, DataFrame] =
    datasets.map(t => t.name -> t.project(blocks)).toMap

  /** processor.py:143-156 */
  def blocksTable(blocks: Dataset[DecodedBlock]): DataFrame =
    blocks.select(
      col("slot"),
      col("proposer_index"),
      col("parent_root"),
      col("state_root"),
      col("signature"),
      col("version"),
      col("timestamp_utc"),
      col("body.randao_reveal").as("randao_reveal"),
      col("body.graffiti").as("graffiti"),
      col("body.eth1_data.deposit_root").as("eth1_deposit_root"),
      col("body.eth1_data.deposit_count").as("eth1_deposit_count"),
      col("body.eth1_data.block_hash").as("eth1_block_hash"))

  /** processor.py:158-165 + the popcount the reference declares but never
    * computes (participating_validators — SURVEY.md §2.4 note). */
  def syncAggregates(blocks: Dataset[DecodedBlock]): DataFrame = {
    graft.GraftExtensions.ensureRegistered(blocks.sparkSession)
    blocks
      .filter(col("body.sync_aggregate").isNotNull)
      .select(
        col("slot"),
        col("body.sync_aggregate.sync_committee_bits").as("sync_committee_bits"),
        col("body.sync_aggregate.sync_committee_signature").as("sync_committee_signature"),
        hex_popcount(col("body.sync_aggregate.sync_committee_bits"))
          .as("participating_validators"),
        col("timestamp_utc"))
  }

  /** processor.py:167-186 */
  def executionPayloads(blocks: Dataset[DecodedBlock]): DataFrame =
    blocks
      .filter(col("body.execution_payload").isNotNull)
      .select(
        col("slot"),
        col("body.execution_payload.parent_hash").as("parent_hash"),
        col("body.execution_payload.fee_recipient").as("fee_recipient"),
        col("body.execution_payload.state_root").as("state_root"),
        col("body.execution_payload.receipts_root").as("receipts_root"),
        col("body.execution_payload.logs_bloom").as("logs_bloom"),
        col("body.execution_payload.prev_randao").as("prev_randao"),
        col("body.execution_payload.block_number").as("block_number"),
        col("body.execution_payload.gas_limit").as("gas_limit"),
        col("body.execution_payload.gas_used").as("gas_used"),
        col("timestamp_utc"),
        col("body.execution_payload.base_fee_per_gas").as("base_fee_per_gas"),
        col("body.execution_payload.block_hash").as("block_hash"),
        col("body.execution_payload.blob_gas_used").as("blob_gas_used"),
        col("body.execution_payload.excess_blob_gas").as("excess_blob_gas"),
        col("body.execution_payload.extra_data").as("extra_data"))

  /** processor.py:188-202 — posexplode keeps the tx array position. */
  def transactions(blocks: Dataset[DecodedBlock]): DataFrame =
    blocks
      .filter(col("body.execution_payload").isNotNull)
      .select(
        col("slot"),
        col("body.execution_payload.block_number").as("block_number"),
        col("body.execution_payload.block_hash").as("block_hash"),
        posexplode(col("body.execution_payload.transactions"))
          .as(Seq("transaction_index", "transaction_hash")),
        col("body.execution_payload.fee_recipient").as("fee_recipient"),
        col("body.execution_payload.gas_limit").as("gas_limit"),
        col("body.execution_payload.gas_used").as("gas_used"),
        col("body.execution_payload.base_fee_per_gas").as("base_fee_per_gas"),
        col("timestamp_utc"))

  /** processor.py:204-216 — key is the withdrawal's own index, not array
    * position (SURVEY.md §2.4). */
  def withdrawals(blocks: Dataset[DecodedBlock]): DataFrame =
    blocks
      .filter(col("body.execution_payload.withdrawals").isNotNull)
      .select(
        col("slot"),
        col("body.execution_payload.block_number").as("block_number"),
        col("body.execution_payload.block_hash").as("block_hash"),
        explode(col("body.execution_payload.withdrawals")).as("w"),
        col("timestamp_utc"))
      .select(
        col("slot"),
        col("block_number"),
        col("block_hash"),
        col("w.index").as("withdrawal_index"),
        col("w.validator_index").as("validator_index"),
        col("w.address").as("address"),
        col("w.amount").as("amount"),
        col("timestamp_utc"))

  /** processor.py:218-238 */
  def attestations(blocks: Dataset[DecodedBlock]): DataFrame =
    blocks
      .select(col("slot"), posexplode(col("body.attestations")).as(Seq("attestation_index", "att")),
        col("timestamp_utc"))
      .select(
        col("slot"),
        col("attestation_index"),
        col("att.aggregation_bits").as("aggregation_bits"),
        col("att.signature").as("signature"),
        col("att.data.slot").as("attestation_slot"),
        col("att.data.index").as("committee_index"),
        col("att.data.beacon_block_root").as("beacon_block_root"),
        col("att.data.source.epoch").as("source_epoch"),
        col("att.data.source.root").as("source_root"),
        col("att.data.target.epoch").as("target_epoch"),
        col("att.data.target.root").as("target_root"),
        col("timestamp_utc"))

  /** processor.py:240-257 — proof JSON-encoded for tabular parity. */
  def deposits(blocks: Dataset[DecodedBlock]): DataFrame =
    blocks
      .select(col("slot"), posexplode(col("body.deposits")).as(Seq("deposit_index", "d")),
        col("timestamp_utc"))
      .select(
        col("slot"),
        col("deposit_index"),
        col("d.data.pubkey").as("pubkey"),
        col("d.data.withdrawal_credentials").as("withdrawal_credentials"),
        col("d.data.amount").as("amount"),
        col("d.data.signature").as("signature"),
        to_json(col("d.proof")).as("proof"),
        col("timestamp_utc"))

  /** processor.py:259-270 */
  def voluntaryExits(blocks: Dataset[DecodedBlock]): DataFrame =
    blocks
      .select(col("slot"), posexplode(col("body.voluntary_exits")).as(Seq("exit_index", "e")),
        col("timestamp_utc"))
      .select(
        col("slot"),
        col("exit_index"),
        col("e.signature").as("signature"),
        col("e.message.epoch").as("epoch"),
        col("e.message.validator_index").as("validator_index"),
        col("timestamp_utc"))

  /** processor.py:272-294 */
  def proposerSlashings(blocks: Dataset[DecodedBlock]): DataFrame =
    blocks
      .select(col("slot"), posexplode(col("body.proposer_slashings")).as(Seq("slashing_index", "s")),
        col("timestamp_utc"))
      .select(
        col("slot"),
        col("slashing_index"),
        col("s.signed_header_1.message.slot").as("header_1_slot"),
        col("s.signed_header_1.message.proposer_index").as("header_1_proposer_index"),
        col("s.signed_header_1.message.parent_root").as("header_1_parent_root"),
        col("s.signed_header_1.message.state_root").as("header_1_state_root"),
        col("s.signed_header_1.message.body_root").as("header_1_body_root"),
        col("s.signed_header_1.signature").as("header_1_signature"),
        col("s.signed_header_2.message.slot").as("header_2_slot"),
        col("s.signed_header_2.message.proposer_index").as("header_2_proposer_index"),
        col("s.signed_header_2.message.parent_root").as("header_2_parent_root"),
        col("s.signed_header_2.message.state_root").as("header_2_state_root"),
        col("s.signed_header_2.message.body_root").as("header_2_body_root"),
        col("s.signed_header_2.signature").as("header_2_signature"),
        col("timestamp_utc"))

  /** processor.py:296-331 — validator counts via size(); the distinct-union
    * via size(array_distinct(concat(...))) (SURVEY.md §2.4 A3). */
  def attesterSlashings(blocks: Dataset[DecodedBlock]): DataFrame =
    blocks
      .select(col("slot"), posexplode(col("body.attester_slashings")).as(Seq("slashing_index", "s")),
        col("timestamp_utc"))
      .select(
        col("slot"),
        col("slashing_index"),
        col("s.attestation_1.data.slot").as("att_1_slot"),
        col("s.attestation_1.data.index").as("att_1_committee_index"),
        col("s.attestation_1.data.beacon_block_root").as("att_1_beacon_block_root"),
        col("s.attestation_1.data.source.epoch").as("att_1_source_epoch"),
        col("s.attestation_1.data.source.root").as("att_1_source_root"),
        col("s.attestation_1.data.target.epoch").as("att_1_target_epoch"),
        col("s.attestation_1.data.target.root").as("att_1_target_root"),
        col("s.attestation_1.signature").as("att_1_signature"),
        to_json(col("s.attestation_1.attesting_indices")).as("att_1_attesting_indices"),
        size(col("s.attestation_1.attesting_indices")).cast("long").as("att_1_validator_count"),
        col("s.attestation_2.data.slot").as("att_2_slot"),
        col("s.attestation_2.data.index").as("att_2_committee_index"),
        col("s.attestation_2.data.beacon_block_root").as("att_2_beacon_block_root"),
        col("s.attestation_2.data.source.epoch").as("att_2_source_epoch"),
        col("s.attestation_2.data.source.root").as("att_2_source_root"),
        col("s.attestation_2.data.target.epoch").as("att_2_target_epoch"),
        col("s.attestation_2.data.target.root").as("att_2_target_root"),
        col("s.attestation_2.signature").as("att_2_signature"),
        to_json(col("s.attestation_2.attesting_indices")).as("att_2_attesting_indices"),
        size(col("s.attestation_2.attesting_indices")).cast("long").as("att_2_validator_count"),
        col("timestamp_utc"),
        size(array_distinct(concat(
          col("s.attestation_1.attesting_indices"),
          col("s.attestation_2.attesting_indices")))).cast("long")
          .as("total_slashed_validators"))

  /** processor.py:333-345 (Capella+) */
  def blsChanges(blocks: Dataset[DecodedBlock]): DataFrame =
    blocks
      .filter(col("body.bls_to_execution_changes").isNotNull)
      .select(col("slot"), posexplode(col("body.bls_to_execution_changes")).as(Seq("change_index", "c")),
        col("timestamp_utc"))
      .select(
        col("slot"),
        col("change_index"),
        col("c.signature").as("signature"),
        col("c.message.validator_index").as("validator_index"),
        col("c.message.from_bls_pubkey").as("from_bls_pubkey"),
        col("c.message.to_execution_address").as("to_execution_address"),
        col("timestamp_utc"))

  /** processor.py:347-355 (Deneb+) */
  def blobCommitments(blocks: Dataset[DecodedBlock]): DataFrame =
    blocks
      .filter(col("body.blob_kzg_commitments").isNotNull)
      .select(col("slot"), posexplode(col("body.blob_kzg_commitments")).as(Seq("commitment_index", "commitment")),
        col("timestamp_utc"))
      .select(col("slot"), col("commitment_index"), col("commitment"), col("timestamp_utc"))

  /** processor.py:357-370 (Electra+) */
  def depositRequests(blocks: Dataset[DecodedBlock]): DataFrame =
    blocks
      .filter(col("body.execution_requests").isNotNull)
      .select(col("slot"), posexplode(col("body.execution_requests.deposits")).as(Seq("request_index", "r")),
        col("timestamp_utc"))
      .select(
        col("slot"),
        col("request_index"),
        col("r.pubkey").as("pubkey"),
        col("r.withdrawal_credentials").as("withdrawal_credentials"),
        col("r.amount").as("amount"),
        col("r.signature").as("signature"),
        col("r.index").as("deposit_request_index"),
        col("timestamp_utc"))

  /** processor.py:372-382 (Electra+) */
  def withdrawalRequests(blocks: Dataset[DecodedBlock]): DataFrame =
    blocks
      .filter(col("body.execution_requests").isNotNull)
      .select(col("slot"), posexplode(col("body.execution_requests.withdrawals")).as(Seq("request_index", "r")),
        col("timestamp_utc"))
      .select(
        col("slot"),
        col("request_index"),
        col("r.source_address").as("source_address"),
        col("r.validator_pubkey").as("validator_pubkey"),
        col("r.amount").as("amount"),
        col("timestamp_utc"))

  /** processor.py:384-396 (Electra+) */
  def consolidationRequests(blocks: Dataset[DecodedBlock]): DataFrame =
    blocks
      .filter(col("body.execution_requests").isNotNull)
      .select(col("slot"), posexplode(col("body.execution_requests.consolidations")).as(Seq("request_index", "r")),
        col("timestamp_utc"))
      .select(
        col("slot"),
        col("request_index"),
        col("r.source_address").as("source_address"),
        col("r.source_pubkey").as("source_pubkey"),
        col("r.target_pubkey").as("target_pubkey"),
        col("timestamp_utc"))

  /** Denormalized wide-blocks shape for single-file `all-blocks` export
    * (export/base.py:59-153): projection + count columns + JSON-embedded
    * children. */
  def wideBlocks(blocks: Dataset[DecodedBlock]): DataFrame =
    blocks.select(
      col("slot"),
      col("proposer_index"),
      col("parent_root"),
      col("state_root"),
      col("signature"),
      col("version"),
      col("timestamp_utc"),
      when(col("body.execution_payload.timestamp") > 0,
        timestamp_seconds(col("body.execution_payload.timestamp")))
        .as("execution_timestamp_utc"),
      col("compressed_size"),
      col("decompressed_size"),
      col("body.randao_reveal").as("randao_reveal"),
      col("body.graffiti").as("graffiti"),
      col("body.eth1_data.deposit_root").as("eth1_deposit_root"),
      col("body.eth1_data.deposit_count").as("eth1_deposit_count"),
      col("body.eth1_data.block_hash").as("eth1_block_hash"),
      size(col("body.attestations")).cast("long").as("attestation_count"),
      size(col("body.proposer_slashings")).cast("long").as("proposer_slashing_count"),
      size(col("body.attester_slashings")).cast("long").as("attester_slashing_count"),
      size(col("body.deposits")).cast("long").as("deposit_count"),
      size(col("body.voluntary_exits")).cast("long").as("voluntary_exit_count"),
      coalesce(size(col("body.bls_to_execution_changes")), lit(0)).cast("long").as("bls_change_count"),
      coalesce(size(col("body.blob_kzg_commitments")), lit(0)).cast("long").as("blob_commitment_count"),
      col("body.execution_payload.parent_hash").as("parent_hash"),
      col("body.execution_payload.fee_recipient").as("fee_recipient"),
      col("body.execution_payload.state_root").as("execution_state_root"),
      col("body.execution_payload.receipts_root").as("receipts_root"),
      col("body.execution_payload.logs_bloom").as("logs_bloom"),
      col("body.execution_payload.prev_randao").as("prev_randao"),
      col("body.execution_payload.block_number").as("block_number"),
      col("body.execution_payload.gas_limit").as("gas_limit"),
      col("body.execution_payload.gas_used").as("gas_used"),
      col("body.execution_payload.timestamp").as("timestamp"),
      col("body.execution_payload.base_fee_per_gas").as("base_fee_per_gas"),
      col("body.execution_payload.block_hash").as("block_hash"),
      col("body.execution_payload.blob_gas_used").as("blob_gas_used"),
      col("body.execution_payload.excess_blob_gas").as("excess_blob_gas"),
      col("body.execution_payload.extra_data").as("extra_data"),
      to_json(col("body.execution_payload.transactions")).as("transactions"),
      to_json(col("body.execution_payload.withdrawals")).as("withdrawals"),
      to_json(col("body.attestations")).as("attestations"),
      to_json(col("body.execution_requests")).as("execution_requests"),
      to_json(col("body.bls_to_execution_changes")).as("bls_to_execution_changes"),
      to_json(col("body.blob_kzg_commitments")).as("blob_kzg_commitments"),
      to_json(col("body.sync_aggregate")).as("sync_aggregate"),
      coalesce(size(col("body.execution_payload.transactions")), lit(0)).cast("long").as("transaction_count"),
      coalesce(size(col("body.execution_payload.withdrawals")), lit(0)).cast("long").as("withdrawal_count"),
      coalesce(size(col("body.execution_requests.deposits")), lit(0)).cast("long").as("deposit_request_count"),
      coalesce(size(col("body.execution_requests.withdrawals")), lit(0)).cast("long").as("withdrawal_request_count"),
      coalesce(size(col("body.execution_requests.consolidations")), lit(0)).cast("long").as("consolidation_request_count"))
}
