package graft.decode

import graft.config.{ForkSchedule, NetworkConfig}
import graft.model._
import graft.ssz.{SnappyFramed, Ssz}

/**
 * Fork-aware SSZ block decoder: compressed era block record → [[DecodedBlock]].
 *
 * Pure JVM function designed to run inside executor tasks (the era DataSource
 * reader or a `mapPartitions` decode stage) — one call per block, no Spark
 * types, no allocation beyond the output tree. The field-layout semantics —
 * including every tolerance/edge rule — mirror the reference decoder and are
 * pinned by the RPC-fixture differential tests:
 *
 *  - envelope + message header: era_parser/parsing/block_parser.py:41-58
 *  - fixed body head (randao/eth1/graffiti): forks/base.py:14-35
 *  - schema-driven variable sections:        forks/base.py:46-106,510-569
 *  - item parsers F7-F15:                    forks/base.py:108-413
 *  - execution payload (fork-conditional):   forks/base.py:416-508
 *  - electra execution requests:             forks/electra.py:24-124
 *  - timestamp fallback ladder:              block_parser.py:84-120
 */
object BlockDecoder {

  import Ssz._

  /** Every variable body section the pruned decode can skip — the
    * column-pruning vocabulary of [[decode]]'s `sections` parameter
    * (SURVEY.md §4's one remaining optional pushdown: the reference always
    * computes all 15 datasets and keeps one — processor.py:401-404). */
  val AllSections: Set[String] = Set(
    "proposer_slashings", "attester_slashings", "attestations", "deposits",
    "voluntary_exits", "sync_aggregate", "execution_payload",
    "bls_to_execution_changes", "blob_kzg_commitments", "execution_requests")

  /** Decode one compressed block record. Returns None on any decode failure
    * (the reference logs and skips — processor.py:131-133).
    *
    * `sections` prunes the body parse: a section not in the set is skipped
    * entirely (empty list / None in the output) instead of parsed — the
    * decode-side half of column pruning, so a single-table extract never
    * pays for the 14 sections it drops. The block header, eth1 data,
    * graffiti, and the fork/timestamp ladder are always decoded (every
    * table carries them); when `execution_payload` is pruned, the payload
    * TIMESTAMP is still read directly from its fixed offset so
    * `timestamp_utc` stays identical on post-merge blocks. CONTRACT: the
    * requested tables' rows are identical to the full decode's on
    * well-formed blocks; a block whose PRUNED-AWAY section is corrupt may
    * decode here where the full path degrades or drops it (the corruption
    * is only detectable by parsing, which is exactly the work pruning
    * skips) — `SectionPruningSpec` pins table-for-table equality on every
    * fixture fork. */
  def decode(
      compressed: Array[Byte],
      slot: Long,
      network: NetworkConfig,
      eraNumber: Long = -1L,
      sourceFile: String = "",
      sections: Set[String] = AllSections): Option[DecodedBlock] = {
    try {
      val data = SnappyFramed.decompress(compressed)
      val fork = ForkSchedule.forkAt(slot, network)

      // message fields read in place (offsets relative to messageOffset —
      // identical values to the old slice-then-read, without copying the
      // ~whole buffer twice per block); only the BODY is materialized as
      // its own array, once, for the section parsers
      val messageOffset = readOffset(data, 0)
      val signature = hex(data, 4, 100)
      val msgLen = data.length - messageOffset

      val slotParsed = readUint64In(data, messageOffset, data.length)
      val proposerIndex = readUint64In(data, messageOffset + 8, data.length)
      val parentRoot = hex(data, messageOffset + 16, math.min(messageOffset + 48, data.length))
      val stateRoot = hex(data, messageOffset + 48, math.min(messageOffset + 80, data.length))
      val bodyOffset = math.min(readUint32(data, messageOffset + 80), msgLen.toLong).toInt
      val (body, payloadTs) =
        parseBodyPruned(slice(data, messageOffset + bodyOffset, data.length), fork, sections)

      val ts = if (payloadTs > 0) payloadTs
        else network.genesisTime + slotParsed * network.secondsPerSlot

      Some(DecodedBlock(
        slot = slotParsed,
        proposer_index = proposerIndex,
        parent_root = parentRoot,
        state_root = stateRoot,
        signature = signature,
        body = body,
        version = fork,
        timestamp_utc = new java.sql.Timestamp(ts * 1000L),
        compressed_size = compressed.length,
        decompressed_size = data.length,
        network = network.name,
        era_number = eraNumber,
        source_file = sourceFile))
    } catch {
      case _: Exception => None
    }
  }

  // ── body ────────────────────────────────────────────────────────────────

  /** Fixed byte offset of `timestamp` inside an execution payload:
    * parent_hash(32) + fee_recipient(20) + state_root(32) +
    * receipts_root(32) + logs_bloom(256) + prev_randao(32) +
    * block_number(8) + gas_limit(8) + gas_used(8) — identical across every
    * post-merge fork (the fork-variable fields all come later). */
  private val PayloadTsOffset = 428

  /** Body parse with section pruning; returns (body, payload timestamp —
    * 0 when absent/pre-merge, read from [[PayloadTsOffset]] when the
    * payload section is pruned away; block_parser.py:84-113's fallback
    * ladder runs on this hint in [[decode]]). */
  private[decode] def parseBodyPruned(body: Array[Byte], fork: String,
      sections: Set[String]): (BlockBody, Long) = {
    // fixed head: randao_reveal(96) + eth1_data(72) + graffiti(32) = 200
    val randao = hex(body, 0, 96)
    val eth1 = Eth1Data(
      deposit_root = hex(body, 96, 128),
      deposit_count = readUint64(body, 128),
      block_hash = hex(body, 136, 168))
    val graffiti = hex(body, 168, 200)
    var pos = 200

    // 5 base variable offsets (forks/base.py:37-44)
    val baseOffsets = (0 until 5).map(i => readOffset(body, pos + i * 4))
    pos += 20

    // fixed schema field: sync_aggregate 160B inline, altair+ (forks/altair.py:8-10)
    var syncAggregate: Option[SyncAggregate] = None
    if (ForkSchedule.hasSyncAggregate(fork)) {
      if (pos + 160 <= body.length) {
        if (sections("sync_aggregate")) {
          DecodeStats.mark("sync_aggregate")
          syncAggregate = parseSyncAggregateAt(body, pos, pos + 160)
        }
        pos += 160 // schema position advances whether or not we decode it
      } // else: missing → empty (forks/base.py:66-68)
    }

    // additional variable offsets in schema order (forks/base.py:70-77)
    val variableFields = Vector.newBuilder[String]
    if (ForkSchedule.hasExecutionPayload(fork)) variableFields += "execution_payload"
    if (ForkSchedule.hasBlsChanges(fork)) variableFields += "bls_to_execution_changes"
    if (ForkSchedule.hasBlobCommitments(fork)) variableFields += "blob_kzg_commitments"
    if (ForkSchedule.hasExecutionRequests(fork)) variableFields += "execution_requests"
    val extraFields = variableFields.result()

    val extraOffsets = Vector.newBuilder[Int]
    extraFields.foreach { _ =>
      if (pos + 4 <= body.length) { extraOffsets += readOffset(body, pos); pos += 4 }
    }

    val fieldNames = Vector("proposer_slashings", "attester_slashings", "attestations",
      "deposits", "voluntary_exits") ++ extraFields
    val allOffsets = baseOffsets.toVector ++ extraOffsets.result()

    // section boundaries with the reference's equal-consecutive-offset empty
    // rule and min-greater-offset end rule (forks/base.py:510-557).
    // Bounds are the CLAMPED [from, until) `slice` would use, computed
    // without copying — so the pruned timestamp peek below can read 8
    // bytes in place instead of memcpy'ing the whole payload section
    // (transactions included — the largest section in the body).
    def sectionBounds(i: Int): Option[(Int, Int)] = {
      if (i >= allOffsets.length) return None
      val offset = allOffsets(i)
      val greater = allOffsets.filter(_ > offset)
      val end = if (greater.nonEmpty) greater.min else body.length
      if (i + 1 < allOffsets.length && offset == allOffsets(i + 1)) return None
      if (offset >= body.length || end <= offset) return None
      // identical clamping to Ssz.slice, so (u - f) is the slice's length
      val f = math.max(0, math.min(offset, body.length))
      val u = math.max(f, math.min(end, body.length))
      Some((f, u))
    }
    def sectionBoundsOf(name: String): Option[(Int, Int)] = {
      val i = fieldNames.indexOf(name)
      if (i < 0) None else sectionBounds(i)
    }

    /** Section bounds into `body`, only when the caller asked for the
      * section — the item parsers read in place (no section copy). */
    def requested(name: String): Option[(Int, Int)] =
      if (!sections(name)) None
      else sectionBoundsOf(name).map { b => DecodeStats.mark(name); b }

    val proposerSlashings = requested("proposer_slashings")
      .map { case (f, u) => parseFixedListAt(body, f, u, 416, parseProposerSlashingAt) }
      .getOrElse(Vector.empty)
    val attesterSlashings = requested("attester_slashings")
      .map { case (f, u) => parseVariableListAt(body, f, u, parseAttesterSlashingAt) }
      .getOrElse(Vector.empty)
    val attestations = requested("attestations")
      .map { case (f, u) => parseVariableListAt(body, f, u, parseAttestationAt) }
      .getOrElse(Vector.empty)
    val deposits = requested("deposits")
      .map { case (f, u) => parseFixedListAt(body, f, u, 1240, parseDepositAt) }
      .getOrElse(Vector.empty)
    val voluntaryExits = requested("voluntary_exits")
      .map { case (f, u) => parseFixedListAt(body, f, u, 112, parseVoluntaryExitAt) }
      .getOrElse(Vector.empty)

    val executionPayload: Option[ExecutionPayload] =
      if (!ForkSchedule.hasExecutionPayload(fork)) None
      else requested("execution_payload")
        .flatMap { case (f, u) => parseExecutionPayloadAt(body, f, u, fork) }

    // timestamp survives payload pruning: read the one fixed-offset field
    // instead of the full parse (same 0-on-short semantics — a section too
    // short to hold the field never yields a timestamp on the full path
    // either, it fails parseExecutionPayload's bounds)
    val payloadTs: Long =
      if (!ForkSchedule.hasExecutionPayload(fork)) 0L
      else if (sections("execution_payload"))
        executionPayload.map(_.timestamp).getOrElse(0L)
      else sectionBoundsOf("execution_payload")
        .collect { case (f, u) if u - f >= PayloadTsOffset + 8 =>
          readUint64(body, f + PayloadTsOffset) }
        .getOrElse(0L)

    val blsChanges: Option[Seq[BlsToExecutionChange]] =
      if (!ForkSchedule.hasBlsChanges(fork)) None
      else Some(requested("bls_to_execution_changes")
        .map { case (f, u) => parseFixedListAt(body, f, u, 172, parseBlsChangeAt) }
        .getOrElse(Vector.empty))

    val blobCommitments: Option[Seq[String]] =
      if (!ForkSchedule.hasBlobCommitments(fork)) None
      else Some(requested("blob_kzg_commitments")
        .map { case (f, u) => parseFixedListAt(body, f, u, 48, parseKzgCommitmentAt) }
        .getOrElse(Vector.empty))

    val executionRequests: Option[ExecutionRequests] =
      if (!ForkSchedule.hasExecutionRequests(fork)) None
      else Some(requested("execution_requests")
        .map { case (f, u) => parseExecutionRequestsAt(body, f, u) }
        .getOrElse(ExecutionRequests(Nil, Nil, Nil)))

    (BlockBody(randao, eth1, graffiti, proposerSlashings, attesterSlashings,
      attestations, deposits, voluntaryExits, syncAggregate, executionPayload,
      blsChanges, blobCommitments, executionRequests),
      payloadTs)
  }

  // ── item parsers (F7–F15, F19) ──────────────────────────────────────────
  // Range-based: each parser reads its item as a (from, until) window of
  // the section's backing array — no per-item slice copy. Every bounds
  // rule translates d.length → (until − from), so malformed-input
  // behavior is byte-identical to the slice-based parse.

  /** Caller guarantees 128 bytes at `from` (every call site slices or
    * checks a ≥228-byte item first — the old form received exactly the
    * 128-byte `slice(d, 4, 132)`). */
  private def parseAttestationDataAt(d: Array[Byte], from: Int): AttestationData =
    AttestationData(
      slot = readUint64(d, from),
      index = readUint64(d, from + 8),
      beacon_block_root = hex(d, from + 16, from + 48),
      source = Checkpoint(readUint64(d, from + 48), hex(d, from + 56, from + 88)),
      target = Checkpoint(readUint64(d, from + 88), hex(d, from + 96, from + 128)))

  /** forks/base.py:157-187 */
  private[decode] def parseAttestationAt(d: Array[Byte], from: Int, until: Int): Attestation = {
    val len = until - from
    if (len < 228) return null
    val bitsOffset = math.min(readUint32(d, from), len.toLong).toInt
    Attestation(
      aggregation_bits = hex(d, from + bitsOffset, until),
      data = parseAttestationDataAt(d, from + 4),
      signature = hex(d, from + 132, from + 228))
  }

  /** forks/base.py:274-321 */
  private[decode] def parseIndexedAttestationAt(d: Array[Byte], from: Int, until: Int): IndexedAttestation = {
    val len = until - from
    if (len < 232) return null
    val indicesOffset = math.min(readUint32(d, from), len.toLong).toInt
    if (indicesOffset >= len) return null
    val indices = Vector.newBuilder[Long]
    var i = from + indicesOffset
    while (i <= until - 8) { indices += readUint64(d, i); i += 8 }
    IndexedAttestation(
      attesting_indices = indices.result(),
      data = parseAttestationDataAt(d, from + 4),
      signature = hex(d, from + 132, from + 228))
  }

  /** forks/base.py:323-350 */
  private[decode] def parseAttesterSlashingAt(d: Array[Byte], from: Int, until: Int): AttesterSlashing = {
    val len = until - from
    if (len < 8) return null
    val off1 = math.min(readUint32(d, from), len.toLong).toInt
    val off2 = math.min(readUint32(d, from + 4), len.toLong).toInt
    if (off1 >= len || off2 >= len) return null
    // slice(d, off1, off2) clamped u to max(f, off2) — an inverted pair
    // yields an empty window (→ null), exactly as before
    val a1 = parseIndexedAttestationAt(d, from + off1, from + math.max(off1, off2))
    val a2 = parseIndexedAttestationAt(d, from + off2, until)
    if (a1 == null || a2 == null) return null
    AttesterSlashing(a1, a2)
  }

  /** forks/base.py:221-272 (ssz_size 416) */
  private def parseProposerSlashingAt(d: Array[Byte], from: Int, until: Int): ProposerSlashing = {
    if (until - from < 416) return null
    def header(at: Int) = BeaconBlockHeader(
      slot = readUint64(d, at),
      proposer_index = readUint64(d, at + 8),
      parent_root = hex(d, at + 16, at + 48),
      state_root = hex(d, at + 48, at + 80),
      body_root = hex(d, at + 80, at + 112))
    ProposerSlashing(
      SignedBeaconBlockHeader(header(from), hex(d, from + 112, from + 208)),
      SignedBeaconBlockHeader(header(from + 208), hex(d, from + 320, from + 416)))
  }

  /** forks/base.py:109-155 (ssz_size 1240) */
  private def parseDepositAt(d: Array[Byte], from: Int, until: Int): Deposit = {
    if (until - from < 1240) return null
    val proof = (0 until 33).map(i => hex(d, from + i * 32, from + (i + 1) * 32))
    val base = from + 1056
    Deposit(
      proof = proof,
      data = DepositData(
        pubkey = hex(d, base, base + 48),
        withdrawal_credentials = hex(d, base + 48, base + 80),
        amount = readUint64(d, base + 80),
        signature = hex(d, base + 88, base + 184)))
  }

  /** forks/base.py:191-219 (ssz_size 112) */
  private def parseVoluntaryExitAt(d: Array[Byte], from: Int, until: Int): VoluntaryExit = {
    if (until - from < 112) return null
    VoluntaryExit(
      message = VoluntaryExitMessage(readUint64(d, from), readUint64(d, from + 8)),
      signature = hex(d, from + 16, from + 112))
  }

  /** forks/base.py:352-383 (ssz_size 172) */
  private def parseBlsChangeAt(d: Array[Byte], from: Int, until: Int): BlsToExecutionChange = {
    if (until - from < 172) return null
    BlsToExecutionChange(
      message = BlsToExecutionChangeMessage(
        validator_index = readUint64(d, from),
        from_bls_pubkey = hex(d, from + 8, from + 56),
        to_execution_address = hex(d, from + 56, from + 76)),
      signature = hex(d, from + 76, from + 172))
  }

  /** forks/base.py:385-392 (fixed 160) */
  private def parseSyncAggregateAt(d: Array[Byte], from: Int, until: Int): Option[SyncAggregate] = {
    if (until - from < 160) None
    else Some(SyncAggregate(hex(d, from, from + 64), hex(d, from + 64, from + 160)))
  }

  /** forks/base.py:394-405 (ssz_size 44) */
  private def parseWithdrawalAt(d: Array[Byte], from: Int, until: Int): Withdrawal = {
    if (until - from < 44) return null
    Withdrawal(readUint64(d, from), readUint64(d, from + 8),
      hex(d, from + 16, from + 36), readUint64(d, from + 36))
  }

  /** forks/base.py:407-413 (ssz_size 48) */
  private def parseKzgCommitmentAt(d: Array[Byte], from: Int, until: Int): String =
    if (until - from != 48) null else hex(d, from, until)

  // ── execution payload (F16–F18) ─────────────────────────────────────────

  /** forks/base.py:416-508; fork-conditional offsets incl. the Deneb 16-byte
    * blob-gas reservation and the equal-offset empty-transactions rule. */
  private def parseExecutionPayloadAt(d: Array[Byte], from: Int, until: Int,
      fork: String): Option[ExecutionPayload] = {
    try {
      val len = until - from
      if (len < 100) return None
      // every hex window clamps to the SECTION end (the copied slice's
      // array end), every uint read zero-guards against it — identical
      // short-section behavior to the slice-based parse
      def hx(a: Int, b: Int): String =
        hex(d, from + math.min(a, len), from + math.min(b, len))
      var pos = 0
      val parentHash = hx(0, 32); pos = 32
      val feeRecipient = hx(pos, pos + 20); pos += 20
      val stateRoot = hx(pos, pos + 32); pos += 32
      val receiptsRoot = hx(pos, pos + 32); pos += 32
      val logsBloom = hx(pos, pos + 256); pos += 256
      val prevRandao = hx(pos, pos + 32); pos += 32
      val blockNumber = readUint64In(d, from + pos, until); pos += 8
      val gasLimit = readUint64In(d, from + pos, until); pos += 8
      val gasUsed = readUint64In(d, from + pos, until); pos += 8
      val timestamp = readUint64In(d, from + pos, until); pos += 8

      def offsetAt(p: Int): Int =
        math.min(readUint32In(d, from + p, until), len.toLong).toInt
      var offsets = Map.empty[String, Int]
      offsets += "extra_data" -> offsetAt(pos); pos += 4
      val baseFee = readUint256DecimalIn(d, from + pos, until); pos += 32
      val blockHash = hx(pos, pos + 32); pos += 32

      var availableOffsetBytes = len - pos
      if (fork == "deneb" || fork == "electra") availableOffsetBytes -= 16
      val numOffsetsAvailable = availableOffsetBytes / 4

      offsets += "transactions" -> offsetAt(pos); pos += 4

      val withWithdrawals = ForkSchedule.hasWithdrawals(fork) && numOffsetsAvailable >= 2
      if (withWithdrawals) { offsets += "withdrawals" -> offsetAt(pos); pos += 4 }

      var blobGasUsed: Option[Long] = None
      var excessBlobGas: Option[Long] = None
      if (fork == "deneb" || fork == "electra") {
        blobGasUsed = Some(readUint64In(d, from + pos, until)); pos += 8
        excessBlobGas = Some(readUint64In(d, from + pos, until)); pos += 8
      }

      // variable fields (forks/base.py:459-508)
      def sectionEnd(start: Int): Int = {
        val greater = offsets.values.filter(_ > start)
        if (greater.nonEmpty) greater.min else len
      }
      var extraData = ""
      var transactions: Seq[String] = Vector.empty
      var withdrawals: Option[Seq[Withdrawal]] =
        if (ForkSchedule.hasWithdrawals(fork)) Some(Vector.empty) else None

      val equalTxWd = offsets.contains("withdrawals") &&
        offsets("transactions") == offsets("withdrawals")

      val fieldsToParse =
        if (equalTxWd) Seq("extra_data", "withdrawals") // transactions stays []
        else if (withWithdrawals) Seq("extra_data", "transactions", "withdrawals")
        else Seq("extra_data", "transactions")

      fieldsToParse.foreach { name =>
        offsets.get(name).foreach { start =>
          // slice-clamp semantics: f = min(start, len), u = max(f, min(end, len))
          val f = math.min(start, len)
          val u = math.max(f, math.min(sectionEnd(start), len))
          name match {
            case "extra_data" => extraData = hex(d, from + f, from + u)
            case "transactions" =>
              transactions = parseVariableListAt(d, from + f, from + u,
                (dd: Array[Byte], s: Int, e: Int) => hex(dd, s, e))
            case "withdrawals" =>
              withdrawals = Some(parseFixedListAt(d, from + f, from + u, 44, parseWithdrawalAt))
          }
        }
      }

      Some(ExecutionPayload(parentHash, feeRecipient, stateRoot, receiptsRoot,
        logsBloom, prevRandao, blockNumber, gasLimit, gasUsed, timestamp,
        extraData, baseFee, blockHash, transactions, withdrawals,
        blobGasUsed, excessBlobGas))
    } catch {
      case _: Exception => None
    }
  }

  // ── electra execution requests (F19) ────────────────────────────────────

  /** forks/electra.py:24-124 — unique-offset sections with rightmost-owner
    * disambiguation for empty lists. */
  private def parseExecutionRequestsAt(d: Array[Byte], from: Int, until: Int): ExecutionRequests = {
    val len = until - from
    if (len < 12) return ExecutionRequests(Nil, Nil, Nil)
    try {
      def offsetAt(p: Int): Int =
        math.min(readUint32In(d, from + p, until), len.toLong).toInt
      val depositsOff = offsetAt(0)
      val withdrawalsOff = offsetAt(4)
      val consolidationsOff = offsetAt(8)

      var deposits: Seq[DepositRequest] = Vector.empty
      var withdrawals: Seq[WithdrawalRequest] = Vector.empty
      var consolidations: Seq[ConsolidationRequest] = Vector.empty

      val unique = Seq(depositsOff, withdrawalsOff, consolidationsOff).distinct.sorted
      unique.zipWithIndex.foreach { case (offset, i) =>
        if (offset < len && offset >= 12) {
          val end = if (i + 1 < unique.length) unique(i + 1) else len
          // slice-clamp: f = offset (< len), u = max(f, min(end, len))
          val u = math.max(offset, math.min(end, len))
          if (u > offset) {
            val users = Seq(
              "deposits" -> (depositsOff == offset),
              "withdrawals" -> (withdrawalsOff == offset),
              "consolidations" -> (consolidationsOff == offset)
            ).collect { case (n, true) => n }
            val owner =
              if (users.length > 1) {
                // rightmost field owns the shared tail section
                if (users.contains("consolidations")) "consolidations"
                else if (users.contains("withdrawals")) "withdrawals"
                else "deposits"
              } else users.head
            owner match {
              case "deposits" =>
                deposits = parseFixedListAt(d, from + offset, from + u, 192, parseDepositRequestAt)
              case "withdrawals" =>
                withdrawals = parseFixedListAt(d, from + offset, from + u, 76, parseWithdrawalRequestAt)
              case "consolidations" =>
                consolidations = parseFixedListAt(d, from + offset, from + u, 116, parseConsolidationRequestAt)
            }
          }
        }
      }
      ExecutionRequests(deposits, withdrawals, consolidations)
    } catch {
      case _: Exception => ExecutionRequests(Nil, Nil, Nil)
    }
  }

  /** forks/electra.py:46-57 (ssz_size 192) */
  private def parseDepositRequestAt(d: Array[Byte], from: Int, until: Int): DepositRequest = {
    if (until - from < 192) return null
    DepositRequest(
      pubkey = hex(d, from, from + 48),
      withdrawal_credentials = hex(d, from + 48, from + 80),
      amount = readUint64(d, from + 80),
      signature = hex(d, from + 88, from + 184),
      index = readUint64(d, from + 184))
  }

  /** forks/electra.py:60-68 (ssz_size 76) */
  private def parseWithdrawalRequestAt(d: Array[Byte], from: Int, until: Int): WithdrawalRequest = {
    if (until - from < 76) return null
    WithdrawalRequest(hex(d, from, from + 20), hex(d, from + 20, from + 68),
      readUint64(d, from + 68))
  }

  /** forks/electra.py:71-79 (ssz_size 116) */
  private def parseConsolidationRequestAt(d: Array[Byte], from: Int, until: Int): ConsolidationRequest = {
    if (until - from < 116) return null
    ConsolidationRequest(hex(d, from, from + 20), hex(d, from + 20, from + 68),
      hex(d, from + 68, from + 116))
  }
}
