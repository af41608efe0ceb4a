package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}

import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.sources.EraFileWriter
import graft.ssz.SnappyFramed
import graft.testkit.SszEncoder

/** The 15 normalized tables and the gnosis fork geometry the generator
  * targets. Listed here, not taken from the program, so the row-count
  * check also catches a table the program stops emitting. */
object Domain {
  val tables: Seq[String] = Seq(
    "blocks", "sync_aggregates", "execution_payloads", "transactions",
    "withdrawals", "attestations", "deposits", "voluntary_exits",
    "proposer_slashings", "attester_slashings", "bls_changes",
    "blob_commitments", "deposit_requests", "withdrawal_requests",
    "consolidation_requests")

  val network = "gnosis"
  val slotsPerEra = 8192
  val genesisTime = 1638993340L
  val secondsPerSlot = 5L

  /** First era wholly inside each gnosis fork, and how many eras it spans
    * (fork epochs × 16 slots / 8192, from the public gnosis config). */
  val forkEras: Seq[(String, Long, Long)] = Seq(
    ("phase0", 0L, 1L), ("altair", 1L, 752L), ("bellatrix", 753L, 514L),
    ("capella", 1267L, 471L), ("deneb", 1738L, 875L), ("electra", 2613L, 400L))
  val forks: Seq[String] = forkEras.map(_._1)

  def hasSync(f: String) = f != "phase0"
  def hasPayload(f: String) = Set("bellatrix", "capella", "deneb", "electra")(f)
  def hasWithdrawals(f: String) = Set("capella", "deneb", "electra")(f)
  def hasBlobs(f: String) = Set("deneb", "electra")(f)
  def hasRequests(f: String) = f == "electra"
}

/** One pre-encoded block shape; `rows` is what it contributes per table. */
final case class Template(id: Int, fork: String, ssz: Array[Byte],
    payloadAt: Int, rows: Map[String, Long])

/** A block of the archive: where it sits and what it must decode to. */
final case class BlockTruth(slot: Long, template: Int, proposer: Long,
    compressedSize: Int)

final case class EraFile(path: String, era: Long, blocks: IndexedSeq[BlockTruth],
    holes: IndexedSeq[Long], bytes: Long)

/** A generated archive plus its ground truth (the manifest): the rows
  * every table must get, and the block at every slot or a hole. */
final case class Archive(dir: String, files: IndexedSeq[EraFile],
    templates: IndexedSeq[Template]) {
  lazy val bySlot: Map[Long, BlockTruth] =
    files.flatMap(_.blocks).map(b => b.slot -> b).toMap
  def blocks: Long = files.map(_.blocks.size.toLong).sum
  def inputBytes: Long = files.map(_.bytes).sum
  def rowsPerTable(eras: Set[Long] = files.map(_.era).toSet): Map[String, Long] = {
    val acc = scala.collection.mutable.Map(Domain.tables.map(_ -> 0L): _*)
    files.filter(f => eras(f.era)).foreach(_.blocks.foreach { b =>
      templates(b.template).rows.foreach { case (t, n) => acc(t) += n }
    })
    acc.toMap
  }
}

/**
 * Seeded synthetic era archive. Blocks are built from a pool of templates
 * per fork (beacon-API JSON → `SszEncoder`), so per-block work is only
 * a copy, a patch of slot / proposer / signature / payload timestamp
 * bytes, and `SnappyFramed.compress`. Files are spec-shaped e2store era
 * files with SlotIndex tails (`EraFileWriter.writeIndexed`), one per era,
 * named `gnosis-<era>-<hash>.era`.
 */
final class ArchiveGen(seed: Long) {
  private val templatesPerFork = 48
  private val rnd = new Random(seed)
  private val mapper = new ObjectMapper()

  private def hex(n: Int, zeroFrac: Double = 0.0): String = {
    val sb = new StringBuilder("0x")
    var i = 0
    while (i < n) {
      val b = if (rnd.nextDouble() < zeroFrac) 0 else rnd.nextInt(256)
      sb.append(f"$b%02x"); i += 1
    }
    sb.toString
  }
  private def num(lo: Long, hi: Long): String = (lo + (rnd.nextDouble() * (hi - lo)).toLong).toString

  private def checkpoint(o: ObjectNode, name: String, epoch: Long): Unit = {
    val c = o.putObject(name); c.put("epoch", epoch.toString); c.put("root", hex(32))
  }
  private def attData(o: ObjectNode, slot: Long, committees: Int): Unit = {
    val d = o.putObject("data")
    d.put("slot", slot.toString); d.put("index", rnd.nextInt(committees).toString)
    d.put("beacon_block_root", hex(32))
    checkpoint(d, "source", slot / 16 - 1); checkpoint(d, "target", slot / 16)
  }
  private def header(o: ObjectNode, name: String, slot: Long, proposer: Long): Unit = {
    val h = o.putObject(name); val m = h.putObject("message")
    m.put("slot", slot.toString); m.put("proposer_index", proposer.toString)
    m.put("parent_root", hex(32)); m.put("state_root", hex(32)); m.put("body_root", hex(32))
    h.put("signature", hex(96))
  }

  /** Per-fork shape: (attestations range, transactions range, tx bytes),
    * tuned so compressed blocks land near the reference's ~2 KB (phase0)
    * to ~6.5 KB (electra) averages. */
  private def shape(fork: String): (Int, Int, Int, Int, Int) = fork match {
    case "phase0" => (4, 8, 0, 0, 0)
    case "altair" => (5, 9, 0, 0, 0)
    case "bellatrix" => (4, 8, 3, 7, 180)
    case "capella" => (4, 8, 6, 10, 180)
    case "deneb" => (4, 8, 9, 14, 180)
    case _ => (4, 8, 11, 17, 180)
  }

  /** One template: regular ones carry attestations / payload / blobs;
    * every fourth carries one of the rare sections so that every table
    * gets rows. */
  private def template(id: Int, fork: String, slot: Long): Template = {
    val (aLo, aHi, tLo, tHi, txBytes) = shape(fork)
    val rare = if (id % 4 == 3) Some((id / 4) % 6) else None
    val rows = scala.collection.mutable.Map(Domain.tables.map(_ -> 0L): _*)
    rows("blocks") = 1
    val data = mapper.createObjectNode()
    val msg = data.putObject("message")
    msg.put("slot", slot.toString); msg.put("proposer_index", "0")
    msg.put("parent_root", hex(32)); msg.put("state_root", hex(32))
    data.put("signature", hex(96))
    val body = msg.putObject("body")
    body.put("randao_reveal", hex(96))
    val eth1 = body.putObject("eth1_data")
    eth1.put("deposit_root", hex(32)); eth1.put("deposit_count", num(1000, 90000))
    eth1.put("block_hash", hex(32))
    body.put("graffiti", hex(32, zeroFrac = 0.6))

    val ps = body.putArray("proposer_slashings")
    if (rare.contains(0)) {
      val s = ps.addObject(); val p = num(0, 200000).toLong
      header(s, "signed_header_1", slot - 3, p); header(s, "signed_header_2", slot - 3, p)
      rows("proposer_slashings") = 1
    }
    val as = body.putArray("attester_slashings")
    if (rare.contains(1)) {
      val s = as.addObject()
      Seq("attestation_1", "attestation_2").foreach { n =>
        val a = s.putObject(n)
        val idx = a.putArray("attesting_indices")
        (0 until 2 + rnd.nextInt(4)).foreach(_ => idx.add(num(0, 200000)))
        attData(a, slot - 5, 4); a.put("signature", hex(96))
      }
      rows("attester_slashings") = 1
    }
    val atts = body.putArray("attestations")
    val nAtt = aLo + rnd.nextInt(aHi - aLo + 1)
    (0 until nAtt).foreach { _ =>
      val a = atts.addObject()
      a.put("aggregation_bits", hex(16 + rnd.nextInt(32)))
      attData(a, slot - 1 - rnd.nextInt(3), 8); a.put("signature", hex(96))
    }
    rows("attestations") = nAtt
    val deps = body.putArray("deposits")
    if (rare.contains(2)) {
      val d = deps.addObject(); val proof = d.putArray("proof")
      (0 until 33).foreach(_ => proof.add(hex(32)))
      val dd = d.putObject("data")
      dd.put("pubkey", hex(48)); dd.put("withdrawal_credentials", hex(32))
      dd.put("amount", "32000000000"); dd.put("signature", hex(96))
      rows("deposits") = 1
    }
    val exits = body.putArray("voluntary_exits")
    if (rare.contains(3)) {
      (0 until 2).foreach { _ =>
        val e = exits.addObject(); val m = e.putObject("message")
        m.put("epoch", (slot / 16).toString); m.put("validator_index", num(0, 200000))
        e.put("signature", hex(96))
      }
      rows("voluntary_exits") = 2
    }
    if (Domain.hasSync(fork)) {
      val s = body.putObject("sync_aggregate")
      s.put("sync_committee_bits", hex(64, zeroFrac = 0.05))
      s.put("sync_committee_signature", hex(96))
      rows("sync_aggregates") = 1
    }
    if (Domain.hasPayload(fork)) {
      val p = body.putObject("execution_payload")
      p.put("parent_hash", hex(32)); p.put("fee_recipient", hex(20))
      p.put("state_root", hex(32)); p.put("receipts_root", hex(32))
      p.put("logs_bloom", hex(256, zeroFrac = 0.7)); p.put("prev_randao", hex(32))
      p.put("block_number", "1"); p.put("gas_limit", "17000000")
      p.put("gas_used", num(1000000, 16000000)); p.put("timestamp", "1")
      p.put("extra_data", hex(16)); p.put("base_fee_per_gas", num(1, 5000000000L))
      p.put("block_hash", hex(32))
      val txs = p.putArray("transactions")
      val nTx = tLo + rnd.nextInt(tHi - tLo + 1)
      (0 until nTx).foreach(_ => txs.add(hex(txBytes / 2 + rnd.nextInt(txBytes), zeroFrac = 0.25)))
      rows("execution_payloads") = 1
      rows("transactions") = nTx
      if (Domain.hasWithdrawals(fork)) {
        val ws = p.putArray("withdrawals")
        (0 until 8).foreach { i =>
          val w = ws.addObject()
          w.put("index", num(0, 1L << 30)); w.put("validator_index", num(0, 200000))
          w.put("address", hex(20)); w.put("amount", num(1000, 100000000))
        }
        rows("withdrawals") = 8
      }
      if (Domain.hasBlobs(fork)) {
        p.put("blob_gas_used", num(0, 1000000)); p.put("excess_blob_gas", num(0, 1000000))
      }
    }
    val bls = body.putArray("bls_to_execution_changes")
    if (Domain.hasWithdrawals(fork) && rare.contains(4)) {
      (0 until 3).foreach { _ =>
        val c = bls.addObject(); val m = c.putObject("message")
        m.put("validator_index", num(0, 5000)); m.put("from_bls_pubkey", hex(48))
        m.put("to_execution_address", hex(20)); c.put("signature", hex(96))
      }
      rows("bls_changes") = 3
    }
    val blobs = body.putArray("blob_kzg_commitments")
    if (Domain.hasBlobs(fork)) {
      val n = rnd.nextInt(4)
      (0 until n).foreach(_ => blobs.add(hex(48)))
      rows("blob_commitments") = n
    }
    if (Domain.hasRequests(fork)) {
      val er = body.putObject("execution_requests")
      val dr = er.putArray("deposits"); val wr = er.putArray("withdrawals")
      val cr = er.putArray("consolidations")
      if (rare.contains(5)) {
        (0 until 2).foreach { i =>
          val d = dr.addObject()
          d.put("pubkey", hex(48)); d.put("withdrawal_credentials", hex(32))
          d.put("amount", num(1000000000L, 32000000000L)); d.put("signature", hex(96))
          d.put("index", num(0, 100000))
        }
        val w = wr.addObject()
        w.put("source_address", hex(20)); w.put("validator_pubkey", hex(48))
        w.put("amount", num(0, 1000000000L))
        val c = cr.addObject()
        c.put("source_address", hex(20)); c.put("source_pubkey", hex(48))
        c.put("target_pubkey", hex(48))
        rows("deposit_requests") = 2; rows("withdrawal_requests") = 1
        rows("consolidation_requests") = 1
      }
    }
    val ssz = SszEncoder.encodeSignedBlock(data, fork)
    // SignedBeaconBlock: message at 100, body at message + 84; the payload
    // offset is the first offset after the sync aggregate (body + 380)
    val payloadAt =
      if (Domain.hasPayload(fork)) 184 + le32(ssz, 184 + 380) else -1
    Template(id, fork, ssz, payloadAt, rows.toMap)
  }

  private def le32(b: Array[Byte], at: Int): Int =
    (b(at) & 0xff) | ((b(at + 1) & 0xff) << 8) | ((b(at + 2) & 0xff) << 16) | ((b(at + 3) & 0xff) << 24)
  private def putLe64(b: Array[Byte], at: Int, v: Long): Unit = {
    var i = 0
    while (i < 8) { b(at + i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
  }

  val templates: IndexedSeq[Template] = Domain.forkEras.zipWithIndex.flatMap {
    case ((fork, firstEra, _), fi) =>
      (0 until templatesPerFork).map(i =>
        template(fi * templatesPerFork + i, fork, firstEra * Domain.slotsPerEra + 1))
  }.toIndexedSeq
  private def forkTemplates(fork: String) = templates.filter(_.fork == fork)

  /** The block bytes at `slot`: the template with patched slot, proposer,
    * signature and (post-merge) payload timestamp / block number. */
  def blockBytes(t: Template, slot: Long, proposer: Long): Array[Byte] = {
    val b = t.ssz.clone()
    putLe64(b, 100, slot)
    putLe64(b, 108, proposer)
    putLe64(b, 4, slot * 0x9E3779B97F4A7C15L)       // signature bytes 4..12
    putLe64(b, 184, slot * 0xC2B2AE3D27D4EB4FL)     // randao reveal head
    if (t.payloadAt >= 0) {
      putLe64(b, t.payloadAt + 404, slot - 6000000L)                     // block_number
      putLe64(b, t.payloadAt + 428, Domain.genesisTime + slot * Domain.secondsPerSlot)
    }
    b
  }

  /** Write one era file: `span` slots from the era's first slot (slot 0
    * excluded), each a hole with probability `holeRate`. */
  def writeEra(dir: String, era: Long, fork: String, span: Int,
      holeRate: Double): EraFile = {
    val pool = forkTemplates(fork)
    // the first blocks of every file carry one of each rare section, so
    // every table has rows whatever the seed
    val forced = pool.filter(_.id % 4 == 3).groupBy(t => (t.id / 4) % 6).toSeq.sortBy(_._1).map(_._2.head)
    val first = era * Domain.slotsPerEra
    val blocks = IndexedSeq.newBuilder[BlockTruth]
    val holes = IndexedSeq.newBuilder[Long]
    val payloads = Seq.newBuilder[(Long, Array[Byte])]
    var s = math.max(first, 1L)
    var blocksSoFar = 0
    while (s < first + span) {
      if (rnd.nextDouble() < holeRate) holes += s
      else {
        // three quarters of blocks come from the regular templates
        val t = if (blocksSoFar < forced.size) forced(blocksSoFar)
        else if (rnd.nextDouble() < 0.75) {
          val regular = pool.filter(_.id % 4 != 3)
          regular(rnd.nextInt(regular.size))
        } else pool(rnd.nextInt(pool.size))
        val proposer = rnd.nextInt(4000).toLong
        val c = SnappyFramed.compress(blockBytes(t, s, proposer))
        payloads += s -> c
        blocks += BlockTruth(s, t.id, proposer, c.length)
        blocksSoFar += 1
      }
      s += 1
    }
    val state = first + Domain.slotsPerEra -> SnappyFramed.compress(
      Array.tabulate[Byte](4096)(i => (if (i % 7 == 0) rnd.nextInt(256) else 0).toByte))
    val path = f"$dir/${Domain.network}-$era%05d-${(seed * 31 + era).toHexString.takeRight(8)}.era"
    new File(dir).mkdirs()
    val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 20)
    try EraFileWriter.writeIndexed(out, payloads.result(), Some(state), first, Domain.slotsPerEra)
    finally out.close()
    EraFile(path, era, blocks.result(), holes.result(), new File(path).length())
  }

  /** `perFork` eras for each listed fork, chosen at random inside the
    * fork's era range. */
  def archive(dir: String, perFork: Map[String, Int], span: Int,
      holeRate: Double): Archive = {
    val files = Domain.forkEras.flatMap { case (fork, lo, n) =>
      val k = perFork.getOrElse(fork, 0)
      val eras = rnd.shuffle((lo until lo + n).toList).take(k).sorted
      eras.map(e => writeEra(dir, e, fork, span, holeRate))
    }.toIndexedSeq
    Archive(dir, files, templates)
  }
}
