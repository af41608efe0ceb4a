package graft

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.export.{EraStateManager, IncrementalExporter}
import graft.sources.EraFileWriter
import graft.ssz.SnappyFramed
import graft.testkit.SszEncoder

/** A spec-shaped gnosis era file built from scratch: phase0 (era 0) or
  * altair (eras 1–752) blocks with one attestation each, encoded through
  * [[SszEncoder]], plus a state record and the SlotIndex tails. Needs no reference fixture, so specs that only
  * need *some* decodable era (the CLI and loop plumbing) run anywhere. */
object SyntheticEra {

  private val mapper = new ObjectMapper()

  private def hex(n: Int, fill: Long): String =
    "0x" + (0 until n).map(i => f"${((fill * 31 + i * 7) & 0xff).toInt}%02x").mkString

  /** Uncompressed SSZ of the synthetic `fork` signed block at `slot`. */
  def blockSsz(slot: Long, fork: String): Array[Byte] = {
    val data = mapper.createObjectNode()
    val msg = data.putObject("message")
    msg.put("slot", slot.toString); msg.put("proposer_index", (slot % 97).toString)
    msg.put("parent_root", hex(32, slot)); msg.put("state_root", hex(32, slot + 1))
    data.put("signature", hex(96, slot + 2))
    val body = msg.putObject("body")
    body.put("randao_reveal", hex(96, slot + 3))
    val eth1 = body.putObject("eth1_data")
    eth1.put("deposit_root", hex(32, slot + 4)); eth1.put("deposit_count", "1000")
    eth1.put("block_hash", hex(32, slot + 5))
    body.put("graffiti", hex(32, 0))
    Seq("proposer_slashings", "attester_slashings", "deposits", "voluntary_exits")
      .foreach(body.putArray)
    val att = body.putArray("attestations").addObject()
    att.put("aggregation_bits", hex(8, slot + 6))
    val d = att.putObject("data")
    d.put("slot", (slot - 1).toString); d.put("index", "0")
    d.put("beacon_block_root", hex(32, slot + 7))
    Seq("source" -> (slot / 16 - 1), "target" -> slot / 16).foreach { case (n, epoch) =>
      val c = d.putObject(n); c.put("epoch", epoch.toString); c.put("root", hex(32, epoch))
    }
    att.put("signature", hex(96, slot + 8))
    if (fork == "altair") {
      val sync = body.putObject("sync_aggregate")
      sync.put("sync_committee_bits", hex(64, slot + 9))
      sync.put("sync_committee_signature", hex(96, slot + 10))
    }
    SszEncoder.encodeSignedBlock(data, fork)
  }

  /** Write era `era` with `blocks` blocks at its first slots (slot 0 is
    * skipped) under `dir` as `gnosis-<era>-<hash>.era`; returns the file. */
  def write(dir: String, era: Long, blocks: Int): File = {
    require(era < 753, "gnosis eras past 752 are bellatrix and later")
    val fork = if (era == 0) "phase0" else "altair"
    val first = era * 8192
    val slots = (math.max(first, 1L) until math.max(first, 1L) + blocks).toSeq
    new File(dir).mkdirs()
    val f = new File(dir, f"gnosis-$era%05d-5e0e$era%04x.era")
    val out = new BufferedOutputStream(new FileOutputStream(f))
    try EraFileWriter.writeIndexed(out, slots.map(s => s -> SnappyFramed.compress(blockSsz(s, fork))),
      Some((first + 8192L, Array[Byte](1, 2, 3, 4))), first, 8192)
    finally out.close()
    f
  }

  /** Eras 1 and 2 of 400 altair blocks each: enough rows that a 4 KB
    * `runWarehouse` file target splits era 2's tables into several files. */
  val SizedEras: Seq[Long] = Seq(1L, 2L)

  /** Writes [[SizedEras]] once; returns the loader of one era's records. */
  def sizedEraLoader(spark: SparkSession): Long => DataFrame = {
    val src = Files.createTempDirectory("graft-synth-sized").toString
    SizedEras.foreach(write(src, _, 400))
    val records = spark.read.format("era").load(src)
    era => records.filter(col("era_number") === era)
  }

  /** Lands [[SizedEras]] into `<wh>/gnosis` through `runWarehouse` with a
    * 4 KB file target, on a state log of its own. */
  def landSizedWarehouse(spark: SparkSession, wh: String): Unit = {
    val state = new EraStateManager(spark,
      Files.createTempDirectory("graft-synth-sized-state").toString)
    val done = IncrementalExporter.runWarehouse(spark, state, "gnosis", SizedEras, wh,
      targetFileBytes = 4096L)(sizedEraLoader(spark))
    require(done == SizedEras, s"landed $done")
  }
}
