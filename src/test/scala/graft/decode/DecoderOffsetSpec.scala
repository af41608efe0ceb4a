package graft.decode

import org.scalatest.funsuite.AnyFunSuite

/** Unsigned-offset regression pins for the fork decoders (the r12 decode
  * review): offsets ≥ 2^31 must take the same branch the reference's
  * unbounded-int arithmetic takes (empty slice / failed >=len guard),
  * never a signed-wrapped negative that reads the wrong bytes. */
class DecoderOffsetSpec extends AnyFunSuite {

  private def le32(v: Long): Array[Byte] = java.nio.ByteBuffer.allocate(4)
    .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v.toInt).array()

  test("huge aggregation-bits offset renders the reference's empty hex") {
    val att = le32(0x80000004L) ++ Array.fill[Byte](224)(3)
    val parsed = BlockDecoder.parseAttestationAt(att, 0, att.length)
    assert(parsed != null && parsed.aggregation_bits === "0x",
      "reference: data[bits_offset:] on a huge offset is empty, hex '0x'")
  }

  test("huge indices offset fails the reference's >=len guard") {
    val idx = le32(0x80000004L) ++ Array.fill[Byte](228)(3)
    assert(BlockDecoder.parseIndexedAttestationAt(idx, 0, idx.length) == null)
  }

  test("huge attester-slashing offsets fail the reference's >=len guard") {
    val d = le32(0x80000008L) ++ le32(0x80000100L) ++ Array.fill[Byte](16)(1)
    assert(BlockDecoder.parseAttesterSlashingAt(d, 0, d.length) == null)
  }

  test("huge body-section offsets are skipped like any out-of-range section") {
    // minimal phase0 body: 200-byte fixed head + 5 offsets all >= 2^31 —
    // every child list must come back empty (reference: offset >= len)
    val head = Array.fill[Byte](200)(0)
    val offs = (0 until 5).flatMap(i => le32(0x80000000L + i * 4)).toArray
    val (body, _) = BlockDecoder.parseBodyPruned(head ++ offs, "phase0",
      BlockDecoder.AllSections)
    assert(body.attestations.isEmpty && body.deposits.isEmpty &&
      body.voluntary_exits.isEmpty && body.proposer_slashings.isEmpty &&
      body.attester_slashings.isEmpty)
  }
}
