package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.model.EraRecord
import graft.sources.{EraFileInfo, EraFileReader, EraFileWriter, EraScanStats}
import graft.ssz.{SnappyFramed, Ssz}

/** Property tests for the SSZ decode core (SURVEY.md §5 plan item 4):
  * offset-table and fixed-stride list round-trips, LE readers, snappy
  * round-trip, portable hash64 parity with its SQL definition. */
class SszPropertySpec extends AnyFunSuite {

  /** Minimal deterministic property driver (the scalatest-scalacheck bridge
    * is not in the offline dependency cache): samples `gen` n times. */
  private def forAll[A](gen: Gen[A], n: Int = 200)(body: A => Unit): Unit = {
    val seed0 = org.scalacheck.rng.Seed(42L)
    var seed = seed0
    var i = 0
    while (i < n) {
      gen.apply(Gen.Parameters.default, seed).foreach(body)
      seed = seed.next
      i += 1
    }
  }

  private def encodeVariableList(items: Seq[Array[Byte]]): Array[Byte] = {
    val headerLen = items.length * 4
    val out = java.nio.ByteBuffer.allocate(headerLen + items.map(_.length).sum)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var off = headerLen
    items.foreach { it => out.putInt(off); off += it.length }
    items.foreach(out.put)
    out.array()
  }

  /** Each input runs bare (pad 0) and embedded at a non-zero `from` inside
    * a buffer padded with 0xff on both sides, the way the decoder calls the
    * range parsers on a section of a block body. */
  private val pads = Seq(0, 5, 16)

  private def padded(bytes: Array[Byte], pad: Int): Array[Byte] =
    Array.fill[Byte](pad)(-1) ++ bytes ++ Array.fill[Byte](pad)(-1)

  private def copyItem(d: Array[Byte], from: Int, until: Int): Array[Byte] =
    java.util.Arrays.copyOfRange(d, from, until)

  /** `parseVariableListAt` over `bytes` at every pad, items copied out. */
  private def variableLists(bytes: Array[Byte]): Seq[Vector[Array[Byte]]] =
    pads.map(p => Ssz.parseVariableListAt(padded(bytes, p), p, p + bytes.length, copyItem))

  /** `parseFixedListAt` over `bytes` at every pad, items copied out. */
  private def fixedLists(bytes: Array[Byte], stride: Int): Seq[Vector[Array[Byte]]] =
    pads.map(p => Ssz.parseFixedListAt(padded(bytes, p), p, p + bytes.length, stride, copyItem))

  private val genItem: Gen[Array[Byte]] =
    Gen.chooseNum(1, 40).flatMap(n => Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)))
      .map(_.toArray)

  test("variable-list offset-table round-trip for any non-empty item list") {
    forAll(Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, genItem))) { items0 =>
      locally {
        val items = items0
        val encoded = encodeVariableList(items)
        variableLists(encoded).foreach { decoded =>
          assert(decoded.length === items.length)
          decoded.zip(items).foreach { case (d, o) => assert(d.sameElements(o)) }
        }
      }
    }
  }

  test("empty variable list encodes as empty-buffer or offset==len and decodes empty") {
    variableLists(Array.empty[Byte]).foreach(d => assert(d.isEmpty))
    // a single 4-byte offset table pointing at end-of-buffer = empty list
    val selfOffset = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(4).array()
    variableLists(selfOffset).foreach(d => assert(d.isEmpty))
  }

  test("offsets >= 2^31 keep the reference's unsigned semantics (no Int wrap)") {
    def le32(v: Long): Array[Byte] = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v.toInt).array()
    // aligned-but-huge FIRST offset: the reference's unsigned arithmetic
    // falls through to the too-many-offsets empty return (num_items*4 >
    // len); a signed wrap would take the single-item branch instead
    val hugeFirst = le32(0x80000000L) ++ Array.fill[Byte](12)(7)
    variableLists(hugeFirst).foreach(d => assert(d.isEmpty))
    // huge SECOND table entry: the reference drops it as out of range, so
    // item 0 runs to end-of-buffer; a negative wrap would pass the bounds
    // filter and corrupt item 0's end bound (start >= end -> dropped)
    val twoOffsets = le32(8) ++ le32(0xfffffff0L) ++ Array.fill[Byte](6)(9)
    variableLists(twoOffsets).foreach { items =>
      assert(items.length === 1 && items.head.sameElements(Array.fill[Byte](6)(9)))
    }
    // readOffset clamps to length, never negative
    assert(Ssz.readOffset(hugeFirst, 0) === hugeFirst.length)
    // uint256 at a near-MaxValue offset must not wrap past the bounds check
    pads.foreach { p =>
      val ones = Array.fill[Byte](40)(1)
      assert(Ssz.readUint256DecimalIn(padded(ones, p), Int.MaxValue - 8, p + ones.length) === "0")
    }
    // (decoder item parsers under the same inputs: DecoderOffsetSpec)
  }

  test("fixed-stride list round-trip with trailing-partial truncation") {
    forAll(Gen.zip(Gen.chooseNum(1, 16),
        Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte)))) { case (stride, bytes0) =>
      val bytes = bytes0.toArray
      fixedLists(bytes, stride).foreach { items =>
        assert(items.length === bytes.length / stride) // partial tail dropped
        items.zipWithIndex.foreach { case (it, i) =>
          assert(it.sameElements(bytes.slice(i * stride, (i + 1) * stride)))
        }
      }
    }
  }

  test("LE uint readers agree with ByteBuffer") {
    forAll(Gen.listOfN(12, Gen.chooseNum(-128, 127).map(_.toByte))) { bs =>
      val arr = bs.toArray
      val bb = java.nio.ByteBuffer.wrap(arr).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      assert(Ssz.readUint32(arr, 0) === (bb.getInt(0).toLong & 0xffffffffL))
      assert(Ssz.readUint64(arr, 2) === bb.getLong(2))
    }
  }

  test("out-of-range reads return 0 (reference tolerance, ssz_utils.py:4-14)") {
    assert(Ssz.readUint32(Array[Byte](1, 2), 0) === 0L)
    assert(Ssz.readUint64(Array[Byte](1, 2, 3), 0) === 0L)
  }

  test("snappy framed compress/decompress round-trip") {
    forAll(Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte)), 100) { bs =>
      val arr = bs.toArray
      assert(SnappyFramed.decompress(SnappyFramed.compress(arr)).sameElements(arr))
    }
  }

  test("native hash64 equals its SQL definition (first 15 hex chars of md5, base 16)") {
    forAll(Gen.asciiPrintableStr) { s =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val expected = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      assert(graft.functions.Signatures.hash64String(s) === expected)
    }
  }

  test("wordShingles equals the SQL tokenize-then-ngram formulation") {
    // separators include runs of mixed whitespace — the regex-\s+ class
    val genText = for {
      words <- Gen.listOf(Gen.oneOf("alpha", "beta", "gamma", "delta", "x"))
      seps <- Gen.listOfN(math.max(words.length - 1, 0),
        Gen.oneOf(" ", "  ", "\t", " \t ", "\n"))
    } yield words.zipAll(seps, "", "").map { case (w, s) => w + s }.mkString
    forAll(genText) { text =>
      val toks = text.trim.split("\\s+").filter(_.nonEmpty)
      val expected =
        if (toks.length < 3) Seq.empty
        else toks.sliding(3).map(_.mkString(" ")).toSeq.distinct
      assert(graft.functions.Signatures.wordShinglesSeq(text.trim, 3) === expected)
    }
  }

  test("era reader tolerates truncated and garbage files (skips, never throws)") {
    val info = EraFileInfo.fromPath("gnosis-00001-deadbeef.era")
    def read(bytes: Array[Byte]) =
      EraFileReader.readRecords(new java.io.ByteArrayInputStream(bytes), info).toVector
    assert(read(Array.empty[Byte]).isEmpty) // empty file
    assert(read(Array.fill[Byte](5)(1)).isEmpty) // shorter than the header
    assert(read(Array.fill[Byte](64)(0x42)).isEmpty) // garbage body
    // valid header + truncated record payload → record dropped cleanly
    val truncated = Array[Byte]('e', '2', 's', 't', 0, 0, 0, 0,
      0x01, 0x00, 100, 0, 0, 0, 0, 0, /* payload shorter than length: */ 1, 2, 3)
    assert(read(truncated).isEmpty)
    // a record length above Int.MaxValue ends the walk after the records
    // before it; narrowed to an Int it would wrap negative, skip no
    // payload, and re-read the bytes behind the header (here a whole
    // valid record) as further records
    val withBlock = new java.io.ByteArrayOutputStream()
    EraFileWriter.write(withBlock,
      Iterator(EraFileWriter.blockRecord(SyntheticEra.blockSsz(8200L, "altair"))))
    val valid = withBlock.toByteArray
    val overLength = Array[Byte](0x01, 0x00, -1, -1, -1, -1, 0, 0)
    val got = read(valid ++ overLength ++ valid.drop(8))
    assert(got.map(r => (r.slot, r.record_type)) === Vector((8200L, "block")))
    assert(got.head.data.sameElements(valid.drop(16)))
  }

  test("SlotIndex seek answers exactly the walk's records for the asked slots, or walks") {
    // 1- or 2-group files with random holes, a filename era that does or
    // does not match the index, and sometimes a lying tail index (two
    // block offsets swapped). The reader either returns the walk's block
    // records for exactly the asked slots, or falls back to the walk and
    // returns every record — never a partial or different answer.
    val fs = FileSystem.getLocal(new Configuration())
    val dir = java.nio.file.Files.createTempDirectory("seek-vs-walk").toFile
    val era = 3L
    val first = era * 8192
    val perGroup = 12
    val compressed = scala.collection.mutable.Map.empty[Long, Array[Byte]]
    def blockAt(slot: Long): (Long, Array[Byte]) = slot -> compressed.getOrElseUpdate(
      slot, SnappyFramed.compress(SyntheticEra.blockSsz(slot, "altair")))
    def starts(groups: Int): Seq[Long] =
      if (groups == 1) Seq(first) else Seq(first, first + 4096)
    val gen = for {
      groups <- Gen.oneOf(1, 2)
      present <- Gen.listOfN(groups, Gen.listOfN(perGroup, Gen.prob(0.6)))
      nameEra <- Gen.oneOf(era, era + 1)
      lie <- Gen.prob(0.3)
      candidates = starts(groups).flatMap(s => s to s + perGroup) ++
        Seq(first - 1, first + 8192)
      n <- Gen.chooseNum(1, 5)
      asked <- Gen.pick(n, candidates)
    } yield (groups, present, nameEra, lie, asked.toSeq)

    def row(r: EraRecord) =
      (r.slot, r.record_type, r.data.toSeq, r.network, r.era_number, r.source_file)
    var seeks = 0
    var walks = 0
    forAll(gen, 60) { case (groups, present, nameEra, lie, asked) =>
      val slotCount = 8192 / groups
      val layout = starts(groups).zip(present).map { case (s, bits) =>
        EraFileWriter.EraGroup(
          bits.zipWithIndex.collect { case (true, i) => blockAt(s + i) },
          Some((s + slotCount, Array[Byte](5, 5))), s, slotCount)
      }
      val bos = new java.io.ByteArrayOutputStream()
      EraFileWriter.writeGroups(bos, layout)
      val bytes = bos.toByteArray
      val tailPresent = present.last.zipWithIndex.collect { case (true, i) => i }
      if (lie && tailPresent.size >= 2) {
        // the tail block index sits before the 32-byte state index record
        val idxPos = bytes.length - 32 - (24 + 8 * slotCount)
        val Seq(a, b) = tailPresent.take(2).map(i => idxPos + 16 + 8 * i)
        val entryA = bytes.slice(a, a + 8)
        System.arraycopy(bytes, b, bytes, a, 8)
        System.arraycopy(entryA, 0, bytes, b, 8)
      }
      val f = new java.io.File(dir, f"gnosis-$nameEra%05d-5eec0000.era")
      java.nio.file.Files.write(f.toPath, bytes)
      val info = EraFileInfo.fromPath(f.getPath)
      val path = new Path(f.getPath)

      val in = fs.open(path)
      val walked = try EraFileReader.readRecords(in, info).map(row).toVector
        finally in.close()
      val fullScans0 = EraScanStats.fullScans.sum()
      val in2 = fs.open(path)
      val got = try EraFileReader.read(in2, bytes.length.toLong, info, Some(asked)).map(row).toVector
        finally in2.close()
      if (EraScanStats.fullScans.sum() > fullScans0) {
        walks += 1
        assert(got === walked)
      } else {
        seeks += 1
        assert(got === walked
          .filter(r => r._2 == "block" && asked.contains(r._1)).sortBy(_._1))
      }
    }
    assert(seeks > 0 && walks > 0, s"seeks=$seeks walks=$walks")
  }
}
