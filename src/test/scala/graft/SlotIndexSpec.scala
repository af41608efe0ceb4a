package graft

import java.io.{BufferedOutputStream, File, FileOutputStream}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{EraFileWriter, EraScanStats}
import graft.ssz.SnappyFramed
import graft.testkit.EraFixtures

/** SlotIndex-backed point lookup (VERDICT r12 #3): a pushed `slot = N`
  * equality seeks through the era file's trailing block SlotIndex instead
  * of walking every record — O(1 record) bytes read on a multi-thousand-
  * block file, value identical to the full-scan path. The reference
  * ignores its own SlotIndex records (era_reader.py:124-125), so this is
  * the one pushdown SURVEY §4 flags as worth going beyond parity for:
  * a 100 TB archive serving point lookups otherwise decompresses ~8k
  * blocks to answer for one. */
class SlotIndexSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val era = 11L
  private val startSlot = era * 8192
  private val nBlocks = 4096 // every EVEN slot offset ⇒ odd offsets are holes

  /** One deep era file of from-scratch altair blocks ([[SyntheticEra]]),
    * one per even slot offset. Cached under target/: ~4k encodes and
    * compressions is a one-time cost. */
  private lazy val deepDir: String = {
    val dir = new File("target/slotindex-deep-synthetic")
    dir.mkdirs()
    val f = new File(dir, f"gnosis-$era%05d-deadbeef.era")
    if (!f.exists()) {
      val blocks = (0 until nBlocks).map(i => blockAt(startSlot + 2L * i))
      val out = new BufferedOutputStream(new FileOutputStream(f), 1 << 20)
      try EraFileWriter.writeIndexed(out, blocks,
        state = Some((startSlot + 8192L, Array[Byte](9, 9))),
        startSlot = startSlot, slotCount = 8192)
      finally out.close()
    }
    new File(dir, f.getName).getAbsolutePath
  }

  private def blockAt(slot: Long): (Long, Array[Byte]) =
    slot -> SnappyFramed.compress(SyntheticEra.blockSsz(slot, "altair"))

  private def scan() = spark.read.format("era").load(deepDir)

  test("point lookup via SlotIndex reads O(1 record) bytes, value identical to the walk") {
    val target = startSlot + 2L * 1234
    // reference answer from an explicit full walk (no slot filter pushed)
    val walked = scan().filter(col("record_type") === "block").collect()
      .filter(_.getLong(0) == target)
    assert(walked.length === 1)

    EraScanStats.reset()
    val fast = scan().filter(col("slot") === target).collect()
    assert(fast.length === 1)
    assert(fast.head.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    } === walked.head.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }, "fast-path row differs from the sequential walk's")

    assert(EraScanStats.indexLookups.sum() >= 1, "index lookup did not run")
    assert(EraScanStats.fullScans.sum() === 0, "lookup fell back to a walk")
    assert(EraScanStats.blocksDecompressed.sum() === 1,
      s"decompressed ${EraScanStats.blocksDecompressed.sum()} blocks for one lookup")
    val fileLen = new File(deepDir).length()
    val read = EraScanStats.bytesRead.sum()
    assert(read < fileLen / 20,
      s"lookup read $read of $fileLen bytes — not O(1 record)")
  }

  test("an indexed hole (offset 0) answers empty without walking or decompressing") {
    EraScanStats.reset()
    assert(scan().filter(col("slot") === (startSlot + 5L)).count() === 0)
    assert(EraScanStats.indexLookups.sum() >= 1)
    assert(EraScanStats.fullScans.sum() === 0)
    assert(EraScanStats.blocksDecompressed.sum() === 0)
  }

  test("slot IN (…) batch lookup: one tail parse, one probe per slot, holes skipped, walk-identical") {
    val present = Seq(100L, 1234L, 2222L).map(i => startSlot + 2L * i)
    val holes = Seq(startSlot + 7L, startSlot + 4095L) // odd offsets: indexed 0
    val asked = (present ++ holes).sorted
    val walked = scan().filter(col("record_type") === "block").collect()
      .filter(r => asked.contains(r.getLong(0))).map(_.getLong(0)).sorted

    EraScanStats.reset()
    val fast = scan().filter(col("slot").isin(asked: _*)).collect()
    assert(fast.map(_.getLong(0)).sorted.toSeq === walked.toSeq)
    assert(fast.map(_.getLong(0)).sorted.toSeq === present.sorted)
    assert(EraScanStats.indexLookups.sum() === 1, "IN set must parse the tail once")
    assert(EraScanStats.fullScans.sum() === 0, "IN lookup fell back to a walk")
    assert(EraScanStats.blocksDecompressed.sum() === present.size.toLong,
      "decompressions must equal the PRESENT slots, holes skipped")
    val fileLen = new File(deepDir).length()
    assert(EraScanStats.bytesRead.sum() < fileLen / 20,
      s"IN lookup read ${EraScanStats.bytesRead.sum()} of $fileLen bytes")
  }

  test("slot IN with a 0 never fast-paths; an out-of-range slot falls back to the walk") {
    EraScanStats.reset()
    // 4 rows: the block at startSlot+20 PLUS the state record and both
    // SlotIndex records, which all carry slot 0 — exactly why a set
    // containing 0 must take the walk (the index only knows blocks)
    val withZero = scan()
      .filter(col("slot").isin(0L, startSlot + 2L * 10))
      .count()
    assert(withZero === 4)
    assert(EraScanStats.fullScans.sum() >= 1, "0-containing IN must walk")

    // the deep file's index provably spans its WHOLE declared era, so an
    // out-of-range slot (it belongs to some other era's file) is skipped
    // on the fast path — the multi-era IN shape stays O(1 record)/file
    EraScanStats.reset()
    val outside = scan()
      .filter(col("slot").isin(startSlot + 2L * 10, startSlot - 5L))
      .collect().map(_.getLong(0)).toSeq
    assert(outside === Seq(startSlot + 2L * 10))
    assert(EraScanStats.fullScans.sum() === 0,
      "era-covering index should answer a multi-era IN without walking")

    // a PARTIAL index (covers only half the era) cannot prove an
    // out-of-range slot absent — that shape must fall back to the walk
    val dir = java.nio.file.Files.createTempDirectory("slotindex-partial").toString
    val f = new File(dir, f"gnosis-$era%05d-ab12cd34.era")
    val out = new BufferedOutputStream(new FileOutputStream(f))
    try EraFileWriter.writeIndexed(out,
      blocks = Seq(blockAt(startSlot + 10L)),
      state = None, startSlot = startSlot, slotCount = 4096)
    finally out.close()
    EraScanStats.reset()
    val got = spark.read.format("era").load(f.getAbsolutePath)
      .filter(col("slot").isin(startSlot + 10L, startSlot + 5000L))
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(startSlot + 10L))
    assert(EraScanStats.fullScans.sum() >= 1,
      "a partial index must fall back when asked past its range")
  }

  test("slot = 0 never fast-paths: state/index rows carry slot 0 and must surface") {
    // era-0 fixture file has the genesis-era range, so slot-0 pruning keeps it
    val fixtureDir = EraFixtures.ensureGenerated()
    EraScanStats.reset()
    val rows = spark.read.format("era").load(fixtureDir)
      .filter(col("slot") === 0L).select("record_type").collect()
      .map(_.getString(0)).groupBy(identity).view.mapValues(_.length).toMap
    // state + both SlotIndex rows of every file carry slot 0
    assert(rows.getOrElse("state", 0) > 0 && rows.getOrElse("index", 0) > 0)
    assert(EraScanStats.fullScans.sum() > 0, "slot-0 query skipped the walk")
  }

  test("a file without a SlotIndex falls back to the sequential walk, same answer") {
    val dir = java.nio.file.Files.createTempDirectory("slotindex-noidx").toString
    val ssz = SyntheticEra.blockSsz(98300L, "altair")
    val f = new File(dir, "gnosis-00011-cafecafe.era")
    val out = new BufferedOutputStream(new FileOutputStream(f))
    try EraFileWriter.write(out, Iterator(EraFileWriter.blockRecord(ssz)))
    finally out.close()
    EraScanStats.reset()
    val got = spark.read.format("era").load(f.getAbsolutePath)
      .filter(col("slot") === 98300L).collect()
    assert(got.length === 1 && got.head.getLong(0) === 98300L)
    assert(EraScanStats.fullScans.sum() >= 1, "malformed tail must fall back")
  }

  test("a narrow slot RANGE (AND-ed bounds) probes the index instead of walking, walk-identical") {
    // new r14: `slot BETWEEN a AND b` arrives as two AND-ed comparison
    // filters; a window ≤ 4096 slots becomes per-slot probes (holes are
    // indexed 0 and skipped) instead of a whole-file walk
    val lo = startSlot + 2L * 1000
    val hi = startSlot + 2L * 1050 + 1 // odd upper bound: ends on a hole
    val walked = scan().filter(col("record_type") === "block").collect()
      .filter(r => r.getLong(0) >= lo && r.getLong(0) <= hi)
      .map(_.getLong(0)).sorted
    assert(walked.length === 51)

    EraScanStats.reset()
    val fast = scan().filter(col("slot") >= lo && col("slot") <= hi).collect()
    assert(fast.map(_.getLong(0)).sorted.toSeq === walked.toSeq)
    assert(EraScanStats.indexLookups.sum() === 1, "range must parse the tail once")
    assert(EraScanStats.fullScans.sum() === 0, "narrow range fell back to a walk")
    assert(EraScanStats.blocksDecompressed.sum() === walked.length.toLong,
      "decompressions must equal the PRESENT slots in the window")
    val fileLen = new File(deepDir).length()
    assert(EraScanStats.bytesRead.sum() < fileLen / 20,
      s"range lookup read ${EraScanStats.bytesRead.sum()} of $fileLen bytes")

    // a WIDE range (> 4096 slots) must take the walk — probing is the
    // wrong plan there
    EraScanStats.reset()
    val wide = scan()
      .filter(col("slot") >= startSlot && col("slot") <= startSlot + 8191)
      .filter(col("record_type") === "block").count()
    assert(wide === nBlocks.toLong)
    assert(EraScanStats.fullScans.sum() >= 1, "wide range should walk")

    // a range touching slot 0 must walk (state/index rows carry slot 0)
    EraScanStats.reset()
    val zeroTouch = scan().filter(col("slot") <= startSlot + 10).count()
    assert(EraScanStats.fullScans.sum() >= 1, "0-including range must walk")
    assert(zeroTouch >= 3) // state + the two SlotIndex rows at minimum
  }

  test("the 4096-slot range cutover is pinned: 4096-wide window probes, 4097-wide walks, both walk-identical") {
    // r15 (VERDICT r14 stretch #7): the narrow-range test pins a 51-slot
    // window and the wide test a whole era, but the CUTOVER itself —
    // hi − lo < 4096, i.e. window size ≤ 4096 probes, 4097 walks — was
    // unpinned; a drifted constant or an off-by-one in the shared
    // slot-window fold would move it silently.
    val lo = startSlot + 2L
    def expected(hi: Long) = scan()
      .filter(col("record_type") === "block").collect()
      .map(_.getLong(0)).filter(s => s >= lo && s <= hi).sorted

    // window of EXACTLY 4096 slots (hi − lo = 4095): the widest probe set
    val hiProbe = lo + 4095L
    val wantProbe = expected(hiProbe)
    assert(wantProbe.length === 2048) // even offsets 2..4096
    EraScanStats.reset()
    val probed = scan().filter(col("slot") >= lo && col("slot") <= hiProbe)
      .collect().map(_.getLong(0)).sorted
    assert(probed.toSeq === wantProbe.toSeq)
    assert(EraScanStats.indexLookups.sum() === 1,
      "a 4096-slot window must still probe (one tail parse)")
    assert(EraScanStats.fullScans.sum() === 0,
      "a 4096-slot window fell back to a walk — cutover drifted tighter")
    assert(EraScanStats.blocksDecompressed.sum() === wantProbe.length.toLong)

    // one slot wider (hi − lo = 4096): past the cap — must walk
    val hiWalk = lo + 4096L
    val wantWalk = expected(hiWalk)
    assert(wantWalk.length === 2049) // the window gains the even offset 4098
    EraScanStats.reset()
    val walked = scan().filter(col("slot") >= lo && col("slot") <= hiWalk)
      .collect().map(_.getLong(0)).sorted
    assert(walked.toSeq === wantWalk.toSeq)
    assert(EraScanStats.fullScans.sum() >= 1,
      "a 4097-slot window should walk — cutover drifted wider")
    assert(EraScanStats.indexLookups.sum() === 0,
      "walk path must not also probe the index")
  }

  test("multi-group file: tail-index lookups fast-path, first-group slots fall back, both walk-identical") {
    // era := group+ (docs/ERA_FILE_FORMAT.md:31-38): only the LAST group's
    // SlotIndex pair is at the tail, so its startingSlot ≠ the filename's
    // era start and coversWholeEra must be false — the exact shape
    // lookupAll's conservative fallback exists for (VERDICT r13 #4)
    val dir = java.nio.file.Files.createTempDirectory("slotindex-multigroup").toString
    val half = 4096
    val g1Slots = (0 until 64).map(i => startSlot + 2L * i)
    val g2Slots = (0 until 64).map(i => startSlot + half + 2L * i)
    val f = new File(dir, f"gnosis-$era%05d-2b2b2b2b.era")
    val out = new BufferedOutputStream(new FileOutputStream(f), 1 << 20)
    try EraFileWriter.writeGroups(out, Seq(
      EraFileWriter.EraGroup(g1Slots.map(blockAt),
        Some((startSlot + half, Array[Byte](7, 7))), startSlot, half),
      EraFileWriter.EraGroup(g2Slots.map(blockAt),
        Some((startSlot + 8192L, Array[Byte](8, 8))), startSlot + half, half)))
    finally out.close()

    def scanMg() = spark.read.format("era").load(f.getAbsolutePath)
    val allBlocks = scanMg().filter(col("record_type") === "block").collect()
    assert(allBlocks.length === g1Slots.size + g2Slots.size,
      "the walk must see every block across both groups")

    // second-group slot: inside the tail index's range → fast path
    val inG2 = g2Slots(10)
    EraScanStats.reset()
    val fast = scanMg().filter(col("slot") === inG2).collect()
    assert(fast.length === 1 && fast.head.getLong(0) === inG2)
    assert(EraScanStats.indexLookups.sum() >= 1 &&
      EraScanStats.fullScans.sum() === 0, "tail-group lookup must fast-path")
    assert(EraScanStats.blocksDecompressed.sum() === 1)
    assert(EraScanStats.bytesRead.sum() < f.length() / 10,
      s"tail-group lookup read ${EraScanStats.bytesRead.sum()} of ${f.length()} bytes")

    // first-group slot: OUTSIDE the tail index, which does not span the
    // declared era → must fall back to the walk, value identical
    val inG1 = g1Slots(10)
    EraScanStats.reset()
    val walked = scanMg().filter(col("slot") === inG1).collect()
    assert(walked.length === 1 && walked.head.getLong(0) === inG1)
    assert(EraScanStats.fullScans.sum() >= 1,
      "first-group slot must fall back to the sequential walk")
    val expected = allBlocks.filter(_.getLong(0) == inG1).head
    assert(walked.head.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    } === expected.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }, "fallback row differs from the unfiltered walk's")

    // an indexed HOLE in the tail group's range still answers without a walk
    EraScanStats.reset()
    assert(scanMg().filter(col("slot") === (startSlot + half + 9L)).count() === 0)
    assert(EraScanStats.fullScans.sum() === 0 &&
      EraScanStats.blocksDecompressed.sum() === 0)
  }

  test("the fixture corpus point lookup (era_point_lookup's shape) takes the fast path") {
    val fixtureDir = EraFixtures.ensureGenerated()
    EraScanStats.reset()
    val got = spark.read.format("era").load(fixtureDir)
      .filter(col("slot") === 98300L).collect()
    assert(got.length === 1)
    assert(EraScanStats.indexLookups.sum() >= 1)
    assert(EraScanStats.fullScans.sum() === 0)
  }
}
