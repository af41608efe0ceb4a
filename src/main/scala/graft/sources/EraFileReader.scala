package graft.sources

import java.io.{InputStream, OutputStream}
import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs.FSDataInputStream

import graft.config.Networks
import graft.model.EraRecord
import graft.ssz.{SnappyFramed, Ssz}

/** Filename-derived era metadata (era_reader.py:32-84; naming convention
  * docs/ERA_FILE_FORMAT.md:95-121: `<network>-<era>-<hash>.era`).
  * `eraKnown` = the era number genuinely came from the filename; a
  * non-convention name falls back to era 0 for the metadata COLUMNS
  * (rows inherit these values, so column predicates stay consistent) but
  * must never drive SLOT-based file pruning — block slots are peeked
  * from payloads, and a guessed era range would silently drop matching
  * rows. */
final case class EraFileInfo(
    eraNumber: Long, startSlot: Long, endSlot: Long,
    network: String, hash: String, filename: String, eraKnown: Boolean)

object EraFileInfo {
  def fromPath(path: String): EraFileInfo = {
    val filename = path.split('/').last
    val network = Networks.detectFromFilename(filename)
    val cfg = Networks(network)
    val parts = filename.stripSuffix(".era").split('-')
    val parsed: Option[Long] =
      (if (parts.length >= 2) scala.util.Try(parts(1).toLong).toOption else None)
        // an era number outside any sane range would OVERFLOW the slot
        // arithmetic (era·8192 wraps past Long.MaxValue/8192 ≈ 1.1e15),
        // poisoning slot-range file pruning with wrapped bounds — treat
        // such names as unknown: metadata era falls back to 0 and slot
        // pruning is disabled for the file (the conservative direction)
        .filter(e => e >= 0 && e < (1L << 40))
    val eraNumber = parsed.getOrElse(0L)
    val hash = if (parts.length > 2) parts(2) else "unknown"
    EraFileInfo(
      eraNumber = eraNumber,
      startSlot = graft.config.EraSlots.firstSlot(eraNumber, cfg),
      endSlot = graft.config.EraSlots.lastSlot(eraNumber, cfg),
      network = network, hash = hash, filename = filename,
      eraKnown = parsed.isDefined)
  }
}

/** Per-JVM scan counters — the measured witness for the SlotIndex fast
  * path (`SlotIndexSpec` asserts a point lookup reads O(1 record) bytes on
  * a multi-thousand-block file instead of walking it). Local-mode tests
  * share the JVM with executors, so LongAdders are visible to the spec;
  * on a real cluster they simply accumulate per executor, unused. */
object EraScanStats {
  val bytesRead = new LongAdder
  val blocksDecompressed = new LongAdder
  val indexLookups = new LongAdder
  val fullScans = new LongAdder
  def reset(): Unit =
    Seq(bytesRead, blocksDecompressed, indexLookups, fullScans).foreach(_.reset())
}

/**
 * The era file reader — the S1 operator (era_reader.py:86-127): a
 * sequential e2store record walk, plus the seek through the trailing
 * SlotIndex that the reference reads but ignores (era_reader.py:124-125;
 * SURVEY.md §4 flags that as the reference's own point-lookup perf bug).
 *
 * Layout (public e2store/era spec, docs/ERA_FILE_FORMAT.md:31-38 +
 * status-im nimbus-eth2 docs/e2store.md): an 8-byte version header, then
 * records `[type(2)][length LE(4)][pad(2)][payload]`, grouped as
 *
 *   group      := Version | block* | era-state | other-entries*
 *                 | slot-index(block)? | slot-index(state)
 *   slot-index := starting-slot | index … index | count   (all i64 LE)
 *
 * Types (era_reader.py:112-125): `0x01 0x00` CompressedSignedBeaconBlock
 * (snappy-framed SSZ; slot peeked), `0x02 0x00` CompressedBeaconState
 * (tagged, not decoded), `0x69 0x32` SlotIndex (tagged).
 *
 * Records stream out as an Iterator, so a partition never materializes its
 * era (the reference materializes whole eras — SURVEY.md §4 pipelining
 * note). Every byte is counted in [[EraScanStats.bytesRead]] where it is
 * read.
 */
object EraFileReader {

  val TypeBlock: Int = 0x0001  // bytes 0x01 0x00 LE
  val TypeState: Int = 0x0002
  val TypeIndex: Int = 0x3269  // bytes 0x69 0x32 LE
  /** e2store Version record type (`0x65 0x32` LE), zero-length — opens
    * every group after the first in a multi-group file. */
  val TypeVersion: Int = 0x3265

  /** One partition's records: the SlotIndex seek for a pushed slot set
    * when the index can answer it, otherwise the sequential walk.
    * `fileLen` is evaluated only for a seek, so a walk costs no stat. */
  def read(in: FSDataInputStream, fileLen: => Long, info: EraFileInfo,
      slots: Option[Seq[Long]]): Iterator[EraRecord] =
    slots.flatMap(seek(in, fileLen, info, _)).getOrElse {
      EraScanStats.fullScans.increment()
      readRecords(in, info)
    }

  /** The sequential walk over every record, in file order. */
  def readRecords(in: InputStream, info: EraFileInfo): Iterator[EraRecord] = {
    // 8-byte version header (era_reader.py:92); a file shorter than the
    // header is empty, not an error
    if (readNext(in, 8) == null) return Iterator.empty
    new Iterator[EraRecord] {
      private var nextRecord: EraRecord = _
      private var done = false

      private def advance(): Unit = {
        nextRecord = null
        while (nextRecord == null && !done) {
          val header = readNext(in, 8)
          if (header == null) { done = true; return }
          val (recordType, length) = parseHeader(header)
          // a length the JVM can't even allocate is corruption — stop the
          // walk (the reference's read of that many bytes hits EOF and
          // stops the same way); narrowing through .toInt instead would
          // wrap negative, skip ZERO payload bytes, and re-parse the
          // record's body as headers — garbage records for the rest of
          // the file
          if (length > Int.MaxValue) { done = true; return }
          if (length > 0) {
            val payload = readNext(in, length.toInt)
            if (payload == null) { done = true; return }
            nextRecord = recordType match {
              case TypeBlock =>
                try record(peekSlot(payload), "block", payload, info)
                catch { case _: Exception => null } // skip undecodable block
              case TypeState => record(0L, "state", payload, info)
              case TypeIndex => record(0L, "index", payload, info)
              case _ => null // unknown record types skipped
            }
          }
        }
      }

      advance()
      override def hasNext: Boolean = nextRecord != null
      override def next(): EraRecord = {
        val r = nextRecord
        advance()
        r
      }
    }
  }

  /** The slot-set seek — the `slot = / IN (…) / narrow range` pushdown:
    * ONE tail parse, then one offset probe + record read per requested
    * slot. Some(records in ascending slot order, deduplicated, holes
    * absent) or None = the caller walks.
    *
    * Each `index` entry is a SIGNED offset from the BEGINNING of the
    * slot-index record (its 8-byte header) to the beginning of the target
    * record; 0 = no record at that slot. The state index (count = 1) is
    * the file's last record, so the whole structure parses backwards from
    * EOF: count at EOF−8 sizes the state index, the block index ends where
    * the state index starts, its own trailing count sizes it.
    *
    * Everything here is CONSERVATIVE — the index is a seek accelerator,
    * never a correctness dependency. A malformed tail, a record that fails
    * validation, or a peeked slot that differs from the asked one returns
    * None. Slots OUTSIDE the tail index's range (a multi-era IN set probes
    * every surviving file for every slot) are skipped only when the index
    * provably spans the file's whole filename-declared era (`eraKnown`,
    * `startingSlot..+count` == `info.startSlot..endSlot`) — the same
    * filename trust file-level pruning already stands on. Otherwise
    * (partial index, unparseable name, a multi-group file whose tail
    * index covers only the last group) it returns None too, so a partial
    * answer can never be emitted. */
  private def seek(in: FSDataInputStream, fileLen: Long, info: EraFileInfo,
      slots: Seq[Long]): Option[Iterator[EraRecord]] =
    try {
      // state index is the last record; block index ends where it begins
      val stateIdx = indexRecordEndingAt(in, fileLen, fileLen)
      val blockIdx = stateIdx.flatMap { case (statePos, _, _) =>
        indexRecordEndingAt(in, statePos, fileLen)
      }
      blockIdx.flatMap { case (idxPos, startingSlot, count) =>
        val distinctSlots = slots.distinct.sorted
        val wanted = distinctSlots
          .filter(s => s >= startingSlot && s < startingSlot + count)
        val coversWholeEra = info.eraKnown &&
          startingSlot == info.startSlot &&
          startingSlot + count == info.endSlot + 1
        if (wanted.size < distinctSlots.size && !coversWholeEra)
          None
        else {
          EraScanStats.indexLookups.increment()
          val found = Seq.newBuilder[EraRecord]
          val it = wanted.iterator
          while (it.hasNext) {
            val slot = it.next()
            val rawOff = readLongAt(in, idxPos + 16 + 8 * (slot - startingSlot))
            if (rawOff != 0L) { // 0 = indexed hole: no block at this slot
              val recPos = idxPos + rawOff // signed offset, typically negative
              headerAt(in, recPos, fileLen) match {
                case Some((TypeBlock, len))
                    if len > 0 && len <= Int.MaxValue && recPos + 8 + len <= fileLen =>
                  val payload = readAt(in, recPos + 8, len.toInt)
                  // a peek mismatch means the index lies about this file —
                  // distrust it entirely and walk
                  if (peekSlot(payload) != slot) return None
                  found += record(slot, "block", payload, info)
                case _ => return None
              }
            }
          }
          Some(found.result().iterator)
        }
      }
    } catch { case _: Exception => None }

  /** The position of a slot-index RECORD whose payload ENDS at `end`
    * (exclusive), validated against its own trailing count — or None. */
  private def indexRecordEndingAt(in: FSDataInputStream, end: Long,
      fileLen: Long): Option[(Long, Long, Long)] = {
    if (end < 8 + 8 + 24) return None
    val count = readLongAt(in, end - 8)
    // an index over more slots than any era geometry uses is corruption
    if (count < 1 || count > (1L << 20)) return None
    val recPos = end - (24 + 8 * count)
    headerAt(in, recPos, fileLen) match {
      case Some((TypeIndex, len)) if len == 16 + 8 * count =>
        Some((recPos, readLongAt(in, recPos + 8), count))
      case _ => None
    }
  }

  /** The record header at `pos`, or None when it lies outside the file. */
  private def headerAt(in: FSDataInputStream, pos: Long,
      fileLen: Long): Option[(Int, Long)] =
    if (pos < 8 || pos + 8 > fileLen) None
    else Some(parseHeader(readAt(in, pos, 8)))

  /** An i64 LE at `pos` (the index's slots, offsets and counts). */
  private def readLongAt(in: FSDataInputStream, pos: Long): Long =
    Ssz.readUint64(readAt(in, pos, 8), 0)

  /** `n` bytes at `pos`, without moving the walk's position. */
  private def readAt(in: FSDataInputStream, pos: Long, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    in.readFully(pos, b)
    EraScanStats.bytesRead.add(n)
    b
  }

  /** The walk's next `n` bytes, or null when the stream ends first. */
  private def readNext(in: InputStream, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    val got = in.readNBytes(b, 0, n)
    EraScanStats.bytesRead.add(got)
    if (got < n) null else b
  }

  /** An 8-byte record header: (type, unsigned payload length). */
  private def parseHeader(b: Array[Byte]): (Int, Long) =
    ((b(0) & 0xff) | ((b(1) & 0xff) << 8), Ssz.readUint32(b, 2))

  /** A block payload's slot: decompress, then read `message.slot` at the
    * offset byte 0 points to (era_reader.py:112-121). Throws on a payload
    * that does not decompress. */
  private def peekSlot(payload: Array[Byte]): Long = {
    val decompressed = SnappyFramed.decompress(payload)
    EraScanStats.blocksDecompressed.increment()
    Ssz.readUint64(decompressed, Ssz.readUint32(decompressed, 0).toInt)
  }

  private def record(slot: Long, recordType: String, payload: Array[Byte],
      info: EraFileInfo): EraRecord =
    EraRecord(slot, recordType, payload, info.network, info.eraNumber, info.filename)
}

/** e2store era-file writer — used by fixture generation and synthetic-era
  * benchmarks (format per docs/ERA_FILE_FORMAT.md:36-40). */
object EraFileWriter {

  /** e2store magic "e2" + version + padding. */
  private val VersionHeader = Array[Byte]('e', '2', 's', 't', 0, 0, 0, 0)

  def write(out: OutputStream, records: Iterator[(Int, Array[Byte])]): Unit = {
    out.write(VersionHeader)
    records.foreach { case (recordType, payload) => writeRecord(out, recordType, payload) }
  }

  /** One record: `[type LE(2)][length LE(4)][pad(2)]`, then the payload. */
  private def writeRecord(out: OutputStream, recordType: Int,
      payload: Array[Byte]): Unit = {
    val len = payload.length
    out.write(Array[Byte](recordType.toByte, (recordType >> 8).toByte,
      len.toByte, (len >> 8).toByte, (len >> 16).toByte, (len >> 24).toByte, 0, 0))
    out.write(payload)
  }

  /** Compress + write a block record payload. */
  def blockRecord(sszBlock: Array[Byte]): (Int, Array[Byte]) =
    (EraFileReader.TypeBlock, SnappyFramed.compress(sszBlock))

  /** One indexed group of a (possibly multi-group) era file: blocks are
    * (slot, ALREADY-COMPRESSED payload) with distinct slots inside
    * `[startSlot, startSlot + slotCount)`; `state` is the optional
    * (slot, payload) era-state record. */
  final case class EraGroup(
      blocks: Seq[(Long, Array[Byte])],
      state: Option[(Long, Array[Byte])],
      startSlot: Long, slotCount: Int)

  /** Write a spec-shaped single-group era file WITH its two trailing
    * SlotIndex records (docs/ERA_FILE_FORMAT.md:31-38; offsets signed i64
    * relative to the start of the index record, 0 = no record at that
    * slot — the public e2store layout [[EraFileReader]] seeks through). */
  def writeIndexed(out: OutputStream,
      blocks: Seq[(Long, Array[Byte])],
      state: Option[(Long, Array[Byte])],
      startSlot: Long, slotCount: Int): Unit =
    writeGroups(out, Seq(EraGroup(blocks, state, startSlot, slotCount)))

  /** Multi-group era file (`era := group+`, docs/ERA_FILE_FORMAT.md:31-38):
    * each group after the first opens with a zero-length e2store Version
    * record (the sequential walk's zero-payload loop skips it) and every
    * group carries its OWN trailing SlotIndex pair, so only the LAST
    * group's indices sit at the tail — the exact layout the seek's
    * `coversWholeEra` fallback guard exists for: tail-index lookups
    * fast-path, earlier-group slots must walk. */
  def writeGroups(out: OutputStream, groups: Seq[EraGroup]): Unit = {
    require(groups.nonEmpty, "era file needs at least one group")
    groups.foreach { g =>
      require(g.blocks.map(_._1).distinct.size == g.blocks.size,
        "indexed era file: duplicate block slots")
      g.blocks.foreach { case (s, _) =>
        require(s >= g.startSlot && s < g.startSlot + g.slotCount,
          s"slot $s outside index range [${g.startSlot}, ${g.startSlot + g.slotCount})")
      }
    }
    out.write(VersionHeader)
    var pos = 8L
    def emit(recordType: Int, payload: Array[Byte]): Long = {
      val at = pos
      writeRecord(out, recordType, payload)
      pos += 8L + payload.length
      at
    }
    def le64(v: Long): Array[Byte] = {
      val b = new Array[Byte](8)
      var i = 0
      while (i < 8) { b(i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
      b
    }
    groups.zipWithIndex.foreach { case (g, gi) =>
      if (gi > 0) emit(EraFileReader.TypeVersion, Array.emptyByteArray)
      val blockPos: Map[Long, Long] =
        g.blocks.map { case (s, p) => s -> emit(EraFileReader.TypeBlock, p) }.toMap
      val statePos = g.state.map { case (_, p) => emit(EraFileReader.TypeState, p) }
      val bIdxPos = pos
      val bp = new java.io.ByteArrayOutputStream(16 + 8 * g.slotCount)
      bp.write(le64(g.startSlot))
      (0 until g.slotCount).foreach { i =>
        bp.write(le64(blockPos.get(g.startSlot + i).map(_ - bIdxPos).getOrElse(0L)))
      }
      bp.write(le64(g.slotCount.toLong))
      emit(EraFileReader.TypeIndex, bp.toByteArray)
      val sIdxPos = pos
      val sp = new java.io.ByteArrayOutputStream(24)
      sp.write(le64(g.state.map(_._1).getOrElse(g.startSlot + g.slotCount)))
      sp.write(le64(statePos.map(_ - sIdxPos).getOrElse(0L)))
      sp.write(le64(1L))
      emit(EraFileReader.TypeIndex, sp.toByteArray)
    }
  }
}
