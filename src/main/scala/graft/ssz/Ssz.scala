package graft.ssz

/**
 * Minimal SSZ byte-level readers used by the fork decoders.
 *
 * Semantics (including the tolerant out-of-range → 0 behavior and the
 * misalignment-forgiving list walk) mirror the reference decoder
 * (era_parser/parsing/ssz_utils.py:4-121) — the differential fixture tests
 * pin them. All functions are allocation-light and run inside executor
 * tasks; no Spark types here.
 */
object Ssz {

  // single-load LE reads (bounds-guarded): the byte-at-a-time OR chain is
  // 4/8 loads + shifts per field; these JIT to one MOV each
  private val IntLE = java.lang.invoke.MethodHandles.byteArrayViewVarHandle(
    classOf[Array[Int]], java.nio.ByteOrder.LITTLE_ENDIAN)
  private val LongLE = java.lang.invoke.MethodHandles.byteArrayViewVarHandle(
    classOf[Array[Long]], java.nio.ByteOrder.LITTLE_ENDIAN)

  /** LE uint32 at offset; out-of-range → 0 (ssz_utils.py:4-8). */
  def readUint32(data: Array[Byte], offset: Int): Long = {
    if (offset < 0 || offset + 4 > data.length) return 0L
    IntLE.get(data, offset).asInstanceOf[Int] & 0xffffffffL
  }

  /** LE uint64 at offset; out-of-range → 0 (ssz_utils.py:10-14). Values are
    * well below 2^63 in practice (slots, gwei, gas), matching LongType. */
  def readUint64(data: Array[Byte], offset: Int): Long = {
    if (offset < 0 || offset + 8 > data.length) return 0L
    LongLE.get(data, offset).asInstanceOf[Long]
  }

  /** [[readUint64]] whose out-of-range guard is an arbitrary `limit`
    * (≤ data.length) instead of the array end — the range-based item
    * parsers' twin: a read past its own ITEM must yield 0 exactly as it
    * did when each item was a copied slice. */
  def readUint64In(data: Array[Byte], offset: Int, limit: Int): Long = {
    if (offset < 0 || offset + 8 > limit) return 0L
    LongLE.get(data, offset).asInstanceOf[Long]
  }

  /** [[readUint32]] with an explicit limit (range-parser twin). */
  def readUint32In(data: Array[Byte], offset: Int, limit: Int): Long = {
    if (offset < 0 || offset + 4 > limit) return 0L
    IntLE.get(data, offset).asInstanceOf[Int] & 0xffffffffL
  }

  /** uint256 LE → exact decimal string (forks/base.py:435
    * base_fee_per_gas); a read past `limit` (≤ data.length) yields "0". */
  def readUint256DecimalIn(data: Array[Byte], offset: Int, limit: Int, len: Int = 32): String = {
    // Long arithmetic: a near-MaxValue offset would wrap `offset + len`
    // negative and sneak past an Int bounds check
    if (offset < 0 || offset.toLong + len > limit) return "0"
    val be = new Array[Byte](len)
    var i = 0
    while (i < len) { be(i) = data(offset + len - 1 - i); i += 1 }
    new java.math.BigInteger(1, be).toString
  }

  /** Unsigned offset read for indexing into `data` itself: the raw uint32
    * clamped to `data.length`. The reference keeps offsets as unbounded
    * Python ints, where every ≥-length value behaves identically — an
    * empty slice (`data[off:]`) or a failed `off >= len` guard; folding
    * through `.toInt` instead would turn offsets ≥ 2^31 NEGATIVE and
    * route them into the wrong branch (a clamped slice reads the whole
    * buffer from 0). Clamping to length preserves the reference's
    * semantics for every branch the decoders take. */
  def readOffset(data: Array[Byte], at: Int): Int =
    math.min(readUint32(data, at), data.length.toLong).toInt

  def slice(data: Array[Byte], from: Int, until: Int): Array[Byte] = {
    val f = math.max(0, math.min(from, data.length))
    val u = math.max(f, math.min(until, data.length))
    java.util.Arrays.copyOfRange(data, f, u)
  }

  private val HexBytes = "0123456789abcdef".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  def hex(data: Array[Byte]): String = hex(data, 0, data.length)

  /** "0x…" hex of a byte range — the hottest kernel in block decode (every
    * hash/signature/tx renders through here): direct byte-array fill over
    * the range, then one Latin-1 String construction. The byte path beats
    * the char[] one twice over: half the scratch bytes, and the JDK's
    * compact-string constructor takes Latin-1 bytes as-is (the char[]
    * constructor re-scans and re-compresses every char). */
  def hex(data: Array[Byte], from: Int, until: Int): String = {
    val f = math.max(0, math.min(from, data.length))
    val u = math.max(f, math.min(until, data.length))
    val out = new Array[Byte](2 + (u - f) * 2)
    out(0) = '0'
    out(1) = 'x'
    var i = f
    var j = 2
    while (i < u) {
      val b = data(i) & 0xff
      out(j) = HexBytes(b >> 4)
      out(j + 1) = HexBytes(b & 0xf)
      i += 1
      j += 2
    }
    new String(out, java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** Fixed-stride SSZ list over the (from, until) section of `data`:
    * truncate the trailing partial item, parse each (ssz_utils.py:30-51).
    * Items are (from, until) windows into the section's backing array — no
    * per-item copy. `parse` returning null drops the item. */
  def parseFixedListAt[T](data: Array[Byte], from: Int, until: Int,
      itemSize: Int, parse: (Array[Byte], Int, Int) => T): Vector[T] = {
    val len = until - from
    if (len <= 0) return Vector.empty
    val n = len / itemSize
    val out = Vector.newBuilder[T]
    var i = 0
    while (i < n) {
      val item = parse(data, from + i * itemSize, from + (i + 1) * itemSize)
      if (item != null) out += item
      i += 1
    }
    out.result()
  }

  /** Variable-size SSZ list via 4-byte offset table over the (from, until)
    * section of `data`, with the reference's tolerance rules
    * (ssz_utils.py:53-121):
    *  - len<4 or misaligned/short first offset → treat whole section as one item;
    *  - first_offset==0 → single item over the whole section;
    *  - first_offset==len → empty list;
    *  - out-of-range offsets dropped; start>=end sections skipped.
    *
    * Offsets are section-relative, and `parse` receives absolute item
    * bounds — no per-item copy. */
  def parseVariableListAt[T](data: Array[Byte], from: Int, until: Int,
      parse: (Array[Byte], Int, Int) => T): Vector[T] = {
    val len = until - from
    if (len <= 0) return Vector.empty
    def one(f: Int, u: Int): Vector[T] = {
      val item = parse(data, f, u)
      if (item != null) Vector(item) else Vector.empty
    }
    if (len < 4) return one(from, until)
    // offsets stay UNSIGNED (Long) until after the bounds filter: the raw
    // uint32 space reaches 2^32−1, and a premature .toInt folds offsets
    // ≥ 2^31 to negative values — an aligned-but-huge first offset would
    // then take the single-item branch where the reference's unsigned
    // arithmetic falls through to the too-many-offsets empty return, and a
    // negative table entry would pass the ≤length filter and corrupt the
    // PREVIOUS item's end bound (the reference drops it as out of range)
    val firstOffset = readUint32(data, from)
    if (firstOffset == 0L) return one(from, until)
    if (firstOffset == len.toLong) return Vector.empty
    if (firstOffset % 4 != 0 || firstOffset < 4) return one(from, until)
    val numItems = firstOffset / 4
    if (numItems * 4 > len) return Vector.empty
    // section-relative offsets, filtered exactly as before (≤ section len)
    val offsets = new Array[Int](numItems.toInt)
    var m = 0
    var k = 0
    while (k < numItems.toInt) {
      val o = readUint32(data, from + k * 4)
      if (o <= len.toLong) { offsets(m) = o.toInt; m += 1 }
      k += 1
    }
    if (m == 0) return Vector.empty
    val out = Vector.newBuilder[T]
    var i = 0
    while (i < m) {
      val start = offsets(i)
      val end = if (i + 1 < m) offsets(i + 1) else len
      if (start < len && end <= len && start < end) {
        try {
          val item = parse(data, from + start, from + end)
          if (item != null) out += item
        } catch { case _: Exception => () }
      }
      i += 1
    }
    out.result()
  }
}
