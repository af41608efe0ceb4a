package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native codegen kernels for the dedup signature operators. Semantically
 * identical to the SQL higher-order-function formulations (and to the
 * DuckDB oracle SQL) — `hash64(s)` is the first 15 hex chars of md5(s)
 * read base-16 — but evaluated as tight JVM loops with a reused
 * MessageDigest instead of per-element interpreted lambdas. On the sf0.1
 * corpus this turns the SimHash/MinHash stages from the benchmark's top
 * hotspot into noise (the HOF `aggregate`/`transform` path allocates
 * boxed rows per lambda call; these do zero allocation per element).
 */
object Signatures {

  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** First 60 bits of md5 as a non-negative long — equals
    * `conv(substring(md5(s),1,15),16,10)` / DuckDB
    * `('0x'||substr(md5(s),1,15))::BIGINT`. */
  def hash64(bytes: Array[Byte]): Long = {
    val d = md5.get()
    d.reset()
    val h = d.digest(bytes)
    // first 15 hex chars = top 60 bits of the first 8 bytes
    (((h(0) & 0xffL) << 56) | ((h(1) & 0xffL) << 48) | ((h(2) & 0xffL) << 40) |
      ((h(3) & 0xffL) << 32) | ((h(4) & 0xffL) << 24) | ((h(5) & 0xffL) << 16) |
      ((h(6) & 0xffL) << 8) | (h(7) & 0xffL)) >>> 4
  }

  def hash64(s: UTF8String): Long = hash64(s.getBytes)

  def hash64String(s: String): Long = hash64(s.getBytes("UTF-8"))

  val SimhashBits = 48

  /** 48-bit SimHash of a token array (with multiplicity). */
  def simhash48(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](SimhashBits)
    var i = 0
    while (i < n) {
      val h = hash64(arr.getUTF8String(i))
      var b = 0
      while (b < SimhashBits) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < SimhashBits) {
      if (counts(b) > 0) out |= 1L << b
      b += 1
    }
    out
  }

  def simhash48Seq(tokens: scala.collection.Seq[String]): Long = {
    val counts = new Array[Int](SimhashBits)
    tokens.foreach { t =>
      val h = hash64String(t)
      var b = 0
      while (b < SimhashBits) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < SimhashBits) { if (counts(b) > 0) out |= 1L << b; b += 1 }
    out
  }

  val MinhashK = 12

  /** k MinHash components over a shingle set: component i is the min over
    * shingles s of hash64(s + "#" + i). */
  def minhashSig(arr: ArrayData): ArrayData = {
    val mins = minhashSigRaw(
      (0 until arr.numElements()).iterator.map(i => arr.getUTF8String(i).getBytes))
    new GenericArrayData(mins)
  }

  def minhashSigSeq(shingles: scala.collection.Seq[String]): Seq[Long] =
    minhashSigRaw(shingles.iterator.map(_.getBytes("UTF-8"))).toSeq

  private def minhashSigRaw(shingles: Iterator[Array[Byte]]): Array[Long] = {
    val mins = Array.fill(MinhashK)(Long.MaxValue)
    val suffixes = Array.tabulate(MinhashK)(i => s"#$i".getBytes("UTF-8"))
    shingles.foreach { s =>
      var i = 0
      while (i < MinhashK) {
        val buf = new Array[Byte](s.length + suffixes(i).length)
        System.arraycopy(s, 0, buf, 0, s.length)
        System.arraycopy(suffixes(i), 0, buf, s.length, suffixes(i).length)
        val h = hash64(buf)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
    }
    // empty shingle set → null-free sentinel of MaxValue mirrors SQL
    // list_min over empty (callers filter size >= 3 anyway)
    mins
  }

  /** Ordered left-fold dot product (init 0.0, element order) — identical
    * IEEE-754 result to the SQL `aggregate(zip_with(...))` fold. */
  def vecDot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  def vecDotSeq(a: Seq[Double], b: Seq[Double]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Count of common elements of two sorted distinct long arrays. */
  def sortedOverlap(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Same char class as java.util.regex \s — the tokenizer the SQL
    * formulation (`split(text, '\\s+')`) uses. */
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Distinct word n-grams of a whitespace-tokenized string, first-occurrence
    * order — equals
    * `array_distinct(transform(sequence(0, size(toks)-n), i -> concat_ws(' ', toks[i..i+n-1])))`
    * over `toks = split(text, '\s+')` for TRIMMED input (callers trim),
    * but tokenizes ONCE. The SQL form re-evaluates the regex split per
    * element once CollapseProject inlines the token column (measured ~25×
    * slowdown on the ngram pipeline). */
  def wordShingles(s: UTF8String, n: Int): ArrayData = {
    val str = s.toString
    // manual \s+ split (no empty tokens for trimmed input)
    val toks = new scala.collection.mutable.ArrayBuffer[String](64)
    var i = 0
    val len = str.length
    var start = -1
    while (i <= len) {
      val ws = i == len || isWs(str.charAt(i))
      if (!ws && start < 0) start = i
      if (ws && start >= 0) {
        toks += str.substring(start, i)
        start = -1
      }
      i += 1
    }
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var j = 0
    while (j <= toks.length - n) {
      val sb = new java.lang.StringBuilder()
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks(j + k))
        k += 1
      }
      seen.add(UTF8String.fromString(sb.toString))
      j += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var m = 0
    while (it.hasNext) { out(m) = it.next(); m += 1 }
    new GenericArrayData(out)
  }

  def wordShinglesSeq(s: String, n: Int): Seq[String] = {
    val a = wordShingles(UTF8String.fromString(s), n)
    (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
  }

  /** POSITIONAL word n-grams (every occurrence, document order) — the
    * multiplicity-preserving sibling of [[wordShingles]] for passage-level
    * repetition counting, where the same 8-gram appearing three times in a
    * document is three occurrences, not one shingle. Same single-pass
    * tokenizer; equals
    * `transform(sequence(1, size(toks)-n+1), i -> concat_ws(' ', slice(toks, i, n)))`
    * over `toks = split(trim(text), '\s+')` without the per-element re-split. */
  def wordNgrams(s: UTF8String, n: Int): ArrayData = {
    val str = s.toString
    val toks = new scala.collection.mutable.ArrayBuffer[String](64)
    var i = 0
    val len = str.length
    var start = -1
    while (i <= len) {
      val ws = i == len || isWs(str.charAt(i))
      if (!ws && start < 0) start = i
      if (ws && start >= 0) {
        toks += str.substring(start, i)
        start = -1
      }
      i += 1
    }
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - n + 1)
    var j = 0
    while (j <= toks.length - n) {
      val sb = new java.lang.StringBuilder()
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks(j + k))
        k += 1
      }
      out(j) = UTF8String.fromString(sb.toString)
      j += 1
    }
    new GenericArrayData(out)
  }

  /** DISTINCT sliding-window minima (winnowing selection): for each of the
    * n−w+1 windows of `hs`, its minimum, deduplicated in first-occurrence
    * order. Monotonic-deque algorithm — O(n) total, no per-window slice
    * allocation (the `array_min(slice(...))` SQL form is O(n·w) plus an
    * allocation per position). Returns empty for n < w. */
  def winnowMin(hs: ArrayData, w: Int): ArrayData = {
    val n = hs.numElements()
    if (w <= 0 || n < w) return new GenericArrayData(Array.empty[Any])
    val deque = new java.util.ArrayDeque[Int]() // indices, values increasing
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i < n) {
      val v = hs.getLong(i)
      while (!deque.isEmpty && hs.getLong(deque.peekLast()) >= v) deque.pollLast()
      deque.addLast(i)
      if (deque.peekFirst() <= i - w) deque.pollFirst()
      if (i >= w - 1) seen.add(hs.getLong(deque.peekFirst()))
      i += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var m = 0
    while (it.hasNext) { out(m) = it.next().longValue(); m += 1 }
    new GenericArrayData(out)
  }

  def winnowMinSeq(hs: Seq[Long], w: Int): Seq[Long] = {
    val a = winnowMin(new GenericArrayData(hs.toArray[Any]), w)
    (0 until a.numElements()).map(a.getLong)
  }

  // ── null-element-guarded twins (r14) ──────────────────────────────────
  // The fast kernels above are only DEFINED on arrays without null
  // elements: Unsafe getters on a null slot silently read 0/garbage
  // (a plausible-looking wrong dot product) and string getters NPE. When
  // the child schema says containsNull, the expressions below route
  // through these OrNull twins instead: ANY null element → NULL result —
  // for simhash48/minhash_sig/vec_dot that is exactly what the SQL
  // higher-order-function twin computes (a null lambda result nulls the
  // fold); for sorted_overlap/winnow_min it is the documented strict
  // contract (deterministic and visible, never garbage). The null scan is
  // a bit-test per element — noise next to md5/float work.

  private def anyNull(arr: ArrayData): Boolean = {
    val n = arr.numElements()
    var i = 0
    while (i < n) { if (arr.isNullAt(i)) return true; i += 1 }
    false
  }

  def simhash48OrNull(arr: ArrayData): java.lang.Long =
    if (anyNull(arr)) null else java.lang.Long.valueOf(simhash48(arr))

  def minhashSigOrNull(arr: ArrayData): ArrayData =
    if (anyNull(arr)) null else minhashSig(arr)

  def sortedOverlapOrNull(a: ArrayData, b: ArrayData): java.lang.Long =
    if (anyNull(a) || anyNull(b)) null
    else java.lang.Long.valueOf(sortedOverlap(a, b))

  /** Null on length mismatch OR any null element (the zip_with twin pads
    * the short side with nulls, so both cases null the SQL fold). */
  def vecDotOrNull(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  def winnowMinOrNull(hs: ArrayData, w: Int): ArrayData =
    if (anyNull(hs)) null else winnowMin(hs, w)

  /** Per-element [[hash64]] of a string array, order and multiplicity
    * preserved — equals `transform(arr, s -> hash64(s))` without the
    * per-element interpreted-lambda projection. */
  def hash64Array(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) { out(i) = hash64(arr.getUTF8String(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** Distinct [[hash64]]s in first-occurrence order — equals
    * `array_distinct(transform(arr, s -> hash64(s)))`. */
  def hash64Set(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i < n) { seen.add(hash64(arr.getUTF8String(i))); i += 1 }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var m = 0
    while (it.hasNext) { out(m) = it.next().longValue(); m += 1 }
    new GenericArrayData(out)
  }

  /** Ascending distinct [[hash64]]s — equals
    * `array_sort(array_distinct(transform(arr, s -> hash64(s))))`, the
    * shingle-set representation every sorted_overlap pair kernel consumes.
    * One native pass (hash → dedupe → primitive sort) instead of three
    * array expressions, the first of them an interpreted lambda. */
  def sortedHashSet(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) { hs(i) = hash64(arr.getUTF8String(i)); i += 1 }
    java.util.Arrays.sort(hs)
    var m = 0
    var j = 0
    while (j < n) {
      if (j == 0 || hs(j) != hs(j - 1)) { hs(m) = hs(j); m += 1 }
      j += 1
    }
    val out = new Array[Any](m)
    var k = 0
    while (k < m) { out(k) = hs(k); k += 1 }
    new GenericArrayData(out)
  }

  def hash64ArrayOrNull(arr: ArrayData): ArrayData =
    if (anyNull(arr)) null else hash64Array(arr)

  def hash64SetOrNull(arr: ArrayData): ArrayData =
    if (anyNull(arr)) null else hash64Set(arr)

  def sortedHashSetOrNull(arr: ArrayData): ArrayData =
    if (anyNull(arr)) null else sortedHashSet(arr)

  /** The \s byte class of [[isWs]] — safe on UTF-8 bytes directly (all six
    * whitespace chars are ASCII, and ASCII byte values never occur inside
    * a multi-byte UTF-8 sequence). */
  private def isWsByte(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  /** Span-excision kernel (the ExactSubstr rewrite pass): tokenize `text`
    * exactly as `filter(split(text, '\s+'), t -> t <> '')`, drop every
    * token whose 1-based position lies inside any [s, e] span, and return
    * struct(n_words, kept_words, cleaned) where `cleaned` is the kept
    * tokens joined by single spaces — byte-for-byte what
    * `array_join(transform(kept, x -> x.t), ' ')` produced. One native
    * pass over the UTF-8 bytes replaces the interpreted
    * filter∘transform∘exists lambda tower (each a CodegenFallback
    * higher-order function paying a MutableProjection call per element).
    * `spans` may be null (the cut-list left join misses clean docs) →
    * every token kept. A null SPAN ELEMENT (or null s/e field) mirrors the
    * SQL three-valued `NOT exists(...)`: a token covered by no non-null
    * span but facing a null one evaluates NOT(null) = null → dropped. */
  def exciseStats(text: UTF8String, spans: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = text.getBytes
    val len = bytes.length
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var n = 0
    var i = 0
    var st = -1
    while (i <= len) {
      val ws = i == len || isWsByte(bytes(i))
      if (!ws && st < 0) st = i
      if (ws && st >= 0) {
        if (n == starts.length) {
          starts = java.util.Arrays.copyOf(starts, n * 2)
          ends = java.util.Arrays.copyOf(ends, n * 2)
        }
        starts(n) = st
        ends(n) = i
        n += 1
        st = -1
      }
      i += 1
    }
    val nSpans = if (spans == null) 0 else spans.numElements()
    val sArr = new Array[Long](nSpans)
    val eArr = new Array[Long](nSpans)
    var anyNullSpan = false
    var k = 0
    while (k < nSpans) {
      if (spans.isNullAt(k)) { anyNullSpan = true; sArr(k) = Long.MaxValue; eArr(k) = Long.MinValue }
      else {
        val r = spans.getStruct(k, 2)
        if (r.isNullAt(0) || r.isNullAt(1)) { anyNullSpan = true; sArr(k) = Long.MaxValue; eArr(k) = Long.MinValue }
        else { sArr(k) = r.getLong(0); eArr(k) = r.getLong(1) }
      }
      k += 1
    }
    val keep = new Array[Boolean](n)
    var kept = 0
    var outLen = 0
    var t = 0
    while (t < n) {
      val p = t + 1L
      var covered = false
      var k2 = 0
      while (!covered && k2 < nSpans) {
        if (p >= sArr(k2) && p <= eArr(k2)) covered = true
        k2 += 1
      }
      if (!covered && !anyNullSpan) {
        keep(t) = true
        if (kept > 0) outLen += 1
        outLen += ends(t) - starts(t)
        kept += 1
      }
      t += 1
    }
    val out = new Array[Byte](outLen)
    var o = 0
    t = 0
    while (t < n) {
      if (keep(t)) {
        if (o > 0) { out(o) = ' '; o += 1 }
        val l = ends(t) - starts(t)
        System.arraycopy(bytes, starts(t), out, o, l)
        o += l
      }
      t += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n.toLong, kept.toLong, UTF8String.fromBytes(out)))
  }
}

/** Shared dispatch for the array-kernel expressions: when the child
  * schema admits null ELEMENTS, route through the OrNull twin (any null
  * element → NULL result — the SQL-twin/strict semantics documented on
  * [[Signatures]]); when it provably cannot, keep the zero-branch fast
  * kernel. The schema usually says containsNull=true even for arrays that
  * never hold nulls (split/transform declare it), so the guarded path is
  * the common one — its cost is one bit-test per element. */
private[functions] trait ArrayElemNullDispatch { self: Expression =>
  protected def arrayElemNullable(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }
}

/** `simhash48(array<string>) -> bigint` — native, codegen'd; arrays with
  * a null element yield NULL (= the SQL aggregate-twin's fold). */
case class SimHash48Expr(child: Expression) extends UnaryExpression
    with ArrayElemNullDispatch {
  override def dataType: DataType = LongType
  private def guarded: Boolean = arrayElemNullable(child)
  override def nullable: Boolean = child.nullable || guarded
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash48 requires ARRAY<STRING>, got ${other.catalogString}")
  }
  override def nullSafeEval(input: Any): Any =
    if (guarded) Signatures.simhash48OrNull(input.asInstanceOf[ArrayData])
    else Signatures.simhash48(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!guarded)
      defineCodeGen(ctx, ev, c => s"graft.functions.Signatures.simhash48($c)")
    else nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("shRes")
      s"""java.lang.Long $r = graft.functions.Signatures.simhash48OrNull($c);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.longValue(); }""".stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): SimHash48Expr =
    copy(child = newChild)
  override def prettyName: String = "simhash48"
}

/** `minhash_sig(array<string>) -> array<bigint>` — native, codegen'd;
  * arrays with a null element yield NULL (= the SQL transform-twin). */
case class MinHashSigExpr(child: Expression) extends UnaryExpression
    with ArrayElemNullDispatch {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  private def guarded: Boolean = arrayElemNullable(child)
  override def nullable: Boolean = child.nullable || guarded
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires ARRAY<STRING>, got ${other.catalogString}")
  }
  override def nullSafeEval(input: Any): Any =
    if (guarded) Signatures.minhashSigOrNull(input.asInstanceOf[ArrayData])
    else Signatures.minhashSig(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!guarded)
      defineCodeGen(ctx, ev, c => s"graft.functions.Signatures.minhashSig($c)")
    else nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("mhRes")
      s"""org.apache.spark.sql.catalyst.util.ArrayData $r =
         |  graft.functions.Signatures.minhashSigOrNull($c);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r; }""".stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
  override def prettyName: String = "minhash_sig"
}

/** `sorted_overlap(array<bigint>, array<bigint>) -> bigint` — count of
  * common elements of two sorted distinct arrays (two-pointer merge, zero
  * allocation). The Jaccard kernel for hashed shingle sets: per-pair cost
  * drops from string-set hashing to a linear long comparison. */
case class SortedOverlapExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ArrayElemNullDispatch {
  override def dataType: DataType = LongType
  private def guarded: Boolean =
    arrayElemNullable(left) || arrayElemNullable(right)
  override def nullable: Boolean = left.nullable || right.nullable || guarded
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sorted_overlap requires ARRAY<BIGINT> args, got ${l.catalogString}, ${r.catalogString}")
    }
  override def nullSafeEval(a: Any, b: Any): Any =
    if (guarded) Signatures.sortedOverlapOrNull(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else Signatures.sortedOverlap(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!guarded)
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Signatures.sortedOverlap($a, $b)")
    else nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("soRes")
      s"""java.lang.Long $r = graft.functions.Signatures.sortedOverlapOrNull($a, $b);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.longValue(); }""".stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedOverlapExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "sorted_overlap"
}

/** `vec_dot(array<double>, array<double>) -> double` — ordered left-fold
  * dot product, bit-identical to
  * `aggregate(zip_with(a, b, (p,q) -> p*q), 0.0d, (acc,v) -> acc+v)` (and
  * to the DuckDB oracle's list_reduce fold) but a tight loop instead of
  * two interpreted lambdas per pair. Bit-identical INCLUDING the
  * malformed cases: length-mismatched arrays AND arrays with a null
  * element return NULL (zip_with pads with nulls / a null product nulls
  * the fold) — never a silently-truncated or garbage partial dot that
  * would flow into rankings looking plausible. */
case class VecDotExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ArrayElemNullDispatch {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_dot requires ARRAY<DOUBLE> args, got ${l.catalogString}, ${r.catalogString}")
    }
  private def guarded: Boolean =
    arrayElemNullable(left) || arrayElemNullable(right)
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (guarded) Signatures.vecDotOrNull(x, y)
    else if (x.numElements() != y.numElements()) null
    else Signatures.vecDot(x, y)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!guarded)
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"""if ($a.numElements() != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = graft.functions.Signatures.vecDot($a, $b);
           |}""".stripMargin)
    else nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("vdRes")
      s"""java.lang.Double $r = graft.functions.Signatures.vecDotOrNull($a, $b);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.doubleValue(); }""".stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDotExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "vec_dot"
}

/** `word_shingles(string, n) -> array<string>` — distinct word n-grams,
  * single-pass tokenization (see [[Signatures.wordShingles]]). */
case class WordShinglesExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"word_shingles requires (STRING, INT), got ${l.catalogString}, ${r.catalogString}")
    }
  override def nullSafeEval(s: Any, n: Any): Any =
    Signatures.wordShingles(s.asInstanceOf[UTF8String], n.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, n) => s"graft.functions.Signatures.wordShingles($s, $n)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordShinglesExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "word_shingles"
}

/** `word_ngrams(string, n) -> array<string>` — positional word n-grams
  * (every occurrence, document order; see [[Signatures.wordNgrams]]). */
case class WordNgramsExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"word_ngrams requires (STRING, INT), got ${l.catalogString}, ${r.catalogString}")
    }
  override def nullSafeEval(s: Any, n: Any): Any =
    Signatures.wordNgrams(s.asInstanceOf[UTF8String], n.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, n) => s"graft.functions.Signatures.wordNgrams($s, $n)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordNgramsExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "word_ngrams"
}

/** `winnow_min(array<bigint>, w) -> array<bigint>` — distinct sliding-window
  * minima (winnowing fingerprint selection; see [[Signatures.winnowMin]]). */
case class WinnowMinExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ArrayElemNullDispatch {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  private def guarded: Boolean = arrayElemNullable(left)
  override def nullable: Boolean = left.nullable || right.nullable || guarded
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"winnow_min requires (ARRAY<BIGINT>, INT), got ${l.catalogString}, ${r.catalogString}")
    }
  override def nullSafeEval(hs: Any, w: Any): Any =
    if (guarded) Signatures.winnowMinOrNull(
      hs.asInstanceOf[ArrayData], w.asInstanceOf[Int])
    else Signatures.winnowMin(hs.asInstanceOf[ArrayData], w.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!guarded)
      defineCodeGen(ctx, ev, (hs, w) => s"graft.functions.Signatures.winnowMin($hs, $w)")
    else nullSafeCodeGen(ctx, ev, (hs, w) => {
      val r = ctx.freshName("wmRes")
      s"""org.apache.spark.sql.catalyst.util.ArrayData $r =
         |  graft.functions.Signatures.winnowMinOrNull($hs, $w);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r; }""".stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WinnowMinExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "winnow_min"
}

/** `hash64(string) -> bigint` — the portable md5-based mixer. */
case class Hash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hash64 requires STRING, got ${other.catalogString}")
  }
  override def nullSafeEval(input: Any): Any =
    Signatures.hash64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Signatures.hash64($c)")
  override protected def withNewChildInternal(newChild: Expression): Hash64Expr =
    copy(child = newChild)
  override def prettyName: String = "hash64"
}

/** `excise_stats(text, spans) -> struct<n_words, kept_words, cleaned>` —
  * the span-excision rewrite kernel (see [[Signatures.exciseStats]]).
  * Custom null contract: NULL text → NULL result (every derived column
  * nulls, exactly as the SQL chain over a null text); NULL spans (the
  * cut-list left-join miss) → all tokens kept — so the caller needs no
  * coalesce-to-empty-array scaffolding. */
case class ExciseStatsExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("kept_words", LongType, nullable = false),
    StructField("cleaned", StringType, nullable = false)))
  override def nullable: Boolean = left.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(StructType(fields), _))
          if fields.length == 2 && fields.forall(_.dataType == LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "excise_stats requires (STRING, ARRAY<STRUCT<BIGINT, BIGINT>>), got " +
          s"${l.catalogString}, ${r.catalogString}")
    }
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val t = left.eval(input)
    if (t == null) null
    else {
      val s = right.eval(input)
      Signatures.exciseStats(t.asInstanceOf[UTF8String],
        if (s == null) null else s.asInstanceOf[ArrayData])
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val tEv = left.genCode(ctx)
    val sEv = right.genCode(ctx)
    ev.copy(code = code"""
      ${tEv.code}
      boolean ${ev.isNull} = ${tEv.isNull};
      org.apache.spark.sql.catalyst.InternalRow ${ev.value} = null;
      if (!${ev.isNull}) {
        ${sEv.code}
        ${ev.value} = graft.functions.Signatures.exciseStats(${tEv.value},
          (${sEv.isNull} ? null : ${sEv.value}));
      }""")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ExciseStatsExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "excise_stats"
}

/** Shared shape of the three hash64-array kernels (`hash64_array`,
  * `hash64_set`, `sorted_hash_set`): `array<string> -> array<bigint>`,
  * null-element-guarded like every array kernel (any null element → NULL —
  * the strict contract documented on [[Signatures]]). */
abstract class Hash64ArrayLikeExpr extends UnaryExpression
    with ArrayElemNullDispatch {
  protected def fast(a: ArrayData): ArrayData
  protected def guardedEval(a: ArrayData): ArrayData
  protected def fastName: String
  protected def guardedName: String
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  private def guarded: Boolean = arrayElemNullable(child)
  override def nullable: Boolean = child.nullable || guarded
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING>, got ${other.catalogString}")
  }
  override def nullSafeEval(input: Any): Any =
    if (guarded) guardedEval(input.asInstanceOf[ArrayData])
    else fast(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!guarded)
      defineCodeGen(ctx, ev, c => s"graft.functions.Signatures.$fastName($c)")
    else nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("haRes")
      s"""org.apache.spark.sql.catalyst.util.ArrayData $r =
         |  graft.functions.Signatures.$guardedName($c);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r; }""".stripMargin
    })
}

/** `hash64_array(array<string>) -> array<bigint>` — per-element hash64,
  * order/multiplicity preserved (= `transform(a, s -> hash64(s))`). */
case class Hash64ArrayExpr(child: Expression) extends Hash64ArrayLikeExpr {
  protected def fast(a: ArrayData): ArrayData = Signatures.hash64Array(a)
  protected def guardedEval(a: ArrayData): ArrayData = Signatures.hash64ArrayOrNull(a)
  protected def fastName = "hash64Array"
  protected def guardedName = "hash64ArrayOrNull"
  override protected def withNewChildInternal(newChild: Expression): Hash64ArrayExpr =
    copy(child = newChild)
  override def prettyName: String = "hash64_array"
}

/** `hash64_set(array<string>) -> array<bigint>` — distinct hash64s,
  * first-occurrence order (= `array_distinct(transform(a, hash64))`). */
case class Hash64SetExpr(child: Expression) extends Hash64ArrayLikeExpr {
  protected def fast(a: ArrayData): ArrayData = Signatures.hash64Set(a)
  protected def guardedEval(a: ArrayData): ArrayData = Signatures.hash64SetOrNull(a)
  protected def fastName = "hash64Set"
  protected def guardedName = "hash64SetOrNull"
  override protected def withNewChildInternal(newChild: Expression): Hash64SetExpr =
    copy(child = newChild)
  override def prettyName: String = "hash64_set"
}

/** `sorted_hash_set(array<string>) -> array<bigint>` — ascending distinct
  * hash64s (= `array_sort(array_distinct(transform(a, hash64)))`). */
case class SortedHashSetExpr(child: Expression) extends Hash64ArrayLikeExpr {
  protected def fast(a: ArrayData): ArrayData = Signatures.sortedHashSet(a)
  protected def guardedEval(a: ArrayData): ArrayData = Signatures.sortedHashSetOrNull(a)
  protected def fastName = "sortedHashSet"
  protected def guardedName = "sortedHashSetOrNull"
  override protected def withNewChildInternal(newChild: Expression): SortedHashSetExpr =
    copy(child = newChild)
  override def prettyName: String = "sorted_hash_set"
}
