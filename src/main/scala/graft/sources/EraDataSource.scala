package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/**
 * DataSource V2 for era archive files: `spark.read.format("era").load(glob)`.
 *
 * Produces the raw-record relation of SURVEY.md §1.1:
 * `slot LONG, record_type STRING, data BINARY, network STRING,
 *  era_number LONG, source_file STRING` — one [[InputPartition]] per era
 * file, so a multi-file `load` of N eras scans with N-way parallelism
 * (SURVEY.md §3.2). The incremental per-era loop
 * ([[graft.export.IncrementalExporter]]) still loads one era, and so scans
 * one partition, at a time.
 *
 * Scale design:
 *  - file-level pruning: predicates on `era_number` / `slot` / `network`
 *    prune whole files before any byte is read (the reference applies its
 *    era-range filter at discovery time — remote_downloader.py:117-121; here
 *    the same pruning falls out of Catalyst filter pushdown);
 *  - the reader streams records (no whole-era materialization);
 *  - filters are also left in the residual so Spark re-applies them row-wise
 *    (pruning is conservative).
 */
class EraDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "era"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EraDataSource.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new EraTable(EraDataSource.resolvePaths(opts))
  }

  // the era record schema is FIXED — accepting a user schema and then
  // ignoring it would be a silent no-op; let Spark reject .schema(...)
  override def supportsExternalMetadata(): Boolean = false
}

object EraDataSource {
  val schema: StructType = StructType(Seq(
    StructField("slot", LongType, nullable = false),
    StructField("record_type", StringType, nullable = false),
    StructField("data", BinaryType, nullable = false),
    StructField("network", StringType, nullable = false),
    StructField("era_number", LongType, nullable = false),
    StructField("source_file", StringType, nullable = false)))

  /** Expand path/paths options through the Hadoop FS glob API
    * (output_manager.py:44-66 batch glob source). */
  def resolvePaths(options: CaseInsensitiveStringMap): Seq[String] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val raw: Seq[String] =
      Option(options.get("paths")).map(parseJsonStringArray).getOrElse(Nil) ++
        Option(options.get("path")).toSeq
    val expanded = raw.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      // a missing/typo'd path must FAIL like Spark's built-in sources do
      // ("Path does not exist"), not silently contribute zero files — a
      // pipeline pointed at a wrong mount would otherwise export an empty
      // warehouse with no diagnostic
      val matches = Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Nil)
      if (matches.isEmpty)
        throw new IllegalArgumentException(s"Path does not exist: $p")
      matches.flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq.filter(s => s.isFile && s.getPath.getName.endsWith(".era"))
            .map(_.getPath.toString)
        else Seq(st.getPath.toString)
      }
    }
    // sort by era number (output_manager.py:57-66)
    expanded.distinct.sortBy(p => EraFileInfo.fromPath(p).eraNumber)
  }

  private val pathsMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The `paths` option is a JSON array of strings — parse it as one
    * (paths may legally contain commas/quotes; a naive split corrupts
    * them into fragments that glob to nothing). */
  private def parseJsonStringArray(json: String): Seq[String] = {
    val node = pathsMapper.readTree(json)
    require(node.isArray, s"paths option is not a JSON array: $json")
    (0 until node.size()).map(i => node.get(i).asText())
  }
}

class EraTable(paths: Seq[String]) extends Table with SupportsRead {
  override def name(): String = s"era(${paths.take(3).mkString(",")}${if (paths.length > 3) ",…" else ""})"
  override def schema(): StructType = EraDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EraScanBuilder(paths)
}

class EraScanBuilder(paths: Seq[String]) extends ScanBuilder with SupportsPushDownFilters {
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(EraFilePruning.isPrunable)
    filters // all filters stay residual; pruning is a conservative speedup
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new EraScan(paths, pushed)
}

/** File-level pruning on filename-derived metadata. */
object EraFilePruning {
  def isPrunable(f: Filter): Boolean = f.references.forall(
    Set("era_number", "slot", "network", "record_type"))

  /** Conservative: keep the file unless a prunable filter proves no row in
    * this file can match — per filter, AND across the top-level array via
    * the COMBINED slot window (r14): each comparison bound alone is
    * satisfiable by the slot-0 state/index rows every file carries (so
    * `slot <= hi` on its own can never prune a higher-era file), but the
    * AND-ed window [lo, hi] prunes any file whose possible slot values
    * {0} ∪ [startSlot, endSlot] miss it entirely — the file-level twin of
    * EraScan's range fast path. */
  def keepFile(info: EraFileInfo, filters: Array[Filter]): Boolean =
    filters.forall(f => mayMatch(info, f)) && slotWindowMayMatch(info, filters)

  private def asLong(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case _ => None
  }

  /** Fold the top-level comparison filters on `slot` into ONE combined
    * window [lo, hi] (top-level filter-array entries are AND-ed, so every
    * bound TIGHTENS the window). None when no comparison bound was pushed.
    * The ONE shared fold behind both file-level pruning
    * ([[slotWindowMayMatch]]) and the scan's range→probe-set construction
    * ([[EraScan]]) — the +1/−1 overflow reasoning lives here once, so the
    * two consumers can never drift (ADVICE r14 #3).
    *
    * Overflow is conservative BY the fold: `GreaterThan(Long.MaxValue)`
    * wraps l+1 to MinValue and `math.max` DROPS the bound (lo stays), so a
    * wrapped lower bound can only widen the window; `LessThan(MinValue)`
    * wraps l−1 to MaxValue and `math.min` drops it symmetrically. A wider
    * window means "keep the file" / "no probe fast path" — never a wrong
    * prune. Contradictory bounds may yield lo > hi: an empty window, which
    * each consumer must handle (prune is still conservative there because
    * the residual filters are what make rows disappear, not the window). */
  private[graft] def slotWindow(filters: Array[Filter]): Option[(Long, Long)] = {
    var lo = Long.MinValue
    var hi = Long.MaxValue
    var sawBound = false
    filters.foreach {
      case sources.GreaterThan("slot", v) =>
        asLong(v).foreach { l => lo = math.max(lo, l + 1); sawBound = true }
      case sources.GreaterThanOrEqual("slot", v) =>
        asLong(v).foreach { l => lo = math.max(lo, l); sawBound = true }
      case sources.LessThan("slot", v) =>
        asLong(v).foreach { l => hi = math.min(hi, l - 1); sawBound = true }
      case sources.LessThanOrEqual("slot", v) =>
        asLong(v).foreach { l => hi = math.min(hi, l); sawBound = true }
      case _ => ()
    }
    if (sawBound) Some((lo, hi)) else None
  }

  private def slotWindowMayMatch(info: EraFileInfo, filters: Array[Filter]): Boolean = {
    // same guard as mayMatch: a guessed era range must never drive slot
    // pruning
    if (!info.eraKnown) return true
    slotWindow(filters) match {
      case None => true
      case Some((lo, hi)) =>
        val zeroIn = lo <= 0L && 0L <= hi
        val rangeIn = lo <= info.endSlot && hi >= info.startSlot
        zeroIn || rangeIn
    }
  }

  private def mayMatch(info: EraFileInfo, f: Filter): Boolean = f match {
    // slot pruning compares PAYLOAD slots against a FILENAME-derived
    // range; when the filename didn't parse the range is a guess, and
    // pruning on a guess silently drops matching rows — fall through to
    // "may match" for every slot predicate on such files. (era_number /
    // network predicates stay prunable: rows inherit those exact values.)
    case _ if !info.eraKnown && f.references.contains("slot") => true
    case sources.EqualTo("era_number", v: Long) => info.eraNumber == v
    case sources.EqualTo("era_number", v: Int) => info.eraNumber == v.toLong
    case sources.GreaterThan("era_number", v: Long) => info.eraNumber > v
    case sources.GreaterThanOrEqual("era_number", v: Long) => info.eraNumber >= v
    case sources.LessThan("era_number", v: Long) => info.eraNumber < v
    case sources.LessThanOrEqual("era_number", v: Long) => info.eraNumber <= v
    case sources.In("era_number", vs) => vs.exists {
      case v: Long => info.eraNumber == v
      case v: Int => info.eraNumber == v.toLong
      case _ => true
    }
    case sources.EqualTo("network", v: String) => info.network == v
    // slot ranges: a block-slot filter can only prune a file if the whole
    // era range fails it (state/index records carry slot 0 — only prune on
    // slot when 0 also fails, i.e. never for files whose range excludes 0;
    // conservative: only prune when filter excludes [0] ∪ [start,end])
    case sources.EqualTo("slot", v: Long) =>
      v == 0L || (v >= info.startSlot && v <= info.endSlot)
    case sources.In("slot", vs) => vs.exists {
      case v: Long => v == 0L || (v >= info.startSlot && v <= info.endSlot)
      case v: Int =>
        val l = v.toLong; l == 0L || (l >= info.startSlot && l <= info.endSlot)
      case _ => true
    }
    case sources.GreaterThan("slot", v: Long) => info.endSlot > v || 0L > v
    case sources.GreaterThanOrEqual("slot", v: Long) => info.endSlot >= v || 0L >= v
    case sources.LessThan("slot", v: Long) => info.startSlot < v || 0L < v
    case sources.LessThanOrEqual("slot", v: Long) => info.startSlot <= v || 0L <= v
    case sources.And(l, r) => mayMatch(info, l) && mayMatch(info, r)
    case sources.Or(l, r) => mayMatch(info, l) || mayMatch(info, r)
    case _ => true
  }
}

class EraScan(paths: Seq[String], filters: Array[Filter]) extends Scan with Batch {
  override def readSchema(): StructType = EraDataSource.schema
  override def description(): String = s"EraScan(${paths.length} files)"
  override def toBatch: Batch = this

  /** A pushed top-level `slot = N`, `slot IN (…)` (no 0), or a NARROW
    * slot range (conjunction of >/>=/</<= spanning ≤ 4096 slots, not
    * touching 0) turns each surviving file's read into SlotIndex seeks
    * instead of a record walk. Top-level filter-array entries are AND-ed,
    * so the constraint is hard; 0 is excluded because state/index records
    * carry slot 0 and would also pass the residual. Safe because the
    * fast path emits a SUBSET of the full walk's rows (index holes are
    * simply absent blocks; every omitted row fails the slot residual
    * Spark re-applies anyway). The probe count is capped: past a few
    * thousand probes per file the sequential walk is the better plan. */
  private val slotSet: Option[Seq[Long]] = {
    val pointSet: Option[Seq[Long]] = filters.collectFirst {
      case sources.EqualTo("slot", v: Long) => Seq(v)
      case sources.EqualTo("slot", v: Int) => Seq(v.toLong)
      case sources.In("slot", vs) if vs.nonEmpty &&
          vs.forall(v => v.isInstanceOf[Long] || v.isInstanceOf[Int]) =>
        vs.toSeq.map { case v: Long => v; case v: Int => v.toLong }
    }
    // a bounded range from the AND-ed comparison filters — the same shared
    // fold file-level pruning uses (EraFilePruning.slotWindow), so the
    // probe-set window and the prune window can never drift. The lo ≥ 1
    // guard both excludes slot 0 AND absorbs the fold's conservative
    // overflow behavior (a wrapped bound leaves lo at MinValue → no fast
    // path, walk).
    val rangeSet: Option[Seq[Long]] =
      EraFilePruning.slotWindow(filters).collect {
        case (lo, hi) if lo >= 1 && hi >= lo && hi - lo < 4096 =>
          (lo to hi).toSeq
      }
    pointSet.orElse(rangeSet)
      .filter(s => !s.contains(0L) && s.size <= 4096)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val kept = paths.filter(p => EraFilePruning.keepFile(EraFileInfo.fromPath(p), filters))
    kept.map(p => EraInputPartition(p): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // ship the COMPLETE hadoop conf (Spark's own file sources broadcast a
    // SerializableConfiguration the same way): a prefix-filtered subset
    // dropped driver-set dfs.* nameservice mappings and cloud-auth keys,
    // so executors couldn't open files the driver could
    val spark = SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    val bc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(conf))
    new EraPartitionReaderFactory(bc, slotSet)
  }
}

case class EraInputPartition(path: String) extends InputPartition

class EraPartitionReaderFactory(
    conf: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration],
    slotSet: Option[Seq[Long]] = None)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[EraInputPartition]
    new EraPartitionReader(p.path, conf.value.value, slotSet)
  }
}

class EraPartitionReader(pathStr: String, conf: Configuration,
    slotSet: Option[Seq[Long]] = None)
    extends PartitionReader[InternalRow] {

  private val path = new Path(pathStr)
  private val fs = path.getFileSystem(conf)
  private val stream = fs.open(path)
  private val records = EraFileReader.read(stream, fs.getFileStatus(path).getLen,
    EraFileInfo.fromPath(pathStr), slotSet)
  private var current: graft.model.EraRecord = _

  override def next(): Boolean = {
    if (records.hasNext) { current = records.next(); true }
    else false
  }

  override def get(): InternalRow =
    InternalRow(
      current.slot,
      UTF8String.fromString(current.record_type),
      current.data,
      UTF8String.fromString(current.network),
      current.era_number,
      UTF8String.fromString(current.source_file))

  override def close(): Unit = stream.close()
}
