package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.export.{BeaconJson, EraStateManager, IncrementalExporter}
import graft.operators.Normalizer
import graft.queries.EraViews

/** Input sizes of the workloads (see perfbench/NOTES.md). */
object Sizes {
  /** cli-extract: 12 era files (3 per core on 4 cores) over all six forks,
    * `cliSpan` slots filled from each era's first slot. */
  val cliFiles: Map[String, Int] = Map("phase0" -> 1, "altair" -> 3, "bellatrix" -> 2,
    "capella" -> 2, "deneb" -> 2, "electra" -> 2)
  val cliSpan = 400
  /** analyst-session: the era its set-up lands in the warehouse (electra
    * blocks carry every section, so all 15 tables have rows), and the
    * completed eras already in the state log. */
  val anFiles: Map[String, Int] = Map("electra" -> 1)
  val anSpan = 512
  val anPreseeded = 12
  /** cli-extract's set-up archive: one era of this many slots. */
  val warmSpan = 64
  val holeRate = 0.05
}

/** Helpers shared by the workloads. */
abstract class BaseWorkload(b: Bench) extends Workload {
  protected lazy val gen = new ArchiveGen(b.seed)
  def generator: ArchiveGen = gen
  protected def spark = b.spark
  protected def sc = b.spark.sparkContext
  protected def span[T](name: String)(f: => T): T = b.tracer.span(sc, name)(f)
  protected def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  protected val network: String = Domain.network

  /** Run `f` with the program's stdout captured; returns what it printed. */
  protected def captured(f: => Unit): String = {
    val buf = new ByteArrayOutputStream()
    val ps = new PrintStream(buf, true, "UTF-8")
    Console.withOut(ps)(f)
    ps.flush()
    buf.toString("UTF-8")
  }

  /** Row counts of the warehouse's 16 tables (the 15 plus wide_blocks). */
  protected def checkWarehouse(wh: String, a: Archive, kind: String): Unit = {
    val want = a.rowsPerTable()
    (Domain.tables :+ "wide_blocks").foreach { t =>
      val expect = if (t == "wide_blocks") a.blocks else want(t)
      b.ops.attempt(s"$kind.$t") {
        val got = spark.read.parquet(s"$wh/$network/$t").count()
        b.ops.check(s"$kind.$t", got == expect, s"rows $got, manifest $expect")
      }
    }
  }
}

/**
 * cli-extract — batch backfill through the exact user verb:
 * `graft.Cli.main(<archive>, all-blocks, <out>, --separate)` over 12
 * spec-shaped era files covering all six forks.
 */
final class CliExtract(b: Bench) extends BaseWorkload(b) {
  var archive: Archive = _
  private var warm: Archive = _
  private val calls = mutable.ArrayBuffer[Double]()
  private var lastOut: String = _
  private var lastPrinted = ""
  private var filesWritten = 0L

  def warehouse: Option[String] = None

  def prepare(): Unit = {
    archive = gen.archive(s"${b.work}/archive", Sizes.cliFiles, Sizes.cliSpan, Sizes.holeRate)
    warm = gen.archive(s"${b.work}/warm-archive", Map("electra" -> 1), Sizes.warmSpan, Sizes.holeRate)
  }

  private def extract(dir: String, out: String): String =
    captured(graft.Cli.main(Array(dir, "all-blocks", out, "--separate")))

  def inputs(): Unit = ()

  /** Session start is followed by one small single-table CLI extract. */
  def setup(rep: Int): Unit = {
    val out = s"${b.work}/setup-$rep"
    captured(graft.Cli.main(Array(warm.dir, "blocks", s"$out/blocks.parquet")))
    Files.delete(out)
  }

  /** One untimed extract of the real archive. The first full-size call
    * still runs 10–25 % slower than the next ones (code generation for the
    * 15 table writes, JIT), so it is not timed. */
  def warmup(): Unit = {
    extract(archive.dir, s"${b.work}/warm-out/out.parquet")
    Files.delete(s"${b.work}/warm-out")
  }

  def iteration(k: Int): Unit = {
    if (lastOut != null) Files.delete(new java.io.File(lastOut).getParent)
    val out = s"${b.work}/cli-out-$k/out.parquet"
    val t0 = System.nanoTime()
    val printed = span("export.cli_extract")(extract(archive.dir, out))
    calls += secs(t0)
    lastOut = out; lastPrinted = printed
    filesWritten = Files.dataFiles(new java.io.File(out).getParent).size
  }

  def check(): Unit = {
    val want = archive.rowsPerTable()
    val printed = lastPrinted.linesIterator.collect {
      case l if l.endsWith(" records") && l.contains(": ") =>
        val Array(n, c) = l.stripSuffix(" records").split(": ", 2); n -> c.trim.toLong
    }.toMap
    Domain.tables.foreach { t =>
      b.ops.attempt(s"cli.$t") {
        val got = spark.read.parquet(graft.export.Sinks.datasetFilename(lastOut, t)).count()
        b.ops.check(s"cli.$t", got == want(t) && printed.get(t).contains(want(t)),
          s"rows $got, printed ${printed.get(t)}, manifest ${want(t)}")
      }
    }
  }

  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("wall_s", Stats.median(calls.toSeq), "s"),
    ("op_ms_p50", Stats.median(calls.toSeq) * 1e3, "ms"),
    ("stored_bytes_per_input_byte",
      Files.bytes(new java.io.File(lastOut).getParent).toDouble / archive.inputBytes, "ratio"))

  def extras: Seq[(String, Double)] = Seq(
    "blocks_per_s" -> archive.blocks / Stats.median(calls.toSeq),
    "calls" -> calls.size.toDouble, "files_written" -> filesWritten.toDouble)

  def exportProbe(): Long = filesWritten
}

/**
 * analyst-session — one client in a closed loop over a warehouse landed
 * beforehand by `IncrementalExporter.runWarehouse` (the per-era loop
 * behind `--remote --warehouse`) on a state log that already holds
 * completed eras: every public `EraViews.*Sql` text once per pass in a
 * seeded order, each followed by a slot lookup on the raw archive made
 * the way the CLI `block <slot>` verb makes it.
 */
final class AnalystSession(b: Bench) extends BaseWorkload(b) {
  var archive: Archive = _
  private var preseeded: Seq[Long] = Nil
  private var seedState: String = _
  private var wh: String = _
  private var stateDir: String = _
  private val expected = mutable.Map[String, Seq[Row]]()
  private val sqlTimes = mutable.ArrayBuffer[Double]()
  private val lookupTimes = mutable.ArrayBuffer[Double]()
  private val passes = mutable.ArrayBuffer[Double]()
  private val eraTimes = mutable.ArrayBuffer[Double]()
  private val resumes = mutable.ArrayBuffer[Double]()
  private lazy val rnd = new Random(b.seed * 7919 + 1)

  def warehouse: Option[String] = Option(wh)

  /** The public SQL texts: 20 over the era tables, 4 over the state log. */
  val dataTexts: Seq[(String, String)] = Seq(
    "daily_activity" -> EraViews.DailyActivitySql, "slot_gaps" -> EraViews.SlotGapsSql,
    "attestation_participation" -> EraViews.AttestationParticipationSql,
    "exits_monthly" -> EraViews.ExitsMonthlySql, "tx_fee_recipients" -> EraViews.TxFeeRecipientsSql,
    "sync_participation" -> EraViews.SyncParticipationSql,
    "slashing_classified" -> EraViews.SlashingClassifiedSql,
    "bls_top_validators" -> EraViews.BlsTopValidatorsSql, "blob_patterns" -> EraViews.BlobPatternsSql,
    "block_production" -> EraViews.BlockProductionSql, "block_timing" -> EraViews.BlockTimingSql,
    "withdrawal_hourly" -> EraViews.WithdrawalHourlySql, "request_mix" -> EraViews.RequestMixSql,
    "deposit_trends" -> EraViews.DepositTrendsSql,
    "consolidation_addresses" -> EraViews.ConsolidationAddressesSql,
    "consolidation_efficiency" -> EraViews.ConsolidationEfficiencySql,
    "tx_hourly" -> EraViews.TxHourlySql, "gas_utilization" -> EraViews.GasUtilizationSql,
    "health_freshness" -> EraViews.HealthFreshnessSql, "data_quality" -> EraViews.DataQualitySql)
  val stateTexts: Seq[(String, String)] = Seq(
    "state_status" -> EraViews.StateStatusSql, "state_recent" -> EraViews.StateRecentSql,
    "state_failed" -> EraViews.StateFailedSql, "state_perf" -> EraViews.StatePerfSql)

  def prepare(): Unit = {
    archive = gen.archive(s"${b.work}/archive", Sizes.anFiles, Sizes.anSpan, Sizes.holeRate)
    val used = archive.files.map(_.era).toSet
    val (_, lo, _) = Domain.forkEras.find(_._1 == "capella").get
    preseeded = (lo until lo + 200).filterNot(used).take(Sizes.anPreseeded)
  }

  /** The warehouse the session reads: a state log with completed eras,
    * written through the state manager as a running deployment would
    * have it, then the archive's era landed by the per-era loop. */
  def inputs(): Unit = {
    seedState = s"${b.work}/state-seed"
    val seeded = new EraStateManager(spark, seedState)
    preseeded.foreach(e => seeded.recordEraCompletion(e, network, Domain.tables, preseededRows(e)))
    wh = s"${b.work}/wh"; stateDir = s"${b.work}/state"
    Files.copyDir(seedState, stateDir)
    val (eras, resume) = new WarehouseLoop(b, archive).land(stateDir, wh)
    eraTimes ++= eras; resumes += resume
  }

  private def preseededRows(era: Long): Long = 1000L + era

  /** Program-side set-up: bind the warehouse views and the state views. */
  def setup(rep: Int): Unit = register()

  def register(): Unit = {
    EraViews.registerWarehouse(spark, wh)
    val st = new EraStateManager(spark, stateDir)
    st.eraStatus.createOrReplaceTempView("era_completion")
    st.log.createOrReplaceTempView("era_completion_log")
  }

  /** References for the data texts, from views over the decoded archive
    * in a separate session (computed once), then one lookup of each kind. */
  def warmup(): Unit = {
    val ref = spark.newSession()
    val decoded = Normalizer.decodeBlocks(ref.read.format("era").load(archive.dir)).cache()
    EraViews.register(ref, decoded)
    decoded.count()
    // the references are independent small jobs: run them side by side
    val pool = java.util.concurrent.Executors.newFixedThreadPool(b.cpus)
    try {
      val futures = dataTexts.map { case (n, q) =>
        n -> pool.submit(new java.util.concurrent.Callable[Seq[Row]] {
          def call(): Seq[Row] = ref.sql(q).collect().toSeq
        })
      }
      futures.foreach { case (n, f) => expected(n) = f.get() }
    } finally pool.shutdown()
    decoded.unpersist(blocking = true)
    Seq("point", "in", "range").foreach(kind => lookup(kind))
  }

  private def runSql(name: String, text: String): Double = {
    val t0 = System.nanoTime()
    val rows = b.ops.attempt(s"sql.$name")(span("queries.sql")(spark.sql(text).collect().toSeq))
    val s = secs(t0)
    rows.foreach(r => checkSql(name, r))
    s
  }

  /** Lookup of one kind: a slot, a few slots, or a narrow range, about a
    * quarter of the targets being missed slots. */
  private def lookup(kind: String): Double = {
    val blocks = archive.files.flatMap(_.blocks.map(_.slot))
    val holes = archive.files.flatMap(_.holes)
    def target(): Long =
      if (holes.nonEmpty && rnd.nextDouble() < 0.25) holes(rnd.nextInt(holes.size))
      else blocks(rnd.nextInt(blocks.size))
    val (pred, slots) = kind match {
      case "point" => val s = target(); (col("slot") === s, Seq(s))
      case "in" => val ss = Seq.fill(4)(target()).distinct; (col("slot").isin(ss: _*), ss)
      case _ =>
        val lo = target(); val hi = lo + 8 + rnd.nextInt(25)
        (col("slot").between(lo, hi), (lo to hi))
    }
    val want = slots.flatMap(archive.bySlot.get).sortBy(_.slot)
    val read0 = graft.sources.EraScanStats.bytesRead.sum()
    val t0 = System.nanoTime()
    val got = b.ops.attempt(s"lookup.$kind")(span("sources.lookup") {
      val records = spark.read.format("era").load(archive.dir)
      val found = Normalizer.decodeBlocks(records.filter(pred)).collect()
      found.foreach(BeaconJson.toJsonString)
      found.toSeq
    })
    val s = secs(t0)
    // the SlotIndex seek path reports no task input bytes; the scan's own
    // counter (same JVM in local mode) does
    if (b.tracer.enabled) b.lookupBytes += graft.sources.EraScanStats.bytesRead.sum() - read0
    got.foreach { found =>
      val bySlot = found.map(f => f.slot -> f).toMap
      val ok = found.size == want.size && want.forall { w =>
        bySlot.get(w.slot).exists { f =>
          val rows = archive.templates(w.template).rows
          f.proposer_index == w.proposer && f.compressed_size == w.compressedSize &&
            f.body.attestations.size == rows("attestations") &&
            f.body.execution_payload.map(_.transactions.size.toLong).getOrElse(0L) == rows("transactions")
        }
      }
      b.ops.check(s"lookup.$kind", ok,
        s"slots ${slots.take(4).mkString(",")}: got ${found.map(_.slot).sorted.mkString(",")}, want ${want.map(_.slot).mkString(",")}")
    }
    s
  }

  def iteration(k: Int): Unit = {
    val t0 = System.nanoTime()
    rnd.shuffle(dataTexts ++ stateTexts).foreach { case (n, q) =>
      sqlTimes += runSql(n, q)
      lookupTimes += lookup(Seq("point", "point", "in", "range")(rnd.nextInt(4)))
    }
    passes += secs(t0)
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => x == y || math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
    case (x: Row, y: Row) => x.size == y.size && (0 until x.size).forall(i => same(x.get(i), y.get(i)))
    case _ => a == b
  }

  private def checkSql(name: String, rows: Seq[Row]): Unit = {
    val landed = archive.files.map(e => e.era -> archive.rowsPerTable(Set(e.era)).values.sum).toMap
    val perEra = landed ++ preseeded.map(e => e -> preseededRows(e))
    val total = perEra.values.sum
    def fail(why: String) = b.ops.check(s"sql.$name", ok = false, why)
    def ok = b.ops.check(s"sql.$name", ok = true, "")
    name match {
      case "state_status" =>
        if (rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))) ==
            Seq(("completed", perEra.size.toLong, total))) ok
        else fail(s"got ${rows.mkString(";")}")
      case "state_recent" =>
        val got = rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        if (got == perEra.keys.toSeq.sorted.reverse.map(e => (e, "completed", perEra(e)))) ok
        else fail(s"got ${got.take(3).mkString(";")}")
      case "state_failed" => if (rows.isEmpty) ok else fail(s"got ${rows.mkString(";")}")
      case "state_perf" =>
        // one completion event per seeded era, start + completion per landed era
        val events = rows.map(_.getLong(1)).sum; val completed = rows.map(_.getLong(2)).sum
        val failed = rows.map(_.getLong(4)).sum; val recs = rows.map(_.getLong(5)).sum
        if (events == preseeded.size + 2L * landed.size && completed == perEra.size &&
            failed == 0 && recs == total) ok
        else fail(s"got ${rows.mkString(";")}")
      case n =>
        val want = expected(n)
        val inOrder = rows.size == want.size && rows.zip(want).forall { case (x, y) => same(x, y) }
        if (inOrder) ok
        else fail(s"${rows.size} rows vs ${want.size} reference rows; first ${rows.headOption} vs ${want.headOption}")
    }
  }

  def check(): Unit = {
    // every data text also returned rows over the reference, so no
    // comparison above was between two empty results
    dataTexts.foreach { case (n, _) =>
      b.ops.check(s"reference.$n", expected.get(n).exists(_.nonEmpty), "empty reference result")
    }
    checkWarehouse(wh, archive, "warehouse")
  }

  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("wall_s", Stats.median(passes.toSeq), "s"),
    ("op_ms_p50", Stats.median(lookupTimes.toSeq) * 1e3, "ms"),
    ("stored_bytes_per_input_byte", Files.bytes(s"$wh/$network").toDouble / archive.inputBytes, "ratio"))

  /** The landing once more, traced, into scratch directories. */
  def exportProbe(): Long = {
    val (st, out) = (s"${b.work}/probe-state", s"${b.work}/probe-wh")
    Files.copyDir(seedState, st)
    new WarehouseLoop(b, archive).land(st, out)
    val n = Files.dataFiles(s"$out/$network").size.toLong
    Files.delete(out); Files.delete(st)
    n
  }

  def extras: Seq[(String, Double)] = Seq(
    "sql_s_p50" -> Stats.median(sqlTimes.toSeq), "sql_s_max" -> sqlTimes.max,
    "lookup_ms_p50" -> Stats.median(lookupTimes.toSeq) * 1e3, "lookup_ms_max" -> lookupTimes.max * 1e3,
    "sql_n" -> sqlTimes.size.toDouble, "lookup_n" -> lookupTimes.size.toDouble,
    "passes" -> passes.size.toDouble,
    "landing_era_s" -> Stats.median(eraTimes.toSeq), "landing_resume_s" -> Stats.median(resumes.toSeq),
    "landing_blocks_per_s" -> archive.blocks / Stats.median(eraTimes.toSeq))
}

/** One landing of an archive through `IncrementalExporter.runWarehouse`,
  * then a second call over the same eras, which must process none. Per-era
  * times are cut from the `loadEra` callback timestamps. */
final class WarehouseLoop(b: Bench, archive: Archive) {
  private def spark = b.spark

  /** Returns (seconds per era, seconds of the second call). */
  def land(stateDir: String, wh: String): (Seq[Double], Double) = {
    val st = new EraStateManager(spark, stateDir)
    val eras = archive.files.map(_.era)
    def load(era: Long) = spark.read.format("era").load(archive.files.find(_.era == era).get.path)
    val marks = mutable.ArrayBuffer[(Long, Long)]() // (wall ms, nanoTime) at each loadEra
    var parent = 0L
    val got = b.tracer.span(spark.sparkContext, "export.run_warehouse") {
      parent = b.tracer.current
      IncrementalExporter.runWarehouse(spark, st, Domain.network, eras, wh) { era =>
        marks += ((System.currentTimeMillis(), System.nanoTime())); load(era)
      }
    }
    val t1 = System.nanoTime()
    val perEra = marks.zip(marks.drop(1).map(_._2) :+ t1).map { case ((ms, s), e) =>
      b.tracer.record("export.era", parent, ms, s, e)
      (e - s) / 1e9
    }
    b.ops.check("loop.eras", got == eras && marks.size == eras.size,
      s"processed ${got.mkString(",")} of ${eras.mkString(",")}; loadEra called ${marks.size} times")
    val again = b.tracer.span(spark.sparkContext, "export.resume") {
      IncrementalExporter.runWarehouse(spark, st, Domain.network, eras, wh) { era =>
        b.ops.fail("loop.resume", s"era $era processed again"); load(era)
      }
    }
    b.ops.check("loop.resume", again.isEmpty, s"second call processed ${again.mkString(",")}")
    (perEra.toSeq, (System.nanoTime() - t1) / 1e9)
  }
}
