package perfbench

import graft.config.Networks
import graft.decode.BlockDecoder
import graft.operators.Normalizer
import graft.queries.EraViews
import graft.ssz.SnappyFramed

/**
 * The traced half of a `--trace 1` run: layer probes over the workload's
 * own archive, then the per-layer metrics, each attributed from spans (the
 * benchmark's calls), the jobs those spans submitted (with their call
 * sites) and the query executions planned inside them.
 */
final class Probes(b: Bench, w: Workload) {
  private def spark = b.spark
  private def sc = b.spark.sparkContext
  private def span[T](name: String)(f: => T): T = b.tracer.span(sc, name)(f)

  private val snappyUs = scala.collection.mutable.Map[String, Double]()
  private val decodeUs = scala.collection.mutable.Map[String, Double]()
  private var dropped = 0L
  private var rowsOut = 0L
  private var filesWritten = 0L

  /** Single-thread `SnappyFramed.decompress` and `BlockDecoder.decode`
    * over payloads of each fork drawn from the workload's generator. */
  private def micro(): Unit = Domain.forkEras.foreach { case (fork, firstEra, _) =>
    val pool = w.generator.templates.filter(_.fork == fork)
    val base = firstEra * Domain.slotsPerEra + 1
    val payloads = (0 until 256).map { i =>
      val slot = base + i
      slot -> SnappyFramed.compress(w.generator.blockBytes(pool(i % pool.size), slot, i.toLong))
    }
    def timeUs(f: ((Long, Array[Byte])) => Unit): Double = {
      payloads.foreach(f) // warm
      var n = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 150000000L) { payloads.foreach(f); n += payloads.size }
      (System.nanoTime() - t0) / 1e3 / n
    }
    snappyUs(fork) = timeUs { case (_, c) => SnappyFramed.decompress(c) }
    decodeUs(fork) = timeUs { case (slot, c) =>
      if (BlockDecoder.decode(c, slot, Networks.gnosis, firstEra, "probe").isEmpty)
        b.ops.fail(s"decode.$fork", s"slot $slot did not decode")
    }
  }

  def run(): Unit = {
    filesWritten = w.exportProbe()
    micro()
    val dir = w.archive.dir
    def records = spark.read.format("era").load(dir)
    (1 to 2).foreach { _ =>
      span("sources.scan")(records.write.format("noop").mode("overwrite").save())
      span("operators.decode")(Normalizer.decodeBlocks(records).write.format("noop").mode("overwrite").save())
    }
    val decoded = Normalizer.decodeBlocks(records).cache()
    val n = decoded.count()
    dropped = w.archive.blocks - n
    (1 to 2).foreach { _ =>
      span("operators.fanout") {
        Normalizer.datasetNames.foreach(t =>
          Normalizer.dataset(decoded, t).write.format("noop").mode("overwrite").save())
      }
    }
    rowsOut = Normalizer.datasetNames.map(t => Normalizer.dataset(decoded, t).count()).sum
    decoded.unpersist(blocking = true)
    w.warehouse.foreach { wh =>
      (1 to 3).foreach(_ => span("queries.register")(EraViews.registerWarehouse(spark, wh)))
    }
    b.layers.awaitQuiet()
    b.plans.awaitQuiet()
  }

  def metrics(plain: Seq[Double], traced: Seq[Double]): Seq[(String, Double, String)] = {
    val spans = b.tracer.spans
    val byId = spans.map(s => s.id -> s).toMap
    val jobs = b.layers.all
    val plans = b.plans.all
    def named(n: String) = spans.filter(_.name == n)
    /** Jobs submitted inside any span called `n` or below one. */
    def jobsUnder(n: String) = jobs.filter { j =>
      var s = byId.get(j.span); var hit = false
      while (s.isDefined && !hit) { hit = s.get.name == n; s = byId.get(s.get.parent) }
      hit
    }
    def plansIn(n: String) = plans.filter(p => named(n).exists(s => p.atMs >= s.startMs && p.atMs <= s.endMs))
    def per(total: Double, n: Int) = if (n == 0) 0.0 else total / n
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)

    val iterations = named("bench.iteration")
    val coverage = iterations.map { it =>
      spans.filter(_.parent == it.id).map(_.seconds).sum / it.seconds
    }
    val scan = jobsUnder("sources.scan")
    val lookups = named("sources.lookup")
    val lookupJobs = jobsUnder("sources.lookup")
    val exportSpans = named("export.cli_extract") ++ named("export.run_warehouse")
    val exportIters = exportSpans.size
    val exportJobs = jobsUnder("export.cli_extract") ++ jobsUnder("export.run_warehouse") ++
      jobsUnder("export.resume")
    val stateJobs = exportJobs.filter(_.callSite.contains("EraStateManager.scala"))
    val dataJobs = exportJobs.filterNot(_.callSite.contains("EraStateManager.scala"))
    val sqlSpans = named("queries.sql")
    val sqlJobs = jobsUnder("queries.sql")
    val sqlPlans = plansIn("queries.sql")

    val perFork = Domain.forks.flatMap { f =>
      Seq((s"ssz.snappy_us_per_block.$f", snappyUs(f), "us"),
        (s"decode.parse_us_per_block.$f", decodeUs(f), "us"))
    }
    perFork ++ Seq(
      ("decode.blocks_dropped", dropped.toDouble, "count"),
      ("sources.scan_s", med(named("sources.scan").map(_.seconds)), "s"),
      ("sources.records_read", per(scan.map(_.recordsRead).sum, 2), "count"),
      ("sources.bytes_read", per(scan.map(_.bytesRead).sum, 2), "bytes"),
      ("sources.lookup_bytes_read", per(b.lookupBytes.sum.toDouble, b.lookupBytes.size), "bytes"),
      ("sources.lookup_tasks", per(lookupJobs.map(_.tasks).sum, lookups.size), "count"),
      ("operators.decode_s", med(named("operators.decode").map(_.seconds)), "s"),
      ("operators.fanout_noop_s", med(named("operators.fanout").map(_.seconds)), "s"),
      ("operators.rows_out", rowsOut.toDouble, "count"),
      ("export.jobs", per(exportJobs.size, exportIters), "count"),
      ("export.tasks", per(exportJobs.map(_.tasks).sum, exportIters), "count"),
      ("export.readback_jobs", per(dataJobs.count(j => j.bytesWritten == 0 && j.recordsWritten == 0),
        exportIters), "count"),
      ("export.task_s", per(exportJobs.map(_.taskS).sum, exportIters), "s"),
      ("export.cpu_s", per(exportJobs.map(_.cpuS).sum, exportIters), "s"),
      ("export.gc_s", per(exportJobs.map(_.gcS).sum, exportIters), "s"),
      ("export.bytes_written", per(exportJobs.map(_.bytesWritten).sum, exportIters), "bytes"),
      ("export.files_written", filesWritten.toDouble, "count"),
      ("export.stage_bytes", per(dataJobs.filter(_.callSite.contains("IncrementalExporter.scala"))
        .map(_.bytesWritten).sum, exportIters), "bytes"),
      ("export.state_s", per(stateJobs.map(j => (j.endMs - j.startMs) / 1e3).sum, exportIters), "s"),
      ("export.state_jobs", per(stateJobs.size, exportIters), "count"),
      ("queries.plan_ms", per(sqlPlans.map(_.planMs).sum, sqlSpans.size), "ms"),
      ("queries.jobs", per(sqlJobs.size, sqlSpans.size), "count"),
      ("queries.tasks", per(sqlJobs.map(_.tasks).sum, sqlSpans.size), "count"),
      ("queries.scan_bytes", per(sqlJobs.map(_.bytesRead).sum, sqlSpans.size), "bytes"),
      ("queries.files_read", per(sqlPlans.map(_.files).sum, sqlSpans.size), "count"),
      ("queries.shuffle_bytes", per(sqlJobs.map(_.shuffleWrite).sum, sqlSpans.size), "bytes"),
      ("queries.register_ms", med(named("queries.register").map(_.seconds * 1e3)), "ms"),
      ("trace.overhead_ratio", Stats.median(traced) / Stats.median(plain), "ratio"),
      ("trace.span_coverage_min", if (coverage.isEmpty) 0.0 else coverage.min, "ratio"))
  }
}
