package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point (run through `perfbench/run.py`):
 *
 * {{{
 * perfbench.Main --workload <cli-extract|analyst-session>
 *                --seed N --seconds S --trace 0|1 --work DIR
 * }}}
 *
 * One run: generate the seeded archive (benchmark side, not timed), let
 * the program build any inputs it produces itself (not timed), set up
 * three times (fresh SparkSession + the workload's program-side set-up;
 * `setup_s` is the median), warm up, then run whole workload
 * iterations until `--seconds` have passed, check every output against
 * the generator's manifest outside the timed window, and print one JSON
 * object as the last line of stdout. With `--trace 1` the window is split
 * into an untraced and a traced half, layer probes follow, the spans are
 * written to `DIR/trace/`, and the per-layer metrics are printed instead.
 */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val bench = new Bench(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"))
    val code = try {
      val result = bench.run()
      println(result)
      if (bench.correct) 0 else 1
    } finally bench.stop()
    System.out.flush()
    sys.exit(code)
  }
}

/** A unit of measured work and everything it needs. */
trait Workload {
  /** Generate inputs (benchmark side, not timed). */
  def prepare(): Unit
  /** Inputs the program itself produces before the workload starts (a
    * built warehouse, a state log with history); once, not timed. */
  def inputs(): Unit
  /** The program-side set-up that follows a fresh session. */
  def setup(rep: Int): Unit
  /** Untimed warm-up before the window (may also compute references). */
  def warmup(): Unit
  /** One whole iteration inside the window. */
  def iteration(k: Int): Unit
  /** Output checks, outside the window. */
  def check(): Unit
  /** End-to-end metrics except `setup_s` and `storage_peak_mb`. */
  def endToEnd: Seq[(String, Double, String)]
  /** Numbers worth printing to stderr that are not gated metrics. */
  def extras: Seq[(String, Double)]
  /** The archive the layer probes read. */
  def archive: Archive
  def generator: ArchiveGen
  /** The warehouse the queries layer reads, if any. */
  def warehouse: Option[String]
  /** Data files one export leaves. A workload whose window exports
    * nothing runs one traced export here first. */
  def exportProbe(): Long
}

final class Bench(val workloadName: String, val seed: Long, val seconds: Double,
    val trace: Boolean, val work: String) {
  val cpus: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
  val tracer = new Tracer(s"$workloadName-$seed")
  val storage = new StorageListener
  val layers = new LayerListener
  val plans = new PlanListener
  val ops = new OpLog
  /** Era bytes each traced lookup read. */
  val lookupBytes = mutable.ArrayBuffer[Long]()
  private var session: SparkSession = _

  def spark: SparkSession = session
  def correct: Boolean = ops.failed.get == 0

  private val born = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"perfbench: [${(System.nanoTime() - born) / 1e9}%6.1f s] $msg")

  /** Stop the current session (if any) and start a fresh one, configured
    * like the CLI's own session but rooted in the work directory. */
  def newSession(): SparkSession = {
    stop()
    session = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    session.sparkContext.addSparkListener(storage)
    session
  }

  def stop(): Unit = if (session != null) { session.stop(); session = null }

  /** Turn tracing on: spans plus the job and plan listeners. */
  private def startTracing(): Unit = {
    spark.sparkContext.addSparkListener(layers)
    spark.listenerManager.register(plans)
    tracer.enabled = true
  }

  /** Run whole iterations for `secs`: at least one, and no further one
    * once the next would end past the window (judged by the longest so
    * far). Between iterations, cached blocks the program released are
    * given time to leave memory. Returns each iteration's wall time. */
  private def window(secs: Double, first: Int, traced: Boolean)(w: Workload): Seq[Double] = {
    val walls = mutable.ArrayBuffer[Double]()
    var used = 0.0
    var k = first
    do {
      val t0 = System.nanoTime()
      if (traced) tracer.span(spark.sparkContext, "bench.iteration")(w.iteration(k))
      else w.iteration(k)
      walls += (System.nanoTime() - t0) / 1e9
      used += walls.last
      k += 1
      storage.awaitReleased()
    } while (used + walls.max <= secs)
    walls.toSeq
  }

  def run(): String = {
    val w: Workload = workloadName match {
      case "cli-extract" => new CliExtract(this)
      case "analyst-session" => new AnalystSession(this)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Files.delete(work)
    new java.io.File(work).mkdirs()
    val g0 = System.nanoTime()
    w.prepare()
    log(f"generated ${w.archive.files.size} era files, ${w.archive.blocks} blocks, " +
      f"${w.archive.inputBytes / 1e6}%.1f MB in ${(System.nanoTime() - g0) / 1e9}%.2f s")
    // the first session pays the JVM's class loading; it also serves to
    // build the program-produced inputs
    newSession()
    val i0 = System.nanoTime()
    w.inputs()
    log(f"inputs ${(System.nanoTime() - i0) / 1e9}%.2f s")
    val setups = (1 to 3).map { rep =>
      val t0 = System.nanoTime()
      newSession()
      w.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    log(s"set-up reps (s): ${setups.map(s => f"$s%.3f").mkString(" ")}")
    val wu = System.nanoTime()
    w.warmup()
    log(f"warm-up ${(System.nanoTime() - wu) / 1e9}%.2f s")
    val storageMax = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum
    storage.awaitReleased()

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        storage.resetPeak()
        val walls = window(seconds, 0, traced = false)(w)
        val peak = storage.peakBytes
        log(s"iterations: ${walls.size}, walls (s): ${walls.map(s => f"$s%.3f").mkString(" ")}")
        w.check()
        Seq(("setup_s", Stats.median(setups), "s")) ++ w.endToEnd ++
          Seq(("storage_peak_mb", peak / 1e6, "MB"))
      } else {
        val plain = window(seconds / 2, 0, traced = false)(w)
        startTracing()
        val traced = window(seconds / 2, plain.size, traced = true)(w)
        val probes = new Probes(this, w)
        probes.run()
        w.check()
        val layerMetrics = probes.metrics(plain, traced)
        tracer.dump(s"$work/trace/spans-$workloadName-$seed.jsonl")
        layerMetrics
      }
    w.extras.foreach { case (k, v) => log(f"$k = $v%.4f") }
    log(f"storage memory available ${storageMax / 1e6}%.0f MB")
    ops.failureList.foreach(f => log(s"failed: $f"))
    Result.json(correct, ops.attempted.get, ops.failed.get, metrics)
  }
}

object Result {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": ${math.max(1L, attempted)}, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
        .mkString(", ") + "}}"
}
