package graft.bench

import org.apache.spark.sql.SparkSession

/** The bench's ENVIRONMENT-adjudication probes — extracted from
  * `graft.Bench` (VERDICT r15 #6) so the code that grades every future
  * round (probes, thresholds, samplers, steal counters) is its own
  * reviewable layer instead of interleaving with corpus generation and
  * 30+ measurement families. Everything here is measurement-side only:
  * no query code depends on this package.
  *
  * Why this layer exists: BENCH numbers from this sandbox drift ±3×
  * between rounds with zero code change (BENCH_r07 vs r08 — hypervisor
  * CPU steal in multi-minute windows, bimodal page-cache writeback).
  * Every write-heavy rep is therefore BRACKETED (write + CPU microprobes
  * before/after), SAMPLED (an in-rep daemon running back-to-back CPU
  * probes), and STEAL-METERED (/proc/stat field 8 deltas), and the
  * labels ride the artifact so a slow rep adjudicates itself without an
  * out-of-band run. */
object Probes {

  @volatile private var blackhole = 0L // defeats dead-code elimination

  private[bench] def hashLoop(iters: Long, seed: Long): Long = {
    var x = seed | 1L
    var i = 0L
    while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  /** Iteration count of the single-thread calibration kernel — ONE
    * constant shared by [[calibrate]] and the [[CpuProbeStallSec]]
    * threshold formula (ADVICE r15: the two used to carry separate
    * literal 4e8s, so changing calibrate's count would have silently
    * miscalibrated every cpu/stall label). */
  val CalIters = 400000000L

  /** Fixed-cost calibration probe, run before AND after the measured work.
    * Three constants make every run self-interpreting:
    *  - `st_sec`: [[CalIters]]-iteration xorshift on ONE thread — pure
    *    single-core speed / CPU steal, no allocation, no Spark;
    *  - `mt_sec`: the same per-thread work on min(32, cores) threads — on
    *    an uncontended 32-core box this equals st_sec; a higher ratio
    *    means the sandbox is not actually giving the advertised cores;
    *  - `scan_sec`: sum over a fixed 20M-row / 2-col parquet written by
    *    this run — Spark scheduling + IO at a constant data size,
    *    independent of SPARK_GRAFT_SF_DIR.
    * A slow round with slow probes is environment; a slow round with fast
    * probes is a regression. */
  def calibrate(spark: SparkSession, scanPath: String): (Double, String) = {
    val t0 = System.nanoTime()
    blackhole ^= hashLoop(CalIters, 0x9e3779b97f4a7c15L)
    val st = (System.nanoTime() - t0) / 1e9
    val nThreads = math.min(Runtime.getRuntime.availableProcessors(), 32)
    val t1 = System.nanoTime()
    val threads = (1 to nThreads).map { i =>
      new Thread(() => { blackhole ^= hashLoop(CalIters, i.toLong) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val mt = (System.nanoTime() - t1) / 1e9
    var sum = 0L
    val t2 = System.nanoTime()
    sum = spark.read.parquet(scanPath)
      .selectExpr("sum(v)").collect()(0).getLong(0)
    val scan = (System.nanoTime() - t2) / 1e9
    blackhole ^= sum
    def r2(d: Double) = math.rint(d * 100) / 100
    (st,
      s"""{"st_sec":${r2(st)},"mt${nThreads}_sec":${r2(mt)},"scan_sec":${r2(scan)}}""")
  }

  /** ~0.3 s single-thread CPU microprobe, run before AND after every
    * write-heavy rep NEXT TO the write probe: the write probe can only see
    * writeback stalls, and both final r14 runs had tmpfs ETL reps 3–6×
    * slow with `stalled=false` because the mechanism was CPU steal /
    * memory pressure — which the run-LEVEL cal probes bracket too coarsely
    * to pin on a rep (VERDICT r14 #1). Same xorshift kernel as the cal
    * probe at 3/8 the iterations (≈0.3 s idle on this box). */
  def cpuProbeSec(): Double = {
    val t0 = System.nanoTime()
    blackhole ^= hashLoop(CpuProbeIters, 0x2545f4914f6cdd1dL)
    math.rint((System.nanoTime() - t0) / 1e9 * 1000) / 1000
  }

  val CpuProbeIters = 150000000L

  /** Stall threshold for [[cpuProbeSec]], set from THIS run's own warm
    * calibration (st_sec × the iteration ratio × factor 2, floored at
    * 0.2 s): a probe that takes 2× the run's own single-thread baseline
    * names steal/pressure, not noise. Double.MaxValue until the bench
    * main calibrates, so tests that call the rep helpers directly
    * never label on an unset threshold. */
  @volatile var CpuProbeStallSec: Double = Double.MaxValue

  /** Derive and install [[CpuProbeStallSec]] from a warm single-thread
    * calibration second — the one formula site, sharing [[CalIters]] with
    * the kernel it scales from. */
  def setCpuStallThreshold(calStSec: Double): Unit =
    CpuProbeStallSec = math.max(0.2,
      2.0 * calStSec * (CpuProbeIters.toDouble / CalIters))

  /** Fixed-size write probe: ~10 MB of parquet through the same Spark
    * write path as the measured exports, returned as MB/s and the dir
    * deleted. Run before AND after every write-heavy rep (wh_loop rungs,
    * ETL runs): this sandbox's write path is bimodal (3–5 s vs 20–80 s
    * page-cache writeback stalls — BENCH_NOTES), and a collapsed probe
    * labels the rep as ENVIRONMENT inside the artifact itself, so a slow
    * reading adjudicates without an out-of-band run (VERDICT r13 #1/#3).
    * [[WriteProbeStallMbps]] is the label threshold, calibrated idle vs
    * under induced write load (BENCH_NOTES.md). */
  def writeProbeMbps(spark: SparkSession): Double = {
    val dir = java.nio.file.Files.createTempDirectory("graft-wprobe").toString
    val t0 = System.nanoTime()
    spark.range(1250000L).selectExpr("id", "hash(id) as v")
      .repartition(4).write.mode("overwrite").parquet(s"$dir/p.parquet")
    val sec = (System.nanoTime() - t0) / 1e9
    val mb = graft.Bench.dirBytes(dir) / 1e6
    graft.Bench.deleteRecursively(dir)
    math.rint(mb / sec * 10) / 10
  }

  /** Raw filesystem write+fsync latency (ms) of 4 MB into `dir` — a probe
    * that targets the REP'S OWN filesystem (the Spark write probe always
    * lands on default tmp, so a tmpfs rep's filesystem was never probed:
    * BENCH_r16's two 68 s shm reps carried healthy /tmp probes and a
    * "none" label — VERDICT r16 #2). No Spark in the loop: this times the
    * kernel write path alone, so a collapsed number names the filesystem
    * and not the scheduler. Returns -1 when the dir is unwritable. */
  def fsyncProbeMs(dir: String): Double =
    try {
      val f = java.nio.file.Files.createTempFile(
        java.nio.file.Paths.get(dir), "graft-fsprobe", ".bin")
      val buf = java.nio.ByteBuffer.allocate(4 * 1024 * 1024)
      val t0 = System.nanoTime()
      val ch = java.nio.channels.FileChannel.open(f,
        java.nio.file.StandardOpenOption.WRITE)
      try { ch.write(buf); ch.force(true) } finally ch.close()
      val ms = (System.nanoTime() - t0) / 1e6
      java.nio.file.Files.deleteIfExists(f)
      math.rint(ms * 10) / 10
    } catch { case _: Exception => -1.0 }

  /** A rep with EITHER bracketing probe under this is stall-labeled
    * (min(pre, post) < threshold — the sensitive direction: a stall
    * window long enough to slow the rep usually reaches at least one
    * adjacent probe, and a false "stalled" only demotes the rep from the
    * headline, never hides it). Calibration (BENCH_NOTES.md): idle probes
    * measure well above it; under an induced dirty-page flood they
    * collapse under it. */
  val WriteProbeStallMbps = 8.0

  /** Read /proc/stat's aggregate steal ticks — the KERNEL's own count of
    * time the hypervisor ran someone else while this guest had runnable
    * work. This box's counter is live (1.27M ticks ≈ 12,700 stolen
    * CPU-seconds at snapshot time), so a per-rep DELTA measures the
    * mechanism the probes could only infer: Δticks/100 = stolen
    * core-seconds during the rep, workload-independent (a rep's own
    * saturation or GC never moves it). None on non-Linux / unreadable. */
  def stealTicks(): Option[Long] =
    try {
      // the stream is closed deterministically (ADVICE r15: findFirst on
      // an unclosed Files.lines kept /proc/stat's fd open until GC,
      // several times per rep across a 45–75 min run)
      val stream = java.nio.file.Files.lines(java.nio.file.Paths.get("/proc/stat"))
      try {
        val line = stream.filter(_.startsWith("cpu ")).findFirst()
        if (!line.isPresent) None
        else {
          val f = line.get.trim.split("\\s+")
          // cpu user nice system idle iowait irq softirq STEAL guest …
          if (f.length > 8) Some(f(8).toLong) else None
        }
      } finally stream.close()
    } catch { case _: Exception => None }

  /** A rep is steal-labeled when the hypervisor stole more than this many
    * cores on average across its window (10% of the advertised 32 — well
    * above jitter, well below the 2–3× slowdowns the label exists for). */
  val StealStallCores = 3.2

  /** Average cores stolen across a rep window, from two stealTicks reads
    * (USER_HZ = 100 on Linux). 0.0 when the counter is unavailable. */
  def stealCoresOver(pre: Option[Long], post: Option[Long],
      sec: Double): Double = (for (a <- pre; b <- post) yield
    math.rint((b - a) / 100.0 / math.max(0.001, sec) * 100) / 100).getOrElse(0.0)

  /** Continuous IN-REP CPU sampler: a daemon thread runs back-to-back
    * [[cpuProbeSec]] probes for the rep's whole duration and keeps the
    * MAX. The bracketing pre/post probes miss a mid-rep steal window that
    * recovers before the post-probe — observed LIVE in the first r15
    * sf0.1 run: a 73 s tmpfs ETL rep (7× the clean rep) with healthy
    * brackets on both sides. Costs one of 32 cores during measured reps;
    * it runs during EVERY rep, so the tax is uniform and cancels in
    * rep-to-rep comparison (and is measured once per run — the
    * `sampler_tax` headline keys, VERDICT r15 #3). */
  final class CpuSampler {
    @volatile private var stopped = false
    // guarded by `lock`: the probe thread and stop() both touch the trio,
    // and the old volatile pair could be read between its two writes when
    // the 5 s join timed out under the very stall being measured
    // (ADVICE r15)
    private val lock = new Object
    private var maxSec = 0.0
    private var sumSec = 0.0
    private var n = 0L
    private val t = new Thread(() => {
      while (!stopped) {
        val s = cpuProbeSec()
        lock.synchronized {
          if (s > maxSec) maxSec = s
          sumSec += s; n += 1
        }
      }
    })
    t.setDaemon(true)
    t.start()
    /** Stop sampling; returns (mean, max) of the in-rep probes. The MEAN
      * is the label signal: a steal window runs minutes, so it lifts most
      * of a slow rep's probes (sustained 2× under the cpu-flood drill),
      * while the rep's OWN GC pauses — workload, not environment — only
      * spike the max. The max rides the artifact as evidence. Joins until
      * the thread actually exits (it terminates after the in-flight
      * probe — bounded by one probe duration even mid-stall), so the
      * returned pair is never read concurrently with an in-flight update
      * and no stray probe thread runs into the next rep's window. */
    def stop(): (Double, Double) = {
      stopped = true
      while (t.isAlive) t.join(5000)
      def r3(d: Double) = math.rint(d * 1000) / 1000
      lock.synchronized {
        (r3(if (n == 0) 0.0 else sumSec / n), r3(maxSec))
      }
    }
  }
}
