package graft

import org.apache.spark.sql.SparkSession

import graft.bench.{Corpora, EraRamp, MaxTaskListener, ProbedRep, Probes, Ramp, Reps}

/** Benchmark main: one JSON line with per-query seconds over
  * SPARK_GRAFT_SF_DIR plus era parse-throughput metrics comparable to the
  * reference's published blocks/s table (BASELINE.md).
  *
  * Each query runs twice and reports the faster run: the first execution
  * pays one-time JVM/codegen compilation (~6 s for a 5-stage join) that
  * amortizes to zero in any long-lived deployment — steady-state is the
  * number that scales to the 100 TB cluster. */
object Bench {

  /** Tracked per-query map reader shared by both sweep arms. Keys starting
    * with "_" are metadata (the `_paired_count_total` run fingerprint in
    * the noop map), never query seconds — the convention ADVICE r16 asked
    * every map reader to enforce so a future metadata key can't be
    * mistaken for a 120-second query. */
  private def readQueryMap(path: String): Map[String, Double] =
    try {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(path))
      import scala.jdk.CollectionConverters._
      node.fieldNames().asScala.filterNot(_.startsWith("_"))
        .map(n => n -> node.get(n).asDouble()).toMap
    } catch { case _: Exception => Map.empty }

  private def timed(n: Int)(body: => Unit): Seq[Double] =
    (1 to n).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }

  private[graft] def best(n: Int)(body: => Unit): Double = timed(n)(body).min

  /** Recursive on-disk size — the write-throughput witness's numerator
    * (shared with [[graft.bench.Probes.writeProbeMbps]]). */
  private[graft] def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  /** Skew/scale soak: self-union the corpus `copies`× with a deliberately
    * hot key family — every copy appends the same boilerplate line (hot
    * chunk digests + hot SimHash buckets: each doc gains copies−1
    * byte-identical twins) and collapses onto one language; orders copies
    * collapse onto one hot custkey — then time the dedup/diag/calibration
    * family and report per-query seconds plus the largest single-task
    * input/shuffle-read. This is the measured regression gate for the r8
    * plan-shape fixes (bucket frequency caps, broadcast-free bad-digest
    * join, windowless totals, keyed rank windows): any of them reverting
    * turns a bounded max-task number into "one task ate the corpus". */
  private def soak(spark: SparkSession, sfDir: String, copies: Int,
      committed: Map[String, Double] = Map.empty): String = {
    val dir = Corpora.soakCorpus(spark, sfDir, copies)
    val listener = new MaxTaskListener
    spark.sparkContext.addSparkListener(listener)
    val family = Seq("dedup_exact", "clean_boilerplate", "dedup_simhash_pairs",
      "dedup_winnow_pairs", "text_nb_calibration", "diag_skew", "passage_spans")
    case class SoakRun(name: String, sec: Double, inMb: Double, shufMb: Double,
        ok: Boolean, endT: Double)
    val mb = (b: Long) => math.rint(b / 1e5) / 10
    val first = family.map { name =>
      listener.reset()
      val t0 = System.nanoTime()
      val ok =
        try { SparkEntry.queries(name)(spark, dir).count(); true }
        catch { case _: Throwable => false }
      val sec = (System.nanoTime() - t0) / 1e9
      // barrier on the listener bus itself (not a sleep): all task-end
      // events for this query are delivered before the metrics are read
      org.apache.spark.graftutil.ListenerDrain.drain(spark.sparkContext)
      SoakRun(name, sec, mb(listener.maxInput), mb(listener.maxShuffleRead),
        ok, System.nanoTime() / 1e9)
    }
    // spaced adjudication rep (VERDICT r13 #1 — the wh_loop/soak families
    // were the last without the sweep's self-adjudication witness): any
    // entry above 3× its COMMITTED-round seconds re-runs after the whole
    // family has passed (minutes of gap), so a single steal/writeback
    // window can't cover both reps — the artifact entry then carries
    // rep2 + the measured gap + the committed baseline, and "steal vs
    // regression" is decidable from this file alone.
    val rerun: Map[String, (Double, Double)] = first
      .filter(e => e.ok && committed.get(e.name).exists(c => e.sec > 3 * c))
      .map { e =>
        // enforce REAL temporal spacing (ADVICE r14 #2): an entry late in
        // the family order would otherwise re-run with near-zero gap, and
        // one steal window could cover both reps — exactly what the
        // spaced rep exists to rule out. Waiting out the remainder costs
        // ≤ Reps.SoakMinGapSec and only when an entry actually tripped 3×.
        val gap0 = System.nanoTime() / 1e9 - e.endT
        if (gap0 < Reps.SoakMinGapSec)
          Thread.sleep(((Reps.SoakMinGapSec - gap0) * 1000).toLong)
        val gap = System.nanoTime() / 1e9 - e.endT
        val t0 = System.nanoTime()
        try SparkEntry.queries(e.name)(spark, dir).count()
        catch { case _: Throwable => () }
        e.name -> ((System.nanoTime() - t0) / 1e9, gap)
      }.toMap
    spark.sparkContext.removeSparkListener(listener)
    val r1d = (d: Double) => math.rint(d * 10) / 10
    val entries = first.map { e =>
      val extra = new StringBuilder
      committed.get(e.name).foreach(c => extra ++= s""","committed_sec":${r1d(c)}""")
      rerun.get(e.name).foreach { case (s2, gap) =>
        extra ++= s""","rep2_sec":${r1d(s2)},"gap_sec":${r1d(gap)}"""
      }
      val failStr = if (e.ok) "" else ",\"fail\":true"
      s""""${e.name}":{"sec":${r1d(e.sec)},"max_task_in_mb":${e.inMb},"max_task_shuf_mb":${e.shufMb}$extra$failStr}"""
    }
    s"""{"copies":$copies,${entries.mkString(",")}}"""
  }

  /** Shared temp-dir cleanup (also used by the bench probes and the
    * fixture-warehouse shutdown hook — one hardening site, not three copies). */
  private[graft] def deleteRecursively(path: String): Unit = {
    import java.nio.file.{Files, Paths}
    import java.util.Comparator
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // last COMMITTED headline, read BEFORE this run overwrites it — the
    // adjudication baselines for the wh_loop/soak/ETL families (the same
    // role BENCH_QUERIES_FULL.json plays for the sweep). A smoke run
    // clobbers it, so real runs `git checkout` the BENCH files first
    // (BENCH_NOTES workflow).
    // SF GATE (r15, closing the contamination path the workflow rule
    // alone guarded): a smoke run at another scale factor writes
    // BENCH_LAST/BENCH_QUERIES_FULL, and a later real run would read
    // its values as "committed" — every 3× adjudication threshold then
    // compares sf0.1 seconds against sf0.001 baselines. The artifact
    // carries its own "sf", so baselines from a different corpus are
    // structurally ignored (BENCH_QUERIES_FULL has no sf field of its
    // own, but it is written by the same run as BENCH_LAST, whose sf
    // vouches for both).
    val committedLast: Option[com.fasterxml.jackson.databind.JsonNode] = {
      val raw =
        try Some(new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(new java.io.File("BENCH_LAST.json")))
        catch { case _: Exception => None }
      raw.filter(r => Option(r.get("sf")).exists(_.asText() == sfDir))
    }
    def committedKey(keys: String*): Option[Double] =
      committedLast.flatMap { root =>
        var n: com.fasterxml.jackson.databind.JsonNode = root
        keys.foreach(k => if (n != null) n = n.get(k))
        Option(n).filter(_.isNumber).map(_.asDouble())
      }
    val committedSoakSec: Map[String, Double] = committedLast
      .flatMap(r => Option(r.get("soak"))).map { s =>
        import scala.jdk.CollectionConverters._
        s.fieldNames().asScala
          .filter(n => s.get(n).isObject && s.get(n).has("sec"))
          .map(n => n -> s.get(n).get("sec").asDouble()).toMap
      }.getOrElse(Map.empty)

    // fixed-size scan target for the calibration probe (constant across SFs)
    val calDir = java.nio.file.Files.createTempDirectory("graft-bench-cal").toString
    spark.range(20000000L).selectExpr("id", "hash(id) as v") // int: 20M-row sum fits a long under ANSI
      .repartition(8).write.mode("overwrite").parquet(s"$calDir/cal.parquet")
    // discarded warm-up: cal_pre's job is to measure ENVIRONMENT drift vs
    // cal_post, but on a fresh JVM the first probe also pays one-time JIT
    // (hashLoop) and first-parquet-job costs (codegen, scheduler spin-up) —
    // a systematic pre>post bias that reads as "dirty run" (r10's driver
    // artifact: scan probe 1.55s pre vs 0.26s post on an otherwise-clean
    // box). Pay those costs once here so pre≈post is the honest clean-run
    // signature and a genuinely taxed environment still shows up.
    Probes.calibrate(spark, s"$calDir/cal.parquet")
    val (calPreSt, calPre) = Probes.calibrate(spark, s"$calDir/cal.parquet")
    // per-rep CPU-stall threshold from THIS run's warm single-thread
    // baseline: the microprobe runs CpuProbeIters/CalIters of the cal
    // kernel, and 2× that is the "a steal window sat on this rep" line
    // (one shared formula site — ADVICE r15)
    Probes.setCpuStallThreshold(calPreSt)

    // era parse throughput (BASELINE.md blocks/s): decode a synthetic era
    // corpus end-to-end (scan → decompress → SSZ decode → nested-block
    // rows). Measured FIRST on a clean heap — after the query sweep,
    // accumulated garbage adds multi-second GC noise.
    //
    // Two corpora: the original 128-file/64-block mix feeds the ETL and
    // attestation-explode metrics (comparable to earlier rounds), while
    // THROUGHPUT is measured on an 8× deeper corpus (512 blocks/file —
    // ~16k blocks per fork). At 64 blocks/file a per-fork measurement
    // finished in ~0.3 s, i.e. it was timing Spark's job-scheduling
    // overhead, not the decoder — which is exactly the ±2× round-to-round
    // "regression" BENCH_NOTES kept relitigating.
    val (eraDir, _) = graft.testkit.BenchEras.ensureGenerated()
    val records = spark.read.format("era").load(eraDir)
    val (eraDirDeep, _) = graft.testkit.BenchEras.ensureGenerated(
      dir = "target/bench-eras-deep", filesPerFork = 32, blocksPerFile = 512)
    val recordsDeep = spark.read.format("era").load(eraDirDeep)
    var decoded = 0L
    System.gc()
    val decodeSec = best(4) {
      decoded = graft.operators.Normalizer.decodeBlocks(recordsDeep).count()
    }
    // in-rep CPU sampler SELF-TAX, measured once per run (VERDICT r15 #3):
    // the same fixed decode job best-of-2 with the sampler OFF then ON —
    // proves in-artifact that the daemon thread is (or is not) a
    // round-to-round drift mechanism rather than asserting it cancels.
    // Measured on this box: the sampler burns 1 of 32 cores, so the
    // expected tax is ~3% — see BENCH_NOTES.
    val samplerTax: (Double, Double) = {
      def job(): Unit = {
        graft.operators.Normalizer.decodeBlocks(records).count(); ()
      }
      job() // warm: first era scan pays codegen/scheduler spin-up
      val off = best(2)(job())
      val smp = new Probes.CpuSampler
      val on = best(2)(job())
      smp.stop()
      (off, on)
    }

    var attRows = 0L
    val explodeSec = best(4) {
      attRows = graft.operators.Normalizer
        .attestations(graft.operators.Normalizer.decodeBlocks(records)).count()
    }

    // decode-side column pruning (r13, SURVEY §4's last optional pushdown):
    // single-table extract through the section-pruned decode vs through the
    // full decode, on the same deep corpus as the decode headline — the
    // measured multiple a header-only scan gains when it skips the other
    // 14 sections' parse (the reference always computes all 15 datasets and
    // keeps one — processor.py:401-404)
    var prunedBlocks = 0L
    System.gc()
    val prunedSec = best(3) {
      prunedBlocks = graft.operators.Normalizer
        .datasetPruned(recordsDeep, "blocks").count()
    }
    val fullSingleSec = best(3) {
      graft.operators.Normalizer.blocksTable(
        graft.operators.Normalizer.decodeBlocks(recordsDeep)).count()
    }

    // per-fork decode throughput — directly comparable to BASELINE.md's
    // per-fork blocks/s table, all six rows (fork ↔ era number of its
    // fixture corpus; bellatrix/electra are the reshaped synthetics)
    val forkEras = Seq("phase0" -> 0L, "altair" -> 11L, "bellatrix" -> 756L,
      "capella" -> 1267L, "deneb" -> 1999L, "electra" -> 2613L)
    val perFork = forkEras.map { case (fork, era) =>
      val f = spark.read.format("era").load(f"$eraDirDeep/gnosis-$era%05d-*.era")
      var n = 0L
      System.gc() // isolate each fork's best-of from the previous fork's garbage
      val sec = best(3) { n = graft.operators.Normalizer.decodeBlocks(f).count() }
      fork -> (n / sec)
    }
    // full 15-table extract + parquet sink — on the SAME 12-era deep corpus
    // as the decode metric (98,304 blocks), decode STAGED to parquet once
    // and 16 CONCURRENT table writes over column-pruned stage scans.
    // This is StagedExport.exportAll, the function the CLI's `all-blocks
    // --separate` calls. Alternatives measured on local[32] while they
    // still existed in the program: cached-decode +
    // sequential writes 1.9k blocks/s, cached + 16 concurrent 2.1-3.5k
    // (every job re-deserializes the full cached `body` column — the cache
    // stores the struct as ONE column, so pruning can't help), splayed
    // in-memory cache 4.0-4.6k; parquet staging 11-13.6k: nested-schema
    // pruning reaches each job's scan, so a tiny table's job reads only
    // its own body.<child> column chunks (vectorized), and the staged
    // corpus — unlike executor cache — survives any corpus:memory ratio,
    // which is also why it is the 100 TB shape. Stage coalesced to 32
    // files so the 16 fan-out jobs emit ≤32 files per table.
    val etlBlocks = graft.operators.Normalizer.decodeBlocks(recordsDeep).count()
    // three full runs, artifact = the BEST run's numbers as one consistent
    // set (this sandbox's write path occasionally stalls 10-20× on page-
    // cache writeback — the per-table/stage breakdown must describe the
    // run the headline etl_15table_sec came from, not whichever ran last).
    // Rep 1 stages to DISK (the I/O witness); reps 2–3 stage to tmpfs when
    // available so the headline is the COMPUTE-bound number the 100 TB
    // plan argument actually needs — 2 of 3 disk reps stalled on page-
    // cache writeback in the r13 driver artifact (VERDICT r13 #3). Every
    // rep is additionally bracketed by the fixed-size write probe, so a
    // stalled rep is labeled per-rep in the artifact.
    val shmDir = new java.io.File("/dev/shm")
    val useShm = shmDir.isDirectory &&
      shmDir.getUsableSpace > 16L * 1024 * 1024 * 1024
    def scratchDir(fs: String, prefix: String): String =
      if (fs == "shm")
        java.nio.file.Files.createTempDirectory(shmDir.toPath, prefix).toString
      else java.nio.file.Files.createTempDirectory(prefix).toString
    val etlFs = if (useShm) Seq("disk", "shm", "shm") else Seq("disk", "disk", "disk")
    case class EtlRun(rep: ProbedRep, stageSec: Double,
        per: Map[String, (Long, Double)], stageMbps: Double, fs: String,
        fsyncPreMs: Double, fsyncPostMs: Double)
    def runEtlRep(fs: String): EtlRun = {
      val pre = Probes.writeProbeMbps(spark)
      val cpre = Probes.cpuProbeSec()
      val sampler = new Probes.CpuSampler
      val steal0 = Probes.stealTicks()
      val stage = scratchDir(fs, "graft-bench-stage")
      val etlOut = scratchDir(fs, "graft-bench-etl")
      // raw write+fsync latency on the REP'S OWN filesystem (VERDICT r16
      // #2: the Spark write probe always lands on default tmp, so a tmpfs
      // rep's filesystem was never probed — r16's two 68 s shm reps read
      // "none" with healthy /tmp probes)
      val fsyncPre = Probes.fsyncProbeMs(stage)
      val t0 = System.nanoTime()
      val per = graft.export.StagedExport.exportAll(
        graft.operators.Normalizer.decodeBlocks(recordsDeep),
        s"$stage/blocks", s"$etlOut/out.parquet")
      // stop the clock BEFORE the multi-GB stage delete: the timed window
      // covers only the export, not filesystem teardown
      val sec = (System.nanoTime() - t0) / 1e9
      // stage time = total − the concurrent fan-out window (per-table max)
      val stageSec = sec - per.values.map(_._2).max
      // write-throughput witness for THIS run: a rep that hit the sandbox's
      // writeback stall carries a visibly collapsed MB/s next to its seconds
      val steal1 = Probes.stealTicks()
      val stageMbps = dirBytes(stage) / 1e6 / math.max(0.001, stageSec)
      val fsyncPost = Probes.fsyncProbeMs(stage)
      val (cmid, cmidMax) = sampler.stop()
      deleteRecursively(stage); deleteRecursively(etlOut)
      val cpost = Probes.cpuProbeSec()
      val post = Probes.writeProbeMbps(spark)
      EtlRun(ProbedRep(sec, pre, post, cpre, cpost, cmid, cmidMax,
        Probes.stealCoresOver(steal0, steal1, sec)), stageSec, per, stageMbps, fs,
        fsyncPre, fsyncPost)
    }
    val etlRuns0 = etlFs.map(runEtlRep)
    // headline = fastest CLEAN rep (write AND cpu probes healthy); a
    // faster stall-labeled rep stays visible in etl_runs_* but never
    // becomes the field a round comparison starts from. The final
    // selection happens AFTER the optional committed-ratio rep4 below;
    // this early pick only decides whether rep4 is needed.
    def etlDispersionOf(runs: Seq[EtlRun]): Seq[Boolean] = {
      val minSec = runs.map(_.rep.sec).min
      runs.map(r => r.rep.sec > Reps.EtlDispersionRatio * minSec)
    }
    def etlBestOf(runs: Seq[EtlRun]): EtlRun =
      Reps.bestClean(runs.zip(etlDispersionOf(runs)))(
        _._1.rep.sec, { case (r, disp) => r.rep.stalled || disp })._1
    val etlSecPre = etlBestOf(etlRuns0).rep.sec
    val etlCommitted = committedKey("etl_15table_sec")
    val etlNeedsRep4 =
      etlCommitted.exists(c => etlSecPre > Reps.WhCommittedRatio * c)

    // the per-era WAREHOUSE loop end to end (resume anti-join → per-era
    // stage → dynamic partition overwrites → completion commit) on the
    // standard corpus — the reference's production contract measured as a
    // whole, state bookkeeping included, not just the raw fan-out. Each
    // rung runs ONE rep here and a SPACED second rep after the query sweep
    // (VERDICT r13 #1: these were the last families whose slow readings
    // needed the builder's committed run to adjudicate), and every rep is
    // bracketed by the fixed-size write probe so a writeback stall labels
    // itself in-artifact.
    def whRep(corpusDir: String, eras: Seq[Long]): ProbedRep = {
      val pre = Probes.writeProbeMbps(spark)
      val cpre = Probes.cpuProbeSec()
      val sampler = new Probes.CpuSampler
      val steal0 = Probes.stealTicks()
      val root = java.nio.file.Files.createTempDirectory("graft-bench-wh").toString
      val state = java.nio.file.Files.createTempDirectory("graft-bench-whstate").toString
      val t0 = System.nanoTime()
      val done = graft.export.IncrementalExporter.runWarehouse(spark,
        new graft.export.EraStateManager(spark, state), "gnosis",
        eras, root) { era =>
        spark.read.format("era").load(f"$corpusDir/gnosis-$era%05d-*.era")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val steal1 = Probes.stealTicks()
      val (cmid, cmidMax) = sampler.stop()
      deleteRecursively(root); deleteRecursively(state)
      require(done == eras, s"warehouse loop skipped eras: $done vs $eras")
      val cpost = Probes.cpuProbeSec()
      val post = Probes.writeProbeMbps(spark)
      ProbedRep(sec, pre, post, cpre, cpost, cmid, cmidMax,
        Probes.stealCoresOver(steal0, steal1, sec))
    }
    val whEras = new java.io.File(eraDir).listFiles().toSeq
      .filter(_.getName.endsWith(".era"))
      .map(_.getName.split("-")(1).toLong).distinct.sorted
    val whBlocks = graft.operators.Normalizer.decodeBlocks(records).count()
    val whRep1 = whRep(eraDir, whEras)

    // the same loop at PRODUCTION era geometry (8,192 slots/era —
    // config/networks.py:6): the standard corpus's 2,048-block eras make
    // the loop's fixed ~2.7 s/era bookkeeping dominate, which r12 could
    // only argue amortizes; this rung measures it. 6 forks × 1 file ×
    // 8,192 blocks = 6 eras / 49,152 blocks — the per-era protocol cost
    // spreads over 4× the blocks, so blocks/s should sit within ~2× of
    // the staged bulk rate (etl_blocks_per_sec) instead of 20× under it.
    val (prodEraDir, _) = graft.testkit.BenchEras.ensureGenerated(
      dir = "target/bench-eras-prod", filesPerFork = 1, blocksPerFile = 8192)
    val whProdEras = new java.io.File(prodEraDir).listFiles().toSeq
      .filter(_.getName.endsWith(".era"))
      .map(_.getName.split("-")(1).toLong).distinct.sorted
    val whProdBlocks = whProdEras.size * 8192L
    val whProdRep1 = whRep(prodEraDir, whProdEras)
    val whRep1EndT = System.nanoTime() / 1e9

    // the graph family's shared edge-frame build, timed as its OWN key
    // BEFORE the sweep — previously this cost landed on whichever graph
    // query the sweep ran first, which made cc read 3× slow for two
    // rounds (VERDICT r13 #5; the cold-bill decomposition in BENCH_NOTES.md)
    var graphEdgeCount = 0L
    val graphEdgeBuildSec = timed(1) {
      graphEdgeCount = graft.queries.Behavioral.prewarmGraphFrames(spark, sfDir)
    }.head

    // the query-serving IVF index BUILD as its own key (VERDICT r14 #8,
    // parallel to graph_edge_build_sec): cell assignment of the whole
    // corpus at the sample-bounded k_q — so build vs query cost never
    // re-entangles inside sim_topk_ivf's sweep number
    var ivfBuildRows = 0L
    val ivfBuildSec = timed(1) {
      ivfBuildRows = graft.operators.Similarity.ivfIndexBuild(
        spark.read.parquet(s"$sfDir/embeddings.parquet")).count()
    }.head

    // the OCCUPANCY-pinned index build (k = centroidCount(N) — the pair
    // families' discipline) as its own key, parallel to sim_ivf_build_sec
    // (VERDICT r15 #1): the two build disciplines never re-entangle
    // inside a pair query's sweep number, and the deep ramp's forced
    // hierarchical rung (sim_ivf_twolevel) measures this same path at
    // 512× where k = 500 exercises the log-tree
    var occBuildRows = 0L
    val occBuildSec = timed(1) {
      occBuildRows = graft.operators.Similarity.occIndexBuild(
        spark.read.parquet(s"$sfDir/embeddings.parquet")).count()
    }.head

    // ── the query sweep: TEMPORALLY-SPACED reps (r13) ──────────────────
    // r12's witness failed its first real test: best-of-2 reps ran
    // back-to-back, so one multi-minute CPU-steal window (this sandbox's
    // documented ~20-min cadence) ate both reps of five queries and the
    // artifact read as a genuine 6× regression with cold == best. Now:
    //  - pass 1 (cold): every query once, in sorted order; sub-second
    //    queries take their second rep immediately (scheduling noise
    //    dominates them — spacing buys nothing);
    //  - pass 2 (spaced): every >1s query re-runs only after pass 1 has
    //    visited the whole registry, minutes later — one steal window can
    //    no longer cover both reps of the same query, and each entry
    //    records the measured gap;
    //  - pass 3 (adjudication): a query whose two reps AGREE (<20%) but
    //    sit above 3× its committed-round baseline (the tracked
    //    BENCH_QUERIES_FULL.json, read BEFORE this run overwrites it)
    //    takes a third rep at the very end — so "steal" vs "regression"
    //    is decidable from this artifact alone, no out-of-band run needed.
    val committedBaseline: Map[String, Double] =
      // same SF gate as committedLast: the two files are written by the
      // same run, so BENCH_LAST's sf vouches for the per-query map too —
      // an empty committedLast (missing file OR sf mismatch) disables
      // per-query adjudication rather than adjudicating cross-scale
      if (committedLast.isEmpty) Map.empty
      else readQueryMap("BENCH_QUERIES_FULL.json")
    // the committed NOOP-arm map (same SF vouching as the count map — both
    // are written by the run BENCH_LAST.json describes), promoting the
    // noop arm from "numbers exist" to ADJUDICATED: a noop reading 3× its
    // committed value takes a spaced third rep exactly like the count arm
    val committedNoopBaseline: Map[String, Double] =
      if (committedLast.isEmpty) Map.empty
      else readQueryMap("BENCH_QUERIES_NOOP.json")
    def runOnce(name: String): Double =
      try {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => -1.0 }
    val sweepNames = SparkEntry.queries.keys.toSeq.sorted
    // ONE rep-discipline loop shared by both sweep arms (count and noop):
    // pass 1 over every query, immediate rep2 for ≤ 1 s queries, spaced
    // rep2 for the rest (the spacing is the remainder of pass 1). Any
    // future change to the discipline lands in both arms by construction.
    def sweepPass(run: String => Double): (
        scala.collection.mutable.Map[String, List[Double]],
        scala.collection.mutable.Map[String, Double]) = {
      val rs = scala.collection.mutable.Map[String, List[Double]]()
      val ends = scala.collection.mutable.Map[String, Double]() // pass-1 end ts
      val gs = scala.collection.mutable.Map[String, Double]()
      sweepNames.foreach { n =>
        var c = run(n)
        // one immediate retry on failure (ADVICE r16): a single transient
        // error used to be final — no branch gave a failed query a second
        // rep, so -1 landed in the tracked map unchallenged
        if (c < 0) c = run(n)
        rs(n) = List(c)
        ends(n) = System.nanoTime() / 1e9
        if (c >= 0 && c <= 1.0) rs(n) = rs(n) :+ run(n)
      }
      sweepNames.filter(n => rs(n).head > 1.0).foreach { n =>
        gs(n) = System.nanoTime() / 1e9 - ends(n)
        rs(n) = rs(n) :+ run(n)
      }
      (rs, gs)
    }
    def minFold(rs: scala.collection.Map[String, List[Double]]): Map[String, Double] =
      sweepNames.map { n =>
        val ok = rs(n).filter(_ >= 0)
        n -> (if (ok.isEmpty) -1.0 else ok.min)
      }.toMap
    val (reps, gaps) = sweepPass(runOnce)
    val spacedNames = sweepNames.filter(n => reps(n).head > 1.0)
    val thirdRep = spacedNames.filter { n =>
      val rs = reps(n).take(2)
      rs.size == 2 && rs.forall(_ >= 0) && {
        val (a, b) = (rs(0), rs(1))
        val agree = math.abs(a - b) / math.max(1e-9, math.min(a, b)) < 0.2
        agree && math.min(a, b) >
          3 * committedBaseline.getOrElse(n, Double.MaxValue)
      }
    }
    thirdRep.foreach(n => reps(n) = reps(n) :+ runOnce(n))
    val results: Map[String, Double] = minFold(reps)
    val sweepCold: Map[String, Double] = sweepNames.map(n => n -> reps(n).head).toMap

    // NOOP-SINK sweep arm (r16, guide §1.4): count() lets the optimizer
    // prune unreferenced aggregate expressions and projections — a
    // groupBy(k).agg(sum(x)) under count() plans as a distinct-key count
    // and the sums never execute (measured on this corpus: agg_percentile
    // 3.2×, evt_markov_chain 1.6×, agg_pricing 1.5× count→noop;
    // BENCH_NOTES.md). The noop sink computes every column of every row,
    // so these per-query seconds are the honest expression-inclusive
    // numbers. ADDITIVE, not a replacement: the count-based `queries`/
    // `value` keys keep their 16-round methodology and comparability; the
    // noop arm rides as `noop_total` + the tracked full map. Same rep
    // discipline as the count arm (immediate rep2 ≤ 1 s, spaced rep2
    // above — the spacing is the rest of pass 1), minus the committed
    // adjudication (no committed noop baseline exists before this round).
    // Kill switch: SPARK_GRAFT_NOOP=0.
    def runOnceNoop(name: String): Double =
      try {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => -1.0 }
    // kill switch accepts the common falsy spellings (ADVICE r16: only the
    // exact string "0" used to disarm — =false/off silently ran the arm)
    val noopDisabled = sys.env.get("SPARK_GRAFT_NOOP")
      .exists(v => Set("0", "false", "off", "no").contains(v.toLowerCase))
    val noopResults: Map[String, Double] =
      if (noopDisabled) Map.empty
      else {
        spark.sparkContext.setJobDescription("sweep: noop-sink arm")
        val (nreps, _) = sweepPass(runOnceNoop)
        // committed-baseline adjudication, same discipline as the count
        // arm (VERDICT r16 #1): two agreeing reps above 3× the committed
        // noop value take a third rep, so "steal window" vs "regression"
        // is decidable from this artifact alone
        sweepNames.filter { n =>
          val rs = nreps(n).take(2)
          rs.size == 2 && rs.forall(_ >= 0) && {
            val (a, b) = (rs(0), rs(1))
            math.abs(a - b) / math.max(1e-9, math.min(a, b)) < 0.2 &&
              math.min(a, b) >
                3 * committedNoopBaseline.getOrElse(n, Double.MaxValue)
          }
        }.foreach(n => nreps(n) = nreps(n) :+ runOnceNoop(n))
        spark.sparkContext.setJobDescription(null)
        minFold(nreps)
      }

    // SPACED second wh_loop reps: the whole query sweep ran in between
    // (minutes of gap), so one steal/writeback window cannot cover both
    // reps of a rung — the same discipline the sweep itself uses
    val whGapSec = System.nanoTime() / 1e9 - whRep1EndT
    val whRep2 = whRep(eraDir, whEras)
    val whProdRep2 = whRep(prodEraDir, whProdEras)
    // same clean-preference as the ETL headline: a stall-labeled rep can
    // only win when both reps are labeled
    // committed-baseline adjudication for the wh family (VERDICT r15 #3:
    // wh_loop_prod drifted −19% across clean-labeled committed runs with
    // nothing in-artifact to adjudicate it): a clean best above
    // Reps.WhCommittedRatio × the committed value takes a THIRD rep after
    // the soak/ramp sections below (more minutes of spacing), and the
    // ratio itself rides the artifact as wh_*_committed_ratio.
    val whSecPre = Reps.bestClean(Seq(whRep1, whRep2))(_.sec, _.stalled).sec
    val whProdSecPre =
      Reps.bestClean(Seq(whProdRep1, whProdRep2))(_.sec, _.stalled).sec
    val whCommitted = committedKey("wh_loop_sec")
    val whProdCommitted = committedKey("wh_loop_prod_sec")
    val whNeedsRep3 =
      whCommitted.exists(c => whSecPre > Reps.WhCommittedRatio * c)
    val whProdNeedsRep3 =
      whProdCommitted.exists(c => whProdSecPre > Reps.WhCommittedRatio * c)

    // skewed-corpus soak (disable with SPARK_GRAFT_SOAK=0)
    val soakJson =
      if (sys.env.get("SPARK_GRAFT_SOAK").contains("0")) "{}"
      else try soak(spark, sfDir, copies = 5, committedSoakSec)
      catch { case e: Throwable => s"""{"error":"${e.getClass.getSimpleName}"}""" }

    // self-scaled 1×/8×/64× ramp (disable with SPARK_GRAFT_RAMP=0)
    val rampJson =
      if (sys.env.get("SPARK_GRAFT_RAMP").contains("0")) "{}"
      else try Ramp.ramp(spark, sfDir)
      catch { case e: Throwable => s"""{"error":"${e.getClass.getSimpleName}"}""" }

    // era-domain scale ramp (shares the SPARK_GRAFT_RAMP=0 kill switch)
    val eraRampJson =
      if (sys.env.get("SPARK_GRAFT_RAMP").contains("0")) "{}"
      else try EraRamp.eraRamp(spark)
      catch { case e: Throwable => s"""{"error":"${e.getClass.getSimpleName}"}""" }

    // committed-ratio-triggered THIRD wh reps (spaced past soak + both
    // ramps — tens of minutes from rep2, so one steal window cannot cover
    // all three)
    val whRep3 = if (whNeedsRep3) Some(whRep(eraDir, whEras)) else None
    val whProdRep3 =
      if (whProdNeedsRep3) Some(whRep(prodEraDir, whProdEras)) else None

    // committed-ratio-triggered FOURTH ETL rep (VERDICT r16 #2 — the same
    // wh-style gate: a clean best above WhCommittedRatio × the committed
    // headline re-measures tens of minutes later, so the round comparison
    // never starts from one bad window). Runs on the headline filesystem.
    val etlRuns =
      if (etlNeedsRep4) etlRuns0 :+ runEtlRep(if (useShm) "shm" else "disk")
      else etlRuns0
    val etlDispersion = etlDispersionOf(etlRuns)
    val etlBest = etlBestOf(etlRuns)
    val (etlSec, etlStageSec, etlPerTable, etlStageMbps, etlBestFs) =
      (etlBest.rep.sec, etlBest.stageSec, etlBest.per, etlBest.stageMbps, etlBest.fs)
    // the disk rep is the I/O witness even when a tmpfs rep wins the headline
    val etlDiskSec = etlRuns.filter(_.fs == "disk").map(_.rep.sec).min
    val whSec = Reps.bestClean(Seq(whRep1, whRep2) ++ whRep3)(_.sec, _.stalled).sec
    val whProdSec = Reps.bestClean(
      Seq(whProdRep1, whProdRep2) ++ whProdRep3)(_.sec, _.stalled).sec

    // second decode measurement AFTER the sweep+soak: pre/post decode drift
    // on identical code+data within one process bounds the within-run noise.
    System.gc()
    var decoded2 = 0L
    val decodeSec2 = best(3) {
      decoded2 = graft.operators.Normalizer.decodeBlocks(recordsDeep).count()
    }
    val (_, calPost) = Probes.calibrate(spark, s"$calDir/cal.parquet")

    // The driver captures only a bounded tail of stdout (~2k chars): the
    // r6 line with all 125 full-precision per-query entries was 4.4k and got
    // cut mid-stream (BENCH_r06 `parsed: null`). Keep the final JSON line
    // compact — 3-decimal seconds, only the slowest queries inline, the rest
    // summarized — and write the complete full-precision map to a file whose
    // path the line carries.
    def r3(d: Double): Double = math.rint(d * 1000) / 1000
    def r1(d: Double): Double = math.rint(d * 10) / 10
    def jsonMap(m: Map[String, Double]): String =
      m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val fullQs = jsonMap(results)
    // tracked repo path (not target/) so the committed artifact carries the
    // complete map — the r8 headline's -1 entries were only verifiable from
    // an untracked file.
    val fullPath = new java.io.File("BENCH_QUERIES_FULL.json").getAbsolutePath
    java.nio.file.Files.writeString(java.nio.file.Paths.get(fullPath), fullQs)
    // the noop-arm full-precision map rides its own tracked file (same
    // contract as BENCH_QUERIES_FULL.json — committed so the artifact
    // carries the complete map, path referenced from the headline). The
    // `_paired_count_total` fingerprint records WHICH count-arm run this
    // map belongs to: a SPARK_GRAFT_NOOP=0 run rewrites the FULL map but
    // not this file, and without the fingerprint the two tracked
    // artifacts could silently describe different runs.
    val noopPath = new java.io.File("BENCH_QUERIES_NOOP.json").getAbsolutePath
    if (noopResults.nonEmpty)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(noopPath),
        jsonMap(noopResults + ("_paired_count_total" ->
          (math.rint(results.values.filter(_ >= 0).sum * 1000) / 1000))))
    // the COMPLETE per-query map also goes to stdout as reassemblable
    // chunked marker lines (each well under any line-length cut) printed
    // BEFORE the headline, so the headline stays last even if the driver
    // keeps only a stdout tail; a driver that keeps more gets the full map
    // by concatenating the chunk payloads in order.
    val chunks = fullQs.grouped(1500).toSeq
    chunks.zipWithIndex.foreach { case (c, i) =>
      println(s"BENCH_JSON:${i + 1}/${chunks.size}:$c")
    }
    val topN = 30
    val sorted = results.toSeq.sortBy(-_._2)
    val top = sorted.take(topN)
    val rest = sorted.drop(topN)
    val qs = top.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // cold-vs-best for every query whose steady state exceeds 3 s, now
    // carrying the SPACED second rep, its measured gap back to the first,
    // the committed-round baseline, and (when adjudication fired) the
    // third rep — a 6× reading with two agreeing spaced reps and a third
    // is a regression; disagreeing reps name the steal window themselves
    val coldJson = sweepNames.filter(n => results(n) > 3.0)
      .sortBy(n => -results(n))
      .map { n =>
        val rs = reps(n)
        val extra = new StringBuilder
        if (rs.size >= 2) extra ++= s""","rep2":${r3(rs(1))}"""
        if (rs.size >= 3) extra ++= s""","rep3":${r3(rs(2))}"""
        gaps.get(n).foreach(g => extra ++= s""","gap_sec":${r3(g)}""")
        committedBaseline.get(n).foreach(b =>
          extra ++= s""","committed":${r3(b)}""")
        s""""$n":{"cold":${r3(sweepCold(n))},"best":${r3(results(n))}$extra}"""
      }.mkString("{", ",", "}")
    val forkJsonCompact = perFork
      .map { case (f, bps) => s""""$f":${r1(bps)}""" }.mkString("{", ",", "}")
    // failed queries keep their -1 sentinel in `queries` but must not
    // subtract from the headline total
    val total = results.values.filter(_ >= 0).sum
    val headline =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","sf":"$sfDir"""" +
        s""","n_queries":${results.size},"queries":$qs""" +
        s""","queries_omitted":${rest.size}""" +
        s""","queries_omitted_sec":${r3(rest.map(_._2).filter(_ >= 0).sum)}""" +
        s""","slow_queries_cold_vs_best":$coldJson""" +
        s""","full_queries_json":"$fullPath"""" +
        (if (noopResults.isEmpty) "" else {
          val nt = noopResults.values.filter(_ >= 0).sum
          // the ratio compares sums over the INTERSECTION of queries that
          // succeeded in BOTH arms — a query failing in exactly one arm
          // must not skew it (noop executes strictly more work and can
          // fail where count() succeeded)
          val both = sweepNames.filter(n =>
            noopResults.getOrElse(n, -1.0) >= 0 && results.getOrElse(n, -1.0) >= 0)
          val ct = both.map(results).sum
          // committed-ratio over the intersection of queries present in
          // the committed noop map and succeeding now — the wh-style gate
          // (VERDICT r16 #1) that makes round-over-round noop comparison
          // adjudicable from the artifact
          val commonNoop = sweepNames.filter(n =>
            noopResults.getOrElse(n, -1.0) >= 0 &&
              committedNoopBaseline.getOrElse(n, -1.0) >= 0)
          val noopCommittedTotal = commonNoop.map(committedNoopBaseline).sum
          val noopCommittedRatio =
            if (noopCommittedTotal <= 0) -1.0
            else commonNoop.map(noopResults).sum / noopCommittedTotal
          s""","noop_total":${r3(nt)},"queries_noop_json":"$noopPath"""" +
            s""","noop_over_count":${r3(both.map(noopResults).sum / math.max(1e-9, ct))}""" +
            s""","noop_failed":${noopResults.values.count(_ < 0)}""" +
            s""","noop_committed_total":${r3(noopCommittedTotal)}""" +
            s""","noop_committed_ratio":${r3(noopCommittedRatio)}"""
        }) +
        s""","era_blocks":$decoded,"era_decode_sec":${r3(decodeSec)}""" +
        s""","blocks_per_sec":${r1(decoded / decodeSec)}""" +
        s""","blocks_per_sec_rerun":${r1(decoded2 / decodeSec2)}""" +
        s""","cal_pre":$calPre,"cal_post":$calPost""" +
        s""","attestation_rows":$attRows,"attestation_rows_per_sec":${r1(attRows / explodeSec)}""" +
        s""","blocks_per_sec_by_fork":$forkJsonCompact""" +
        s""","pruned_blocks_per_sec":${r1(prunedBlocks / prunedSec)}""" +
        s""","fullsingle_blocks_per_sec":${r1(prunedBlocks / fullSingleSec)}""" +
        s""","decode_prune_speedup":${r3(fullSingleSec / prunedSec)}""" +
        s""","etl_15table_sec":${r3(etlSec)},"etl_blocks_per_sec":${r1(etlBlocks / etlSec)}""" +
        s""","etl_stage_sec":${r3(etlStageSec)}""" +
        s""","etl_stage_mbps":${r1(etlStageMbps)}""" +
        s""","etl_best_fs":"$etlBestFs","etl_disk_sec":${r3(etlDiskSec)}""" +
        s""","etl_runs_sec":[${etlRuns.map(r => r3(r.rep.sec)).mkString(",")}]""" +
        s""","etl_runs_fs":[${etlRuns.map(r => "\"" + r.fs + "\"").mkString(",")}]""" +
        s""","etl_runs_stage_mbps":[${etlRuns.map(r => r1(r.stageMbps)).mkString(",")}]""" +
        s""","etl_runs_probe_mbps":[${etlRuns.map(r => s"[${r1(r.rep.wpre)},${r1(r.rep.wpost)}]").mkString(",")}]""" +
        s""","etl_runs_cpu_probe_sec":[${etlRuns.map(r =>
          s"[${r3(r.rep.cpre)},${r3(r.rep.cmid)},${r3(r.rep.cmidMax)},${r3(r.rep.cpost)}]").mkString(",")}]""" +
        s""","etl_runs_stalled":[${etlRuns.map(_.rep.stalled).mkString(",")}]""" +
        s""","etl_runs_stall_kind":[${etlRuns.zip(etlDispersion).map { case (r, disp) =>
          val k = r.rep.stallKind
          val kd = if (disp && k == "none") "dispersion"
            else if (disp) k + "+dispersion" else k
          "\"" + kd + "\""
        }.mkString(",")}]""" +
        s""","etl_runs_fsync_ms":[${etlRuns.map(r => s"[${r.fsyncPreMs},${r.fsyncPostMs}]").mkString(",")}]""" +
        s""","etl_committed_ratio":${etlCommitted.map(c => r3(etlSec / c)).getOrElse(-1.0)}""" +
        s""","etl_rep4":$etlNeedsRep4""" +
        s""","etl_runs_steal_cores":[${etlRuns.map(r => r3(r.rep.stealCores)).mkString(",")}]""" +
        s""","cpu_probe_stall_sec":${r3(Probes.CpuProbeStallSec)}""" +
        s""","sampler_tax_off_sec":${r3(samplerTax._1)},"sampler_tax_on_sec":${r3(samplerTax._2)}""" +
        s""","etl_committed_sec":${committedKey("etl_15table_sec").map(r3).getOrElse(-1.0)}""" +
        s""","etl_disk_committed_sec":${committedKey("etl_disk_sec").map(r3).getOrElse(-1.0)}""" +
        s""","etl_blocks":$etlBlocks""" +
        s""","graph_edge_build_sec":${r3(graphEdgeBuildSec)}""" +
        s""","graph_edge_count":$graphEdgeCount""" +
        s""","sim_ivf_build_sec":${r3(ivfBuildSec)}""" +
        s""","sim_ivf_build_rows":$ivfBuildRows""" +
        s""","sim_occ_build_sec":${r3(occBuildSec)}""" +
        s""","sim_occ_build_rows":$occBuildRows""" +
        s""","wh_loop_sec":${r3(whSec)},"wh_loop_blocks_per_sec":${r1(whBlocks / whSec)}""" +
        s""","wh_loop_reps_sec":[${r3(whRep1.sec)},${r3(whRep2.sec)}]""" +
        s""","wh_loop_probe_mbps":[[${r1(whRep1.wpre)},${r1(whRep1.wpost)}],[${r1(whRep2.wpre)},${r1(whRep2.wpost)}]]""" +
        s""","wh_loop_cpu_probe_sec":[[${r3(whRep1.cpre)},${r3(whRep1.cmid)},${r3(whRep1.cmidMax)},${r3(whRep1.cpost)}],[${r3(whRep2.cpre)},${r3(whRep2.cmid)},${r3(whRep2.cmidMax)},${r3(whRep2.cpost)}]]""" +
        s""","wh_loop_reps_stall_kind":["${whRep1.stallKind}","${whRep2.stallKind}"]""" +
        s""","wh_loop_reps_steal_cores":[${r3(whRep1.stealCores)},${r3(whRep2.stealCores)}]""" +
        s""","wh_loop_committed_sec":${whCommitted.map(r3).getOrElse(-1.0)}""" +
        s""","wh_loop_committed_ratio":${whCommitted.map(c => r3(whSec / c)).getOrElse(-1.0)}""" +
        whRep3.map(r => s""","wh_loop_rep3_sec":${r3(r.sec)},"wh_loop_rep3_stall_kind":"${r.stallKind}"""").getOrElse("") +
        s""","wh_loop_eras":${whEras.size},"wh_loop_blocks":$whBlocks""" +
        s""","wh_loop_prod_sec":${r3(whProdSec)}""" +
        s""","wh_loop_prod_blocks_per_sec":${r1(whProdBlocks / whProdSec)}""" +
        s""","wh_loop_prod_reps_sec":[${r3(whProdRep1.sec)},${r3(whProdRep2.sec)}]""" +
        s""","wh_loop_prod_probe_mbps":[[${r1(whProdRep1.wpre)},${r1(whProdRep1.wpost)}],[${r1(whProdRep2.wpre)},${r1(whProdRep2.wpost)}]]""" +
        s""","wh_loop_prod_cpu_probe_sec":[[${r3(whProdRep1.cpre)},${r3(whProdRep1.cmid)},${r3(whProdRep1.cmidMax)},${r3(whProdRep1.cpost)}],[${r3(whProdRep2.cpre)},${r3(whProdRep2.cmid)},${r3(whProdRep2.cmidMax)},${r3(whProdRep2.cpost)}]]""" +
        s""","wh_loop_prod_reps_stall_kind":["${whProdRep1.stallKind}","${whProdRep2.stallKind}"]""" +
        s""","wh_loop_prod_reps_steal_cores":[${r3(whProdRep1.stealCores)},${r3(whProdRep2.stealCores)}]""" +
        s""","wh_loop_prod_committed_sec":${whProdCommitted.map(r3).getOrElse(-1.0)}""" +
        s""","wh_loop_prod_committed_ratio":${whProdCommitted.map(c => r3(whProdSec / c)).getOrElse(-1.0)}""" +
        whProdRep3.map(r => s""","wh_loop_prod_rep3_sec":${r3(r.sec)},"wh_loop_prod_rep3_stall_kind":"${r.stallKind}"""").getOrElse("") +
        s""","wh_loop_gap_sec":${r3(whGapSec)}""" +
        s""","wh_loop_prod_eras":${whProdEras.size},"wh_loop_prod_blocks":$whProdBlocks""" +
        s""","etl_per_table_sec":${etlPerTable.toSeq.sortBy(-_._2._2)
          .map { case (n, (_, s)) => s""""$n":${r3(s)}""" }.mkString("{", ",", "}")}""" +
        s""","soak":$soakJson,"ramp":$rampJson,"era_ramp":$eraRampJson}"""
    // the COMPLETE headline as a committed file: the driver's stdout tail
    // truncated away the decode/ETL keys in r11 — BENCH_LAST.json makes
    // every headline metric machine-readable in-repo regardless
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(new java.io.File("BENCH_LAST.json").getAbsolutePath),
      headline)
    println(headline)
    spark.stop()
    // the fixed-size calibration corpus is per-run scratch (~174 MB);
    // leaving it accumulates a dead dir per bench invocation on a box
    // whose writeback stalls worsen with /tmp residue
    deleteRecursively(calDir)
  }
}
