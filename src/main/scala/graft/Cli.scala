package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.export.{BeaconJson, Compaction, EraStateManager, Sinks, StagedExport}
import graft.operators.Normalizer
import graft.sources.RemoteDiscovery

/**
 * CLI mirroring the reference's verb surface (era_parser/cli.py:8-54):
 *
 * {{{
 * graft <era_file_or_glob> block <slot>             # single-block beacon JSON
 * graft <era_file_or_glob> stats                    # record statistics
 * graft <era_file_or_glob> all-blocks <out> [--separate]
 * graft <era_file_or_glob> <dataset> <out>          # one of the 15 datasets
 * graft --remote <base_url> <network> <range> <cmd> <out>
 *       [--separate] [--force] [--download-only]
 *       [--state-dir D] [--cache-dir D] [--data-root D]  # incremental remote ETL
 *       [--warehouse D]   # land eras in the at-rest SQL warehouse instead
 *                         # (the reference's ClickHouse loop: resume →
 *                         # per-era atomic commit → paste SQL at the store)
 * graft --era-status <network> [--state-dir D]
 * graft --clean-failed-eras <network> [--state-dir D] [--data-root D]
 * }}}
 *
 * Differences from the reference, by design: the era-file argument is any
 * Spark path/glob (batch mode is just a glob — no separate `--batch` verb
 * needed), and processing parallelizes across era files instead of looping.
 */
object Cli {

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .appName("graft")
      .getOrCreate()
  }

  /** Flags that consume the following token as their value. */
  private val valueFlags = Set(
    "--state-dir", "--cache-dir", "--data-root", "--export-jdbc", "--migrate",
    "--warehouse", "--target-mb", "--optimize-table", "--zorder-by")

  /** `--target-mb`, validated at the CLI boundary: `toLong << 20` on a
    * huge value silently wraps negative and only surfaces later as an
    * unrelated "targetBytes must be positive"; non-numeric input as a raw
    * NumberFormatException. */
  private def targetBytes(opts: Map[String, String]): Long =
    opts.get("--target-mb").filter(_.nonEmpty).map { s =>
      val mb = scala.util.Try(s.toLong).getOrElse(
        fail(s"--target-mb: not a number: $s"))
      if (mb <= 0 || mb > (Long.MaxValue >> 20))
        fail(s"--target-mb: out of range (1..${Long.MaxValue >> 20}): $s")
      mb
    }.getOrElse(128L) << 20

  def main(args: Array[String]): Unit = {
    val status = run(args)
    if (status != 0) sys.exit(status)
  }

  /** The CLI proper: run one invocation and return its exit status
    * (non-zero when an era of the incremental loop failed). */
  private[graft] def run(args: Array[String]): Int = {
    // split argv into flags, flag values, and positionals — a flag's value
    // must not leak into the positional list regardless of ordering
    val flagValueIdx = args.zipWithIndex.collect {
      case (f, i) if valueFlags(f) && i + 1 < args.length => i + 1
    }.toSet
    val flags = args.filter(_.startsWith("--"))
    val pos = args.zipWithIndex.collect {
      case (a, i) if !a.startsWith("--") && !flagValueIdx(i) => a
    }
    val opts = parseFlags(args)
    // only stop a session this invocation created — never one an embedding
    // host (tests, a notebook) already owns
    val preexisting = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    var status = 0
    try {
      if (flags.contains("--era-status")) eraStatus(opts, pos)
      else if (flags.contains("--clean-failed-eras")) cleanFailed(opts, pos)
      else if (flags.contains("--optimize")) {
        new EraStateManager(session(), opts.getOrElse("--state-dir", "era_state")).optimize()
        println("state log compacted to latest-version rows")
      }
      else if (flags.contains("--migrate")) migrate(opts, pos)
      // warehouse maintenance: graft --compact-warehouse <dir> <network>
      // [--target-mb N] — collapse each era partition's accreted part
      // files toward the byte budget (crash-safe stage-and-swap;
      // see graft.export.Compaction)
      else if (flags.contains("--compact-warehouse")) {
        if (pos.length < 2) fail("--compact-warehouse needs <warehouse_dir> <network>")
        Compaction.compactWarehouse(session(), pos(0), pos(1), targetBytes(opts))
          .toSeq.sortBy(_._1).foreach { case (tbl, reports) =>
            val done = reports.filter(r => r.filesAfter < r.filesBefore)
            println(s"$tbl: compacted ${done.size}/${reports.size} partitions " +
              s"(${done.map(_.filesBefore).sum} -> ${done.map(_.filesAfter).sum} files)")
          }
      }
      // the reference's optimize-ALL-tables loop: graft --optimize-warehouse
      // <dir> <network> [--target-mb N] — every table rewritten crash-safe,
      // clustered by its DDL-derived sort keys
      else if (flags.contains("--optimize-warehouse")) {
        if (pos.length < 2) fail("--optimize-warehouse needs <warehouse_dir> <network>")
        Compaction.optimizeWarehouse(session(), pos(0), pos(1), targetBytes(opts))
          .toSeq.sortBy(_._1).foreach { case (tbl, reports) =>
            val aborted = reports.count(_.concurrentAbort)
            val keys = Compaction.DefaultWarehouseSortKeys
              .getOrElse(tbl, Seq.empty).mkString(",")
            println(s"$tbl: optimized ${reports.size - aborted}/${reports.size} " +
              s"partitions [$keys]" +
              (if (aborted > 0) s"; $aborted aborted on concurrent writes" else ""))
          }
      }
      // OPTIMIZE: graft --optimize-table <table_dir> --zorder-by x,y
      // [--target-mb N] — crash-safe staged-swap rewrite of every era
      // partition, Z-order-clustered on the two columns
      else if (flags.contains("--optimize-table")) {
        val tbl = opts.get("--optimize-table").filter(_.nonEmpty)
          .getOrElse(fail("--optimize-table needs a table path"))
        val cols = opts.get("--zorder-by").filter(_.nonEmpty)
          .getOrElse(fail("--optimize-table needs --zorder-by <xcol,ycol>"))
          .split(',').map(_.trim).filter(_.nonEmpty)
        if (cols.length != 2) fail("--zorder-by wants exactly two columns: x,y")
        val reports = Compaction.optimizeEraTable(session(), tbl,
          (cols(0), cols(1)), targetBytes(opts))
        val aborted = reports.count(_.concurrentAbort)
        println(s"optimized ${reports.size - aborted}/${reports.size} partitions " +
          s"zorder(${cols(0)}, ${cols(1)})" +
          (if (aborted > 0) s"; $aborted aborted on concurrent writes" else ""))
      }
      else if (flags.contains("--remote")) status = remote(opts, pos, flags)
      else if (pos.headOption.contains("query")) query(pos)
      else if (pos.length >= 2) local(opts, pos, flags)
      else printHelp()
    } finally if (preexisting.isEmpty) SparkSession.getActiveSession.foreach(_.stop())
    status
  }

  private def parseFlags(args: Array[String]): Map[String, String] =
    args.zipWithIndex.collect {
      case (f, i) if valueFlags(f) && i + 1 < args.length && !args(i + 1).startsWith("--") =>
        f -> args(i + 1)
      case (f, _) if f.startsWith("--") => f -> ""
    }.toMap

  // ── local verbs ─────────────────────────────────────────────────────────

  private def fail(msg: String): Nothing = {
    System.err.println(msg)
    printHelp()
    sys.exit(2)
  }

  private def requireArg(pos: Array[String], i: Int, what: String): String =
    if (i < pos.length) pos(i) else fail(s"missing argument: $what")

  private def local(opts: Map[String, String], pos: Array[String], flags: Array[String]): Unit = {
    val path = pos(0)
    val verb = pos(1)
    val spark = session()
    val records = spark.read.format("era").load(path)
    verb match {
      case "stats" =>
        records.groupBy(col("record_type"))
          .agg(count(lit(1)).as("n"),
            min(when(col("record_type") === "block", col("slot"))).as("min_slot"),
            max(when(col("record_type") === "block", col("slot"))).as("max_slot"))
          .orderBy(col("record_type"))
          .show(false)
      case "block" =>
        val slot = scala.util.Try(requireArg(pos, 2, "slot").toLong)
          .getOrElse(fail("slot must be a number"))
        val blocks = Normalizer.decodeBlocks(records.filter(col("slot") === slot))
        blocks.collect().headOption match {
          case Some(b) => println(BeaconJson.toJsonString(b))
          case None => System.err.println(s"no block at slot $slot"); sys.exit(1)
        }
      case "all-blocks" =>
        val jdbcUrl = opts.getOrElse("--export-jdbc", "")
        val blocks = Normalizer.decodeBlocks(records)
        if (jdbcUrl.nonEmpty) {
          // `--export clickhouse` analogue: one table per dataset,
          // batched inserts with retry (S15)
          val cached = blocks.cache()
          try Normalizer.allDatasets(cached).toSeq.sortBy(_._1).foreach { case (n, df) =>
            Sinks.jdbcSink(df, jdbcUrl, n)
            println(s"$n: exported to jdbc")
          } finally cached.unpersist()
        } else if (flags.contains("--separate")) {
          // one decode into a parquet stage beside the output, then the 15
          // tables written concurrently from it, each counted by its write
          val out = requireArg(pos, 2, "output path")
          val stage = StagedExport.stageBeside(out)
          try StagedExport.exportAll(blocks, stage, out).toSeq.sortBy(_._1)
            .foreach { case (n, (c, _)) => println(s"$n: $c records") }
          finally StagedExport.dropStage(spark, stage)
        } else {
          val out = requireArg(pos, 2, "output path")
          if (flags.contains("--parity") && !Sinks.supportsEnvelope(out))
            fail("--parity applies to .csv/.json/.jsonl outputs only")
          val wide = Normalizer.wideBlocks(blocks)
          val c =
            if (flags.contains("--parity")) Sinks.writeWithEnvelope(wide, out, "blocks")
            else Sinks.write(wide, out)
          println(s"all-blocks: $c records")
        }
      case ds if Normalizer.datasetNames.contains(ds) =>
        val jdbcUrl = opts.getOrElse("--export-jdbc", "")
        // single-table extract: the section-pruned decode skips the other
        // 14 body sections' parse work (the reference computes all 15 then
        // keeps one — processor.py:401-404). Pruning is MORE PERMISSIVE on
        // corrupt blocks (a corrupt pruned-away section is never parsed,
        // so the block isn't dropped); --strict-decode restores the
        // reference's exact log-and-skip semantics by running the full
        // parse — identical rows on well-formed input either way
        // (SectionPruningSpec).
        val table =
          if (flags.contains("--strict-decode"))
            Normalizer.dataset(Normalizer.decodeBlocks(records), ds)
          else Normalizer.datasetPruned(records, ds)
        if (jdbcUrl.nonEmpty) {
          Sinks.jdbcSink(table, jdbcUrl, ds)
          println(s"$ds: exported to jdbc")
        } else {
          val out = requireArg(pos, 2, "output path")
          if (flags.contains("--parity") && !Sinks.supportsEnvelope(out))
            fail("--parity applies to .csv/.json/.jsonl outputs only")
          // --parity: the reference's exact single-file envelope (S11/S13)
          val c =
            if (flags.contains("--parity")) Sinks.writeWithEnvelope(table, out, ds)
            else Sinks.write(table, out)
          println(s"$ds: $c records")
        }
      case other =>
        System.err.println(s"unknown command: $other"); printHelp(); sys.exit(2)
    }
  }

  /** `graft query <name> <dataDir> [out]` — run any registered analytics /
    * training-data query against a parquet data directory; print (no out),
    * or write through the sink layer (format by extension). `graft query
    * list` enumerates the surface. */
  private def query(pos: Array[String]): Unit = {
    val name = requireArg(pos, 1, "query name (or 'list')")
    if (name == "list") {
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      return
    }
    val fn = SparkEntry.queries.getOrElse(name,
      fail(s"unknown query: $name (try: graft query list)"))
    val dataDir = requireArg(pos, 2, "data directory")
    val df = fn(session(), dataDir)
    if (pos.length > 3) {
      val c = Sinks.write(df, pos(3))
      println(s"$name: $c records")
    } else df.show(50, false)
  }

  // ── remote incremental ETL (§3.2 shape) ─────────────────────────────────

  /** Returns the exit status: 1 when any era of the range failed. */
  private def remote(opts: Map[String, String], pos: Array[String], flags: Array[String]): Int = {
    // base URL: explicit positional (recognized by the scheme separator) or
    // the reference's env entry point (ERA_BASE_URL, with .env defaults —
    // remote_downloader.py:742-799)
    val (baseUrl, rest) =
      if (pos.headOption.exists(_.contains("://"))) (pos(0), pos.drop(1))
      else graft.config.EnvConfig.get(graft.config.EnvConfig.BaseUrlKey) match {
        case Some(u) => (u, pos)
        case None => fail("--remote requires <base_url> <network> <era_range> " +
          "(or set ERA_BASE_URL in the environment / .env)")
      }
    if (rest.length < 2) fail("--remote requires <network> <era_range>")
    val Array(network, range) = rest.take(2)
    val cacheDir = opts.get("--cache-dir")
      .orElse(graft.config.EnvConfig.get(graft.config.EnvConfig.DownloadDirKey))
      .getOrElse("era_cache")
    val stateDir = opts.getOrElse("--state-dir", "era_state")
    val discovered = RemoteDiscovery.discover(baseUrl, network, range)
    println(s"discovered ${discovered.size} era files")
    if (flags.contains("--download-only")) {
      discovered.foreach { case (_, url) => RemoteDiscovery.download(url, cacheDir) }
      return 0
    }
    val verb = rest.lift(2).getOrElse("all-blocks")
    val out = rest.lift(3).getOrElse("output/remote.parquet")
    val spark = session()
    val state = new EraStateManager(spark, stateDir)
    val eras = discovered.map(_._1.toLong)
    val byEra = discovered.toMap
    def loadEra(era: Long) = {
      val local = RemoteDiscovery.download(byEra(era.toInt), cacheDir)
      spark.read.format("era").load(local.toString)
    }
    val processed = opts.get("--warehouse").filter(_.nonEmpty) match {
      case Some(wh) =>
        // the warehouse loop always exports the full table set into wh/ —
        // silently discarding a user's <cmd>/<out> positionals would look
        // like a lost export, so refuse the combination outright
        if (rest.length > 2) fail(
          "--warehouse exports ALL tables into the warehouse directory; " +
            s"drop the <cmd>/<out> positionals (got: ${rest.drop(2).mkString(" ")})")
        graft.export.IncrementalExporter.runWarehouse(
          spark, state, network, eras, wh,
          force = flags.contains("--force"))(loadEra)
      case None => graft.export.IncrementalExporter.run(
        spark, state, network, eras, out, verb,
        force = flags.contains("--force"),
        dataRoot = opts.get("--data-root").filter(_.nonEmpty))(loadEra)
    }
    // every not-yet-completed era of the range was attempted this run, so
    // the ones whose latest state is `failed` are exactly this run's failures
    val failed = state.failedEras(network).filter(eras.toSet)
    if (failed.isEmpty) {
      println(s"processed ${processed.size} of ${eras.size} eras (rest completed)")
      0
    } else {
      println(s"processed ${processed.size} of ${eras.size} eras; " +
        s"${failed.size} failed: ${failed.mkString(", ")}")
      1
    }
  }

  // ── schema migrations (migration_manager.py / commands/migrate.py) ──────

  private def migrate(opts: Map[String, String], pos: Array[String]): Unit = {
    val url = opts.getOrElse("--migrate", "")
    if (url.isEmpty) fail("--migrate requires a JDBC url: graft --migrate <jdbc-url> <status|run|list> [version]")
    val m = new graft.export.JdbcMigrator(session(), url)
    pos.headOption.getOrElse("status") match {
      case "run" =>
        val done = m.run(pos.lift(1))
        if (done.isEmpty) println("no pending migrations")
        else done.foreach(v => println(s"applied migration $v"))
      case "list" =>
        m.migrations.foreach { case (v, name, _) => println(s"$v  $name") }
      case "status" =>
        val (applied, available, pending, last) = m.status()
        println(s"applied: ${applied.size}  available: ${available.size}  " +
          s"pending: ${pending.size}  last: ${last.getOrElse("none")}")
      case other => fail(s"unknown migrate subcommand: $other")
    }
  }

  // ── state verbs ─────────────────────────────────────────────────────────

  private def eraStatus(opts: Map[String, String], pos: Array[String]): Unit = {
    val network = requireArg(pos, 0, "network")
    val state = new EraStateManager(session(), opts.getOrElse("--state-dir", "era_state"))
    state.summary(network).show(false)
    state.eraStatus.filter(col("network") === network)
      .select("era_number", "status", "total_records", "retry_count")
      .orderBy("era_number").show(1000, truncate = false)
  }

  private def cleanFailed(opts: Map[String, String], pos: Array[String]): Unit = {
    val network = requireArg(pos, 0, "network")
    val state = new EraStateManager(session(), opts.getOrElse("--state-dir", "era_state"))
    val failed = state.failedEras(network)
    failed.foreach(era =>
      state.cleanEraCompletely(opts.getOrElse("--data-root", "output"), network, era))
    println(s"cleaned ${failed.size} failed eras: ${failed.mkString(", ")}")
  }

  private def printHelp(): Unit = println(
    """graft — Spark-native era analytics engine
      |
      |  graft <era_path_or_glob> stats
      |  graft <era_path_or_glob> block <slot>
      |  graft <era_path_or_glob> all-blocks <out> [--separate]
      |  graft <era_path_or_glob> all-blocks --export-jdbc <jdbc-url>
      |  graft <era_path_or_glob> <dataset> <out|--export-jdbc <url>> [--parity] [--strict-decode]
      |  graft query <name|list> <data_dir> [out]
      |  graft --optimize [--state-dir D]
      |  graft --migrate <jdbc-url> <status|run|list> [version]
      |  graft --remote <base_url> <network> <era_range> [cmd] [out]
      |        [--separate] [--force] [--download-only] [--state-dir D] [--cache-dir D]
      |        [--data-root D]
      |  graft --era-status <network> [--state-dir D]
      |  graft --clean-failed-eras <network> [--state-dir D] [--data-root D]
      |  graft --compact-warehouse <warehouse_dir> <network> [--target-mb N]
      |  graft --optimize-table <table_dir> --zorder-by <xcol,ycol> [--target-mb N]
      |  graft --optimize-warehouse <warehouse_dir> <network> [--target-mb N]
      |
      |era ranges: 1082 | 1082-1100 | 1082+""".stripMargin)
}
