package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.export.{EraStateManager, IncrementalExporter, Sinks}

/** Sink layer (S11–S16) + incremental state layer (P6/J4/W3/A5/A6). */
class ExportStateSpec extends AnyFunSuite with OnEveryRoot {

  private lazy val spark = TestSpark.spark

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("output naming mirrors the reference scheme") {
    assert(Sinks.eraOutputFilename("out/blocks.parquet", 1082) === "out/blocks_era_01082.parquet")
    assert(Sinks.eraOutputFilename("blocks", 7) === "blocks_era_00007.parquet")
    assert(Sinks.datasetFilename("out/x.csv", "attestations") === "out/x_attestations.csv")
    assert(Sinks.datasetFilename("out/x.json", "blocks") === "out/x_blocks.json")
  }

  test("era-partitioned layout: an era filter scans ONLY that era's partition directory") {
    val blocks = graft.queries.EraQueries.blocks(spark).toDF()
      .select(col("slot"), col("proposer_index"), col("version"), col("era_number"))
    val out = tmpDir("era-part")
    Sinks.overwriteEraPartitions(blocks, s"$out/blocks")
    val eras = blocks.select(col("era_number")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(eras.length > 1, "fixture corpus must span multiple eras for pruning to mean anything")
    val back = spark.read.parquet(s"$out/blocks")
    val one = back.filter(col("era_number") === eras.head)
    // partition pruning happens at planning: the scan node must select
    // exactly ONE partition directory out of the table's eras (inputFiles
    // can't show this — it lists the unfiltered relation)
    val scan = one.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.selectedPartitions.partitionCount === 1,
      s"expected 1 pruned partition, scanned ${scan.selectedPartitions.partitionCount} of ${eras.length}")
    assert(scan.metadata("PartitionFilters").contains("era_number"))
    // and the values round-trip
    assert(one.count() ===
      blocks.filter(col("era_number") === eras.head).count())
  }

  test("dynamic partition pruning: a filtered dim join prunes era partitions at RUNTIME") {
    // the archive-scale join shape: fact partitioned by era at rest, the
    // era set of interest only known through a dimension filter — DPP turns
    // the dim filter into a runtime partition predicate on the fact scan,
    // so a 100k-era archive reads only the joined eras' directories
    val blocks = graft.queries.EraQueries.blocks(spark).toDF()
      .select(col("slot"), col("proposer_index"), col("era_number"))
    val out = tmpDir("era-dpp")
    Sinks.overwriteEraPartitions(blocks, s"$out/blocks")
    val eras = blocks.select(col("era_number")).distinct()
      .collect().map(_.getLong(0)).sorted
    import spark.implicits._
    // partition-directory values read back as INT — the dim key must match
    // exactly, or the join carries a cast that defeats the pruning rule
    // the dim must be a real source relation — a local Seq gets its filter
    // constant-folded away before the pruning rule looks for one
    eras.map(e => (e, if (e == eras.head) "hot" else "cold"))
      .toSeq.toDF("era_number", "tag")
      .select(col("era_number").cast("int").as("era_number"), col("tag"))
      .write.mode("overwrite").parquet(s"$out/era_dim")
    val dim = spark.read.parquet(s"$out/era_dim")
    // DPP's cost heuristic compares the fact bytes saved against the cost
    // of executing the dim subquery — at fixture scale (KB-size fact) it
    // rightly concludes pruning isn't worth it, so raise the ratio to make
    // the benefit check reflect the archive-scale geometry this test is a
    // model of (100k-era fact vs a handful of selected eras)
    val keepRatio = spark.conf.getOption("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio")
    val keepStats = spark.conf.getOption("spark.sql.optimizer.dynamicPartitionPruning.useStats")
    try {
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "10000")
      val fact = spark.read.parquet(s"$out/blocks")
      val joined = fact.join(dim.filter(col("tag") === "hot"), Seq("era_number"))
      val n = joined.count()
      assert(n === blocks.filter(col("era_number") === eras.head).count())
      val p = joined.queryExecution.executedPlan.toString
      assert(p.toLowerCase.contains("dynamicpruning"),
        s"no dynamic partition pruning in:\n${p.take(3000)}")
    } finally {
      Seq("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> keepRatio,
        "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> keepStats).foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  testOnEveryRoot("separate-files fan-out writes every dataset + SUMMARY.txt, all formats readable") {
      (dir, local) =>
    import spark.implicits._
    val ds1 = Seq((1L, "a"), (2L, "b")).toDF("slot", "v")
    val ds2 = Seq((3L, 1.5)).toDF("slot", "x")
    for (ext <- Seq("parquet", "csv", "json")) {
      val base = s"$dir/$ext/out.$ext"
      var counts = Map.empty[String, Long]
      val jobs = JobLog.during(spark) {
        counts = Sinks.exportSeparateFiles(Map("t1" -> ds1, "t2" -> ds2), base)
          .map { case (t, (rows, _)) => t -> rows }
      }
      assert(counts === Map("t1" -> 2L, "t2" -> 1L))
      // the counts ride the write jobs: every job wrote, none read back
      assert(jobs.size === 2 && JobLog.readOnly(jobs).isEmpty,
        s"$ext export ran read-back jobs: $jobs")
      val summary = new String(Files.readAllBytes(Paths.get(s"$local/$ext/out_SUMMARY.txt")), "UTF-8")
      assert(summary.contains("t1: 2 records") && summary.contains("t2: 1 records"))
      // round-trip
      val back = ext match {
        case "csv" => spark.read.option("header", "true").csv(s"$dir/$ext/out_t1.csv")
        case "json" => spark.read.json(s"$dir/$ext/out_t1.json")
        case _ => spark.read.parquet(s"$dir/$ext/out_t1.parquet")
      }
      assert(back.count() === 2)
    }
  }

  testOnEveryRoot("--parity envelope: CSV '#' preamble and JSONL metadata first line (S11/S13)") {
      (dir, local) =>
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("slot", "v")

    val nCsv = Sinks.writeWithEnvelope(df, s"$dir/out.csv", "blocks")
    assert(nCsv === 2)
    val csv = new String(Files.readAllBytes(Paths.get(s"$local/out.csv")), "UTF-8")
    val csvLines = csv.split("\n")
    assert(csvLines(0) === "# Era ?: blocks data")
    assert(csvLines(1) === "# Network: ?")
    assert(csvLines(2).startsWith("# Export timestamp: "))
    assert(csvLines(3) === "# Total records: 2")
    assert(csvLines(4) === "slot,v") // header, then data
    assert(csvLines.length === 7)

    val nJson = Sinks.writeWithEnvelope(df, s"$dir/out.jsonl", "blocks")
    assert(nJson === 2)
    val jsonLines = new String(Files.readAllBytes(Paths.get(s"$local/out.jsonl")), "UTF-8")
      .split("\n")
    assert(jsonLines.length === 3)
    assert(jsonLines(0).contains("\"type\": \"metadata\""))
    assert(jsonLines(0).contains("\"record_count\": 2"))
    assert(jsonLines(1).contains("\"slot\"")) // data rows follow
    assert(!Files.exists(Paths.get(s"$local/out.csv.__parts")), "temp part dir left behind")
  }

  test("jdbc sink writes batched rows readable back through jdbc (S15)") {
    import spark.implicits._
    val db = tmpDir("derby") + "/testdb"
    val url = s"jdbc:derby:$db;create=true"
    val df = (1 to 250).map(i => (i.toLong, i * 1.5)).toDF("id", "v")
    Sinks.jdbcSink(df, url, "metrics", batchSize = 100)
    val back = spark.read.jdbc(url, "metrics", new java.util.Properties())
    assert(back.count() === 250)
    assert(back.agg(sum("id")).collect()(0).getLong(0) === (1 to 250).map(_.toLong).sum)
    // append semantics: a second sink call doubles the rows
    Sinks.jdbcSink(df, url, "metrics", batchSize = 100)
    assert(spark.read.jdbc(url, "metrics", new java.util.Properties()).count() === 500)
  }

  test("--migrate bootstraps an empty database end-to-end via CLI verbs") {
    val db = tmpDir("derby-mig") + "/migdb"
    val url = s"jdbc:derby:$db;create=true"
    val props = new java.util.Properties()

    // fresh DB → run creates 15 dataset tables + era_completion + tracking
    Cli.main(Array("--migrate", url, "run"))
    val tracking = spark.read.jdbc(url, "schema_migrations", props)
    assert(tracking.count() === 3)
    assert(tracking.select("version").collect().map(_.getString(0)).sorted
      === Array("001", "002", "003"))
    graft.operators.Normalizer.datasetNames.foreach { t =>
      assert(spark.read.jdbc(url, t, props).count() === 0, s"table $t missing")
    }
    assert(spark.read.jdbc(url, "era_completion", props).count() === 0)

    // idempotent: a second run applies nothing
    Cli.main(Array("--migrate", url, "run"))
    assert(spark.read.jdbc(url, "schema_migrations", props).count() === 3)

    // the freshly created tables accept a real export (S15 path, no manual DDL)
    val eraDir = graft.testkit.EraFixtures.ensureGenerated()
    Cli.main(Array(eraDir, "attestations", "--export-jdbc", url))
    assert(spark.read.jdbc(url, "attestations", props).count() > 0)

    // era_status view resolves the latest state per (network, era)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        """INSERT INTO era_completion ("network", "era_number", "status", "insert_version")
          |VALUES ('gnosis', 5, 'processing', 1)""".stripMargin.replaceAll("\n", " "))
      st.executeUpdate(
        """INSERT INTO era_completion ("network", "era_number", "status", "insert_version")
          |VALUES ('gnosis', 5, 'completed', 2)""".stripMargin.replaceAll("\n", " "))
      val rs = st.executeQuery("""SELECT "status" FROM era_status""")
      assert(rs.next() && rs.getString(1) === "completed")
      assert(!rs.next(), "era_status must collapse to one row per era")
      st.close()
    } finally conn.close()
  }

  test("era_status view breaks same-version ties like the Parquet-side eraStatus") {
    val db = tmpDir("derby-tie") + "/tiedb"
    val url = s"jdbc:derby:$db;create=true"
    Cli.main(Array("--migrate", url, "run"))
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      // two writers race era 9: same insert_version, same recorded_at,
      // distinct writer_id → exactly one row survives (max writer_id)
      st.executeUpdate(
        """INSERT INTO era_completion ("network", "era_number", "status",
          |"insert_version", "recorded_at", "writer_id")
          |VALUES ('gnosis', 9, 'processing', 7,
          |TIMESTAMP('2026-01-01 00:00:00'), 'aaaa')""".stripMargin.replaceAll("\n", " "))
      st.executeUpdate(
        """INSERT INTO era_completion ("network", "era_number", "status",
          |"insert_version", "recorded_at", "writer_id")
          |VALUES ('gnosis', 9, 'completed', 7,
          |TIMESTAMP('2026-01-01 00:00:00'), 'bbbb')""".stripMargin.replaceAll("\n", " "))
      // and a later-timestamp row at the same version for era 10: the
      // recorded_at level resolves it before writer_id is consulted
      st.executeUpdate(
        """INSERT INTO era_completion ("network", "era_number", "status",
          |"insert_version", "recorded_at", "writer_id")
          |VALUES ('gnosis', 10, 'processing', 3,
          |TIMESTAMP('2026-01-01 00:00:00'), 'zzzz')""".stripMargin.replaceAll("\n", " "))
      st.executeUpdate(
        """INSERT INTO era_completion ("network", "era_number", "status",
          |"insert_version", "recorded_at", "writer_id")
          |VALUES ('gnosis', 10, 'completed', 3,
          |TIMESTAMP('2026-01-01 00:00:05'), 'aaaa')""".stripMargin.replaceAll("\n", " "))
      val rs = st.executeQuery(
        """SELECT "era_number", "status" FROM era_status ORDER BY "era_number"""")
      assert(rs.next() && rs.getLong(1) === 9L && rs.getString(2) === "completed")
      assert(rs.next() && rs.getLong(1) === 10L && rs.getString(2) === "completed")
      assert(!rs.next(), "era_status must emit exactly one row per era under ties")
      st.close()
    } finally conn.close()
  }

  test("migration 003 upgrades a database stuck on 002's single-level view") {
    import graft.export.JdbcMigrator
    val db = tmpDir("derby-upg") + "/upgdb"
    val url = s"jdbc:derby:$db;create=true"
    val migrator = new JdbcMigrator(spark, url)

    // deployment state as of the original 002: single-level era_status
    assert(migrator.run(target = Some("002")) === Seq("001", "002"))
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      // a same-version tie: the 002 view emits BOTH rows (the divergence)
      st.executeUpdate(
        """INSERT INTO era_completion ("network", "era_number", "status",
          |"insert_version", "recorded_at", "writer_id")
          |VALUES ('gnosis', 4, 'processing', 2,
          |TIMESTAMP('2026-01-01 00:00:00'), 'aaaa')""".stripMargin.replaceAll("\n", " "))
      st.executeUpdate(
        """INSERT INTO era_completion ("network", "era_number", "status",
          |"insert_version", "recorded_at", "writer_id")
          |VALUES ('gnosis', 4, 'completed', 2,
          |TIMESTAMP('2026-01-01 00:00:01'), 'bbbb')""".stripMargin.replaceAll("\n", " "))
      val before = st.executeQuery("""SELECT COUNT(*) FROM era_status""")
      assert(before.next() && before.getLong(1) === 2L,
        "002's view should expose the tie (that is the bug 003 fixes)")

      // upgrade: only 003 is pending; it swaps in the tie-breaking view
      assert(migrator.run() === Seq("003"))
      val rs = st.executeQuery("""SELECT "status" FROM era_status""")
      assert(rs.next() && rs.getString(1) === "completed")
      assert(!rs.next(), "upgraded view must collapse the tie to one row")
      st.close()
    } finally conn.close()
  }

  test("already-exists detection rejects 'does not exist' errors") {
    import graft.export.JdbcMigrator.isAlreadyExists
    assert(!isAlreadyExists(new java.sql.SQLException(
      "Table/View 'ERA_COMPLETION' does not exist.", "42X05")))
    assert(!isAlreadyExists(new java.sql.SQLException(
      "Column 'STATUS' does not exist.", "42X04")))
    assert(isAlreadyExists(new java.sql.SQLException(
      "Table/View 'ERA_STATUS' already exists in Schema 'APP'.", "X0Y32")))
    assert(isAlreadyExists(new java.sql.SQLException(null: String, "X0Y68")))
    assert(isAlreadyExists(new java.sql.SQLException(
      "relation \"era_status\" already exists", "42P07")))
  }

  testOnEveryRoot("mixed legacy+current state log coalesces NULL writer_id to empty") {
      (dir, _) =>
    import spark.implicits._
    val logDir = s"$dir/era_completion"
    // a legacy log file written before writer_id existed: same columns
    // minus writer_id (the log's explicit schema reads the column as NULL)
    val legacy = Seq(("gnosis", 1L, "completed", 8192L, 16383L, 10L,
        Seq("blocks"), "", 0L, 1L))
      .toDF("network", "era_number", "status", "slot_start", "slot_end",
        "total_records", "datasets_processed", "error_message", "retry_count",
        "insert_version")
      .withColumn("recorded_at", current_timestamp())
    legacy.coalesce(1).write.mode("append").parquet(logDir)
    // a current-era writer appends with writer_id present
    val state = new EraStateManager(spark, dir)
    state.recordEraCompletion(2, "gnosis", Seq("blocks"), 20)
    val log = state.log
    assert(log.count() === 2)
    assert(log.filter(col("writer_id").isNull).count() === 0,
      "legacy rows must read as empty string, not NULL")
    assert(log.filter(col("era_number") === 1 && col("writer_id") === "").count() === 1)
    // and the latest-state view still resolves both eras
    assert(state.eraStatus.count() === 2)
  }

  testOnEveryRoot("state machine: start → completed/failed, latest-state view, retry counts") {
      (dir, _) =>
    val state = new EraStateManager(spark, dir)
    state.recordEraStart(100, "gnosis")
    state.recordEraCompletion(100, "gnosis", Seq("blocks", "attestations"), 555)
    state.recordEraStart(101, "gnosis")
    state.recordEraFailure(101, "gnosis", "boom")
    state.recordEraFailure(101, "gnosis", "boom again")
    state.recordEraStart(200, "mainnet")

    val status = state.eraStatus.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(status(("gnosis", 100L)) === "completed")
    assert(status(("gnosis", 101L)) === "failed")
    assert(status(("mainnet", 200L)) === "processing")
    assert(state.retryCount(101, "gnosis") === 2)
    assert(state.failedEras("gnosis") === Seq(101L))

    // slot range derives from network config (8192 slots/era)
    val row = state.eraStatus
      .filter(col("era_number") === 100).collect()(0)
    assert(row.getAs[Long]("slot_start") === 100L * 8192)
    assert(row.getAs[Long]("slot_end") === 101L * 8192 - 1)
  }

  testOnEveryRoot("resume anti-join skips completed eras only (P6/J4)") { (dir, _) =>
    val state = new EraStateManager(spark, dir)
    state.recordEraCompletion(10, "gnosis", Seq("blocks"), 1)
    state.recordEraCompletion(12, "gnosis", Seq("blocks"), 1)
    state.recordEraFailure(13, "gnosis", "x") // failed → still to-process
    assert(state.determineErasToProcess(Seq(10L, 11L, 12L, 13L, 14L), "gnosis")
      === Seq(11L, 13L, 14L))
    // another network's completions don't leak
    assert(state.determineErasToProcess(Seq(10L), "mainnet") === Seq(10L))
  }

  testOnEveryRoot("summary aggregates by current status (A5)") { (dir, _) =>
    val state = new EraStateManager(spark, dir)
    state.recordEraCompletion(1, "gnosis", Seq("blocks"), 100)
    state.recordEraCompletion(2, "gnosis", Seq("blocks"), 200)
    state.recordEraFailure(3, "gnosis", "x")
    val sum_ = state.summary("gnosis").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sum_("completed") === ((2L, 300L)))
    assert(sum_("failed") === ((1L, 0L)))
  }

  testOnEveryRoot("missingEras reports coverage gaps inside the completed span") { (dir, _) =>
    val state = new EraStateManager(spark, dir)
    assert(state.missingEras("gnosis") === Nil) // empty log
    Seq(10L, 11L, 14L, 16L).foreach(e => state.recordEraCompletion(e, "gnosis", Seq("blocks"), 1))
    state.recordEraFailure(15, "gnosis", "x") // failed ≠ completed
    assert(state.missingEras("gnosis") === Seq(12L, 13L, 15L))
  }

  testOnEveryRoot("optimize compacts the log to latest-version rows, preserving status") {
      (dir, _) =>
    val state = new EraStateManager(spark, dir)
    state.recordEraStart(1, "gnosis")
    state.recordEraFailure(1, "gnosis", "x")
    state.recordEraStart(1, "gnosis")
    state.recordEraCompletion(1, "gnosis", Seq("blocks"), 9)
    state.recordEraStart(2, "gnosis")
    assert(state.log.count() === 5)
    state.optimize()
    assert(state.log.count() === 2) // one row per era
    val status = state.eraStatus.collect().map(r => r.getLong(1) -> r.getString(2)).toMap
    assert(status(1L) === "completed" && status(2L) === "processing")
  }

  testOnEveryRoot("force-clean removes the era's partitions and state rows") { (root, local) =>
    import spark.implicits._
    val (dataRoot, dataDir) = (s"$root/data", s"$local/data")
    val state = new EraStateManager(spark, s"$root/state")
    // era-partitioned warehouse layout, wide_blocks included
    Seq("blocks", "wide_blocks").foreach { t =>
      Seq((1L, 5L)).toDF("slot", "era_number").write
        .partitionBy("era_number").parquet(s"$dataRoot/$t")
      assert(Files.exists(Paths.get(s"$dataDir/$t/era_number=5")))
    }
    state.recordEraCompletion(5, "gnosis", Seq("blocks"), 1)
    state.recordEraCompletion(6, "gnosis", Seq("blocks"), 1)

    // era-suffixed CLI layout partials must be cleaned too
    Files.createDirectories(Paths.get(s"$dataDir/all_era_00005_blocks.parquet"))
    Files.write(Paths.get(s"$dataDir/all_era_00005_blocks.parquet/part-0.parquet"),
      Array[Byte](1, 2, 3))
    Files.createDirectories(Paths.get(s"$dataDir/all_era_00006_blocks.parquet"))

    state.cleanEraCompletely(dataRoot, "gnosis", 5)
    assert(!Files.exists(Paths.get(s"$dataDir/blocks/era_number=5")))
    assert(!Files.exists(Paths.get(s"$dataDir/wide_blocks/era_number=5")))
    assert(!Files.exists(Paths.get(s"$dataDir/all_era_00005_blocks.parquet")))
    assert(Files.exists(Paths.get(s"$dataDir/all_era_00006_blocks.parquet"))) // other eras untouched
    assert(state.determineErasToProcess(Seq(5L, 6L), "gnosis") === Seq(5L))
  }

  /** An era source that fails before anything is written. */
  private val noEra: Long => org.apache.spark.sql.DataFrame =
    _ => throw new IllegalStateException("no era source")

  testOnEveryRoot("incremental force-clean defaults to the output's parent directory") {
      (root, local) =>
    val state = new EraStateManager(spark, s"$root/state")
    val partial = Paths.get(s"$local/out/x_era_00005_blocks.parquet")
    Files.createDirectories(partial)
    assert(IncrementalExporter.run(spark, state, "gnosis", Seq(5L), s"$root/out/x.parquet",
      force = true)(noEra) === Nil)
    assert(!Files.exists(partial), "the killed run's partial output survived the force-clean")
    assert(state.failedEras("gnosis") === Seq(5L))
  }

  test("an output named without a directory cleans in the working directory") {
    val state = new EraStateManager(spark, tmpDir("state-bare"))
    // era 99999: nothing in the working directory carries its tag
    assert(IncrementalExporter.run(spark, state, "gnosis", Seq(99999L), "x.parquet",
      force = true)(noEra) === Nil)
    assert(state.failedEras("gnosis") === Seq(99999L))
  }
}
