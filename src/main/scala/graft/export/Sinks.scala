package graft.export

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/**
 * Multi-format sink layer (SURVEY.md §2.1 S11–S16), mirroring the
 * reference's export surface (the `era_parser/export` package,
 * `core/output_manager.py:21-42`) with Spark-native writers:
 *
 *  - JSON/JSONL  → `df.write.json` (native JSONL, no metadata envelope, so
 *    the write itself stays distributed — a whole-array JSON file with an
 *    inline header cannot be written in parallel)
 *  - CSV         → `df.write.csv(header=true)` (no `#` comment preamble:
 *    commented preambles break most CSV readers anyway)
 *  - Parquet     → `df.write.parquet`, without the reference's pyarrow KV
 *    metadata (parquet_exporter.py:31-69)
 *  - ClickHouse  → JDBC batch writer, batch 100k + retry ×3 w/ exponential
 *    backoff (clickhouse_service.py:17,135-162)
 *
 * Each output `<name>.<ext>` is a directory of part files — the
 * distributed-native shape. At 100 TB one file per sink is a non-goal;
 * downstream consumers read the directory; the opt-in `--parity`
 * envelope ([[Sinks.writeWithEnvelope]]) is the one single-file shape.
 * Outputs may be on any Hadoop filesystem: the SUMMARY and envelope files
 * go through the `FileSystem` bound to the output's URI, like Spark's own
 * writes.
 */
object Sinks {

  /** `<base>_era_<00000>.<ext>` (output_manager.py:21-42). */
  def eraOutputFilename(baseOutput: String, eraNumber: Int): String = {
    val (stem, ext) = splitExt(baseOutput)
    f"${stem}_era_$eraNumber%05d$ext"
  }

  /** `<base>_<dataset>.<ext>` (parquet_exporter.py:71-103). */
  def datasetFilename(baseOutput: String, dataset: String): String = {
    val (stem, ext) = splitExt(baseOutput)
    s"${stem}_$dataset$ext"
  }

  private[export] def splitExt(path: String): (String, String) = {
    val i = path.lastIndexOf('.')
    val slash = path.lastIndexOf('/')
    if (i > slash) (path.substring(0, i), path.substring(i)) else (path, ".parquet")
  }

  private def formatOf(path: String): String = splitExt(path)._2 match {
    case ".json" | ".jsonl" => "json"
    case ".csv" => "csv"
    case _ => "parquet"
  }

  /** Write one DataFrame in the format implied by the extension. Returns
    * the row count, taken from the write job itself ([[writeCounted]]):
    * the data is computed exactly once, no read job follows the write, and
    * the count is the rows actually committed even for a nondeterministic
    * frame. */
  def write(df: DataFrame, path: String): Long = {
    val fmt = formatOf(path)
    writeCounted(df)(writeAs(_, fmt, path))(readBack(df, fmt, path))
  }

  /** csv carries its header line; the option is inert for the others. */
  private def writeAs(df: DataFrame, fmt: String, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").format(fmt).save(path)

  /** Count `df`'s rows as written at `path` (footer-only for parquet). */
  private def readBack(df: DataFrame, fmt: String, path: String): Long =
    df.sparkSession.read.schema(df.schema).option("header", "true")
      .format(fmt).load(path).count()

  /** Run `write` over `df` with a row counter riding the write job (a
    * `Dataset.observe` metric) and return the rows it wrote. The job has
    * finished when `write` returns, but `QueryExecutionListener` delivery
    * is ASYNCHRONOUS (the execution-listener bus), so the metric can trail
    * the action by a beat: wait a bounded time rather than
    * `Observation.get`, whose wait is unbounded if a Spark regression ever
    * stopped reporting observed metrics for write commands. `readBack`
    * (counting the written files) keeps the count CORRECT in that failure
    * mode; the specs' no-read-back-job assertions are what would flag the
    * regression. Shared by [[write]] and
    * [[IncrementalExporter.runWarehouse]]. */
  private[export] def writeCounted(df: DataFrame)(write: DataFrame => Unit)(
      readBack: => Long): Long = {
    import scala.concurrent.duration._
    val obs = Observation()
    write(df.observe(obs, count(lit(1)).as("rows")))
    try scala.concurrent.Await.result(obs.future, 30.seconds).getAs[Long]("rows")
    catch { case _: java.util.concurrent.TimeoutException => readBack }
  }

  /** The at-rest layout for the 15-table warehouse at archive scale:
    * parquet partitioned by `era_number`, one directory per era. Era is
    * the natural unit — the ETL writes whole eras atomically (resume /
    * replay is per-era, [[EraStateManager]]), and every slot- or
    * era-ranged query prunes to its directories BEFORE any file is opened
    * (`spark.read.parquet(path).filter(era_number === n)` lists only that
    * partition — pruning-tested in `ExportStateSpec`). A 100k-era archive
    * is 100k directories per table; a point query opens one.
    *
    * The write is INCREMENTAL: it overwrites ONLY the era partitions
    * present in `df`, leaving every other era's directories untouched
    * (`partitionOverwriteMode=dynamic`, set per-write so the session
    * default stays static). This is what makes the per-era loop's
    * re-processing idempotent at the warehouse: a crashed era's retry
    * replaces exactly its own partition, and completed eras' files are
    * never rewritten — [[IncrementalExporter.runWarehouse]]'s
    * exactly-once mechanism, spec-pinned by `WarehouseResumeSpec`. */
  def overwriteEraPartitions(df: DataFrame, path: String,
      maxRecordsPerFile: Long = 0L): Unit = {
    val w = df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    // output-file sizing (guide §6): cap records per file when the caller
    // has a measured bytes/row to derive the cap from — at production
    // scale one era of a hot table is multi-GB and the stage's task count
    // (not file-size policy) otherwise decides output file sizes
    (if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile)
     else w)
      .partitionBy("era_number").parquet(path)
  }

  /** S11/S13 exact-parity single-file export: the reference's INLINE
    * metadata envelope — JSONL metadata as the first line
    * (json_exporter.py:31-41) or a CSV `#` comment preamble
    * (csv_exporter.py:30-45) — followed by the data. Opt-in (`--parity`)
    * because an inline header forces one file: the distributed default
    * writes no envelope, so the write itself parallelizes. The era, slot
    * range and network of the reference's envelope are not known to a
    * single-path extract: the JSON `era_info` is `{}` and the CSV preamble
    * reads `# Era ?` and `# Network: ?`, with no `# Slots` line. Returns
    * the row count. */
  def writeWithEnvelope(df: DataFrame, path: String, dataType: String): Long = {
    val fmt = formatOf(path)
    require(fmt == "json" || fmt == "csv", s"envelope parity applies to csv/json, not $fmt")
    val tmp = new Path(s"$path.__parts")
    val n = writeCounted(df.coalesce(1))(writeAs(_, fmt, tmp.toString))(
      readBack(df, fmt, tmp.toString))
    val fs = tmp.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(s"no part file under $tmp"))
    val ts = java.time.OffsetDateTime.now(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME)
    val envelope =
      if (fmt == "json")
        s"""{"era_info": {}, "data_type": "${esc(dataType)}", "record_count": $n, "export_timestamp": "$ts", "type": "metadata"}\n"""
      else
        s"# Era ?: $dataType data\n# Network: ?\n" +
          s"# Export timestamp: $ts\n# Total records: $n\n"
    val out = fs.create(new Path(path), true)
    try {
      out.write(envelope.getBytes("UTF-8"))
      val in = fs.open(part)
      try in.transferTo(out) finally in.close()
    } finally out.close()
    fs.delete(tmp, true)
    n
  }

  /** True iff `path`'s extension routes to a format that supports the
    * inline `--parity` envelope (csv/json). */
  def supportsEnvelope(path: String): Boolean = {
    val f = formatOf(path); f == "json" || f == "csv"
  }

  /** Create or overwrite the file `path` with `text`, UTF-8, through the
    * `FileSystem` bound to its URI (missing parents are created). */
  private def writeText(spark: SparkSession, path: Path, text: String): Unit = {
    val out = path.getFileSystem(spark.sparkContext.hadoopConfiguration).create(path, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** S16: one output per dataset + SUMMARY.txt
    * (parquet_exporter.py:71-103, csv_exporter.py:47-76), with the table
    * writes submitted CONCURRENTLY, one pool thread each ([[runQuiescent]]).
    * Returns per-table (rows, seconds).
    *
    * The 15 child tables are independent jobs, and most of them are tiny:
    * one at a time, each pays full job-scheduling + file-commit latency
    * while the cores idle. Multi-thread job submission is the supported
    * Spark pattern for this fan-out shape, and the per-table seconds this
    * returns are the evidence. Row counts ride each write job
    * ([[write]]), so the fan-out launches one job per table and nothing
    * else. Outputs are disjoint directories with the same per-table plans
    * whatever the interleaving; `ExportParallelSpec` pins the contents,
    * counts and SUMMARY against the per-table reference. */
  def exportSeparateFiles(
      datasets: Map[String, DataFrame],
      baseOutput: String): Map[String, (Long, Double)] = {
    val entries = datasets.toSeq.sortBy(_._1)
    val spark = entries.head._2.sparkSession
    val timed = entries.map(_._1).zip(runQuiescent(spark, entries.map {
      case (name, df) => () => {
        val t0 = System.nanoTime()
        val rows = write(df, datasetFilename(baseOutput, name))
        (rows, (System.nanoTime() - t0) / 1e9)
      }
    }))
    val (stem, _) = splitExt(baseOutput)
    val summary = timed.map { case (n, (c, _)) => s"$n: $c records" }
      .mkString("", "\n", "\n")
    writeText(spark, new Path(s"${stem}_SUMMARY.txt"), summary)
    timed.toMap
  }

  /** Run `tasks` concurrently, one pool thread each (a fan-out is at most
    * the 16 warehouse tables), and return their results in task order;
    * on the FIRST failure make the fan-out quiescent before rethrowing.
    * Interrupting a submitter thread only unblocks its job await — the
    * already-launched Spark job keeps running and emitting files — so
    * every task runs under one shared JOB GROUP and the failure path
    * cancels the group (killing in-flight tasks), cancels the undone
    * futures, and drains the pool. A caller that records the failure and
    * starts cleaning up therefore never races stray write jobs. Shared by
    * [[exportSeparateFiles]] and [[IncrementalExporter.runWarehouse]]. */
  private[export] def runQuiescent[T](spark: org.apache.spark.sql.SparkSession,
      tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, tasks.size))
    val group = s"graft-export-${java.util.UUID.randomUUID()}"
    try {
      val futures = tasks.map { t =>
        pool.submit(new java.util.concurrent.Callable[T] {
          def call(): T = {
            spark.sparkContext.setJobGroup(group, "graft export fan-out",
              interruptOnCancel = true)
            try t() finally spark.sparkContext.clearJobGroup()
          }
        })
      }
      try futures.map(_.get())
      catch {
        case e: Throwable =>
          futures.foreach(_.cancel(true))
          spark.sparkContext.cancelJobGroup(group)
          pool.shutdownNow()
          pool.awaitTermination(5, java.util.concurrent.TimeUnit.MINUTES)
          throw e
      }
    } finally pool.shutdown()
  }

  /** S15: batched JDBC sink with the reference's retry discipline
    * (100k batches, ×3 retries, exponential backoff —
    * clickhouse_service.py:115-342) made IDEMPOTENT for generic JDBC
    * targets: the reference can retry blind appends because ClickHouse
    * ReplacingMergeTree dedups by version, but a plain append target would
    * keep the partitions committed before a mid-write failure and
    * duplicate them on retry. So each attempt (1) overwrites a staging
    * table — overwrite makes the retry itself idempotent — then
    * (2) promotes staging into the target with a single INSERT…SELECT
    * committed on its own, after which the stage is dropped outside the
    * transaction (several engines — MySQL, Derby in some modes — treat
    * DDL as implicit-commit, so a DROP inside the "transaction" would
    * silently commit the INSERT and a post-DROP failure would re-run the
    * whole attempt and duplicate rows; a failed post-commit DROP is
    * instead non-fatal because the stage name is per-invocation unique
    * and gets a best-effort cleanup). On engines without transactional
    * DML (ClickHouse — which rejects or no-ops setAutoCommit(false)) the
    * promote is plain and the retry hazard is covered by the engine's own
    * insert-version dedup — the reference's assumption. The stage name
    * carries a per-invocation unique suffix so concurrent sinks to the
    * same target cannot clobber each other's stage mid-promote. Works
    * against any JDBC URL; for ClickHouse use `jdbc:clickhouse://…` with
    * the ClickHouse driver on the executor classpath. */
  def jdbcSink(
      df: DataFrame,
      url: String,
      table: String,
      properties: Map[String, String] = Map.empty,
      batchSize: Int = 100000): Unit = {
    val maxRetries = 3
    val props = new java.util.Properties()
    properties.foreach { case (k, v) => props.setProperty(k, v) }
    props.setProperty("batchsize", batchSize.toString)
    // Unique per invocation (driver-side), constant across this call's
    // retries: retries still overwrite the same stage (idempotent), but two
    // concurrent writers to the same target never share a stage.
    val stage = s"${table}__stage_${java.util.UUID.randomUUID.toString.replace("-", "").take(12)}"
    // column names must be quoted the way Spark quoted them at CREATE time
    // — per-dialect (double quotes on Derby/Postgres, backticks on MySQL);
    // table names stay unquoted (Spark passes them raw to CREATE TABLE, so
    // the DB applies its own case normalization)
    val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
    val cols = df.columns.map(dialect.quoteIdentifier).mkString(", ")
    var attempt = 0
    var done = false
    var lastErr: Throwable = null
    while (!done && attempt < maxRetries) {
      try {
        // (1) stage: overwrite → a partial previous attempt leaves no residue
        df.write.mode("overwrite").jdbc(url, stage, props)
        // target must exist before the promote (0-row append creates it)
        df.limit(0).write.mode("append").jdbc(url, table, props)
        // (2) promote: INSERT…SELECT, committed BEFORE the stage DROP. The
        // DROP must run outside the transaction: on implicit-commit-DDL
        // engines (MySQL; Derby DDL-in-txn quirks) a DROP "inside" the txn
        // commits the INSERT anyway, so a failure at/after the DROP would
        // retry and duplicate the batch while the code still believed the
        // attempt was atomic. Engines without transactional DML
        // (ClickHouse — rejects or no-ops setAutoCommit(false)) get a
        // plain promote: the duplicate-on-retry hazard there is covered by
        // the engine's own dedup (ReplacingMergeTree insert versions,
        // exactly the reference's assumption).
        val conn = java.sql.DriverManager.getConnection(url, props)
        try {
          val transactional =
            try { conn.setAutoCommit(false); true }
            catch { case _: java.sql.SQLException => false }
          val st = conn.createStatement()
          try {
            try {
              st.executeUpdate(s"INSERT INTO $table ($cols) SELECT $cols FROM $stage")
              if (transactional) conn.commit()
            } catch {
              case e: Throwable =>
                if (transactional) { try conn.rollback() catch { case _: Throwable => () } }
                throw e
            }
            // Post-commit cleanup: non-fatal. The rows are in; a leaked
            // stage is reclaimed by the final best-effort drop below or by
            // a later invocation's overwrite of ITS own stage (names are
            // unique, so nothing ever clobbers a live writer).
            if (transactional) { try conn.setAutoCommit(true) catch { case _: java.sql.SQLException => () } }
            try st.executeUpdate(s"DROP TABLE $stage")
            catch { case _: java.sql.SQLException => () }
          } finally st.close()
        } finally conn.close()
        done = true
      } catch {
        case e: Throwable =>
          lastErr = e
          attempt += 1
          if (attempt < maxRetries) Thread.sleep(1000L << attempt) // 2s, 4s
      }
    }
    if (!done) {
      // best-effort: don't leak the uniquely-named stage on terminal failure
      try {
        val conn = java.sql.DriverManager.getConnection(url, props)
        try {
          val st = conn.createStatement()
          try st.executeUpdate(s"DROP TABLE $stage") finally st.close()
        } finally conn.close()
      } catch { case _: Throwable => () }
      throw new RuntimeException(
        s"JDBC sink to $table failed after $maxRetries attempts", lastErr)
    }
  }
}
