package graft.export

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Normalizer

/**
 * The incremental multi-era export loop — the reference's atomic per-era
 * protocol (`era_parser/export/clickhouse_exporter.py:37-82`,
 * `era_state_manager.py:430-473`) as one reusable driver:
 *
 *  1. resume = anti-join available eras against completed ones (the state
 *     log's latest-state view); an era whose previous run died mid-flight
 *     (status `processing`) or failed is simply not completed and is
 *     re-picked up;
 *  2. per era: record start → export every table under an ERA-SUFFIXED
 *     output name in OVERWRITE mode → record completion. Overwrite +
 *     era-scoped names make re-processing idempotent: a torn write from a
 *     killed run is clobbered by the retry, so the final table contents
 *     are exactly-once per era no matter where the previous run died;
 *  3. an era failing with an `Exception` records a failure transition and
 *     the loop moves on (the reference's behavior); anything harsher (an
 *     `Error`, a JVM kill) leaves the era's last transition as
 *     `processing`/`failed` and the NEXT run's anti-join re-processes it.
 *
 * `CrashResumeSpec` drives a hard mid-run death end-to-end and asserts the
 * resumed run's tables equal an uninterrupted run's, table for table.
 *
 * The CLI's `--remote` verb is this loop with `loadEra` = download + era
 * scan; tests feed local era files. State-log reads are broadcast-size
 * (rows ∝ eras), so at cluster scale the only heavy work per era is the
 * export job itself.
 */
object IncrementalExporter {

  /** Process `eras` incrementally, returning the eras actually processed
    * this run (in order). `loadEra` maps an era number to its raw era
    * RECORDS frame (the `era` format scan); `verb` is `all-blocks` for the
    * full 15-table fan-out or a single dataset name.
    *
    * `all-blocks` is the staged, write-counted fan-out
    * ([[StagedExport.exportAll]]): the era decodes once into a parquet
    * stage beside its output (`<stem>_era_<n>__stage`, removed when the
    * era ends), the 15 tables are written concurrently from it, and each
    * table's completion count comes from its own write job. A killed
    * run's stage is overwritten by the resume's, so the output directory
    * a resume leaves equals an uninterrupted run's.
    *
    * `out` and `dataRoot` may be on any Hadoop filesystem. `dataRoot` is
    * where `force` cleans an era's outputs before redoing it; it defaults
    * to `out`'s parent directory, where the era-suffixed outputs land. */
  def run(spark: SparkSession, state: EraStateManager, network: String,
      eras: Seq[Long], out: String, verb: String = "all-blocks",
      force: Boolean = false, dataRoot: Option[String] = None)(
      loadEra: Long => DataFrame): Seq[Long] = {
    // a bare file name's parent is the empty path: the working directory
    val cleanRoot = dataRoot.getOrElse(Option(new org.apache.hadoop.fs.Path(out).getParent)
      .map(_.toString).filter(_.nonEmpty).getOrElse("."))
    eachEra(state, network, eras, force)(state.cleanEraCompletely(cleanRoot, network, _)) { era =>
      val eraOut = Sinks.eraOutputFilename(out, era.toInt)
      val counts =
        if (verb == "all-blocks") {
          val stage = StagedExport.stageBeside(eraOut)
          try StagedExport.exportAll(Normalizer.decodeBlocks(loadEra(era)), stage, eraOut)
            .map { case (name, (rows, _)) => name -> rows }
          finally StagedExport.dropStage(spark, stage)
        } else // single-dataset verb: section-pruned decode, nothing to share
          Map(verb -> Sinks.write(Normalizer.datasetPruned(loadEra(era), verb), eraOut))
      (counts.keys.toSeq.sorted, counts.values.sum)
    }
  }

  /** The per-era protocol both loops share: resume picks the eras not yet
    * completed (`force` takes every requested era and `clean`s each one
    * first), then per era record start → `exportEra` → record completion
    * with the (datasets, total rows) it returns, or record the failure
    * and move on. Returns the eras that completed, in order. */
  private def eachEra(state: EraStateManager, network: String, eras: Seq[Long],
      force: Boolean)(clean: Long => Unit)(
      exportEra: Long => (Seq[String], Long)): Seq[Long] = {
    val todo = if (force) eras else state.determineErasToProcess(eras, network)
    val processed = Seq.newBuilder[Long]
    todo.foreach { era =>
      if (force) clean(era)
      state.recordEraStart(era, network)
      try {
        val (datasets, total) = exportEra(era)
        state.recordEraCompletion(era, network, datasets, total)
        processed += era
      } catch {
        case e: Exception =>
          state.recordEraFailure(era, network, String.valueOf(e.getMessage))
          System.err.println(s"era $era failed: ${e.getMessage}")
      }
    }
    processed.result()
  }

  /** The same resume loop writing into the AT-REST WAREHOUSE — the
    * reference's actual production contract, where the per-era atomic
    * export (`clickhouse_exporter.py:37-82`), the completion state
    * (`era_state_manager.py:102-168`) and the paste-SQL surface
    * (`docs/CLICKHOUSE.md:340+`) are ONE store. Per era:
    *
    *  1. record start;
    *  2. decode → a one-era columnar stage ([[StagedExport.stage]]) →
    *     the 16 per-table extracts fan out concurrently, each landing as
    *     a DYNAMIC partition overwrite ([[Sinks.overwriteEraPartitions]]) into
    *     `<warehouseDir>/<network>/<table>/era_number=N/` — exactly this
    *     era's directories are replaced, completed eras' files are never
    *     touched;
    *  3. record completion with per-table counts captured FROM THE WRITE
    *     ITSELF (`Dataset.observe` metrics riding each overwrite job) —
    *     zero post-write read jobs. The r12 shape read counts back
    *     footer-only, which was metadata-cheap but still 16 scheduled
    *     jobs per era: a 10k-era backfill paid 160k jobs of pure
    *     scheduling latency for numbers the write jobs already knew.
    *
    * Torn state from a kill cannot leak into a resumed warehouse: before
    * writing, the era's partition directories are dropped across ALL
    * tables (a table that legitimately has no rows for the era this run
    * would otherwise keep a dead run's partial partition — dynamic
    * overwrite only replaces partitions it writes), then the overwrite
    * lands fresh data. Consumers see completed eras via
    * [[graft.queries.EraViews]]`.registerWarehouse` + the
    * `era_completion` view; `WarehouseResumeSpec` kills a run mid-era and
    * proves resume ≡ uninterrupted, table for table.
    *
    * At cluster scale: the state reads are broadcast-size, the stage is
    * one era (bounded), and each table write touches one partition
    * directory — the loop's footprint is per-era, never per-archive. */
  def runWarehouse(spark: SparkSession, state: EraStateManager,
      network: String, eras: Seq[Long], warehouseDir: String,
      force: Boolean = false,
      targetFileBytes: Long = 512L * 1024L * 1024L)(
      loadEra: Long => DataFrame): Seq[Long] = {
    // every filesystem touch goes through the Hadoop FileSystem bound to
    // the warehouse URI — the loop's own contract is "any store Spark can
    // write" (hdfs://, s3a://, local), and a pre-drop that missed the store
    // would let a dead run's torn partition in a now-empty table survive
    // resume
    val netDir = s"$warehouseDir/$network"
    val fs = new org.apache.hadoop.fs.Path(netDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hp(s: String) = new org.apache.hadoop.fs.Path(s)
    val tableNames = StagedExport.warehouseTableNames
    // every table directory must exist up front: a table empty across the
    // whole corpus still has to bind as an empty view at registration
    tableNames.foreach(n => fs.mkdirs(hp(s"$netDir/$n")))
    val stage = s"$netDir/_stage"
    def dropEraPartitions(era: Long): Unit = tableNames.foreach { n =>
      val p = hp(s"$netDir/$n/era_number=$era")
      if (fs.exists(p)) fs.delete(p, true)
    }
    // measured bytes/row per table, updated from each completed era's own
    // on-disk output — the `maxRecordsPerFile` derivation (guide §6): the
    // first era writes unconstrained (nothing measured yet), every later
    // era caps records/file at targetFileBytes (512 MB by default, inside
    // the guide's 128 MB–1 GB band) / measured bytes-per-row, so a
    // multi-GB hot-table era splits into ~target-sized files instead of
    // whatever the stage's task count dictated. Self-tuning: the estimate
    // follows the corpus as row width drifts across eras.
    var rowBytes = Map.empty[String, Double]
    try eachEra(state, network, eras, force)(dropEraPartitions) { era =>
      val tables = StagedExport.networkTables(
        StagedExport.stage(Normalizer.decodeBlocks(loadEra(era)), stage), network)
      dropEraPartitions(era)
      // per-table counts ride the write jobs as observed metrics
      // (Sinks.writeCounted), so completion bookkeeping costs ZERO
      // post-write jobs (WarehouseResumeSpec asserts no read-back count
      // runs). The completion record counts the 15 datasets only, not
      // wide_blocks: it re-shapes the same blocks, and counting it would
      // make total_records diverge from the file-mode loop's accounting
      // for the same era.
      val written = Sinks.runQuiescent(spark, tables.map {
        case (name, df) => () =>
          val part = s"$netDir/$name/era_number=$era"
          Sinks.writeCounted(df)(Sinks.overwriteEraPartitions(_, s"$netDir/$name",
            rowBytes.get(name)
              .map(b => math.max(1L, (targetFileBytes / b).toLong))
              .getOrElse(0L))) {
            if (fs.exists(hp(part))) spark.read.parquet(part).count() else 0L
          }
      })
      val byTable = tables.map(_._1).zip(written)
      val counts = byTable
        .filter { case (name, _) => Normalizer.datasetNames.contains(name) }.toMap
      // every written table, wide_blocks included, measures its own width
      rowBytes ++= byTable.flatMap { case (name, rows) =>
        if (rows <= 0) None
        else {
          val p = hp(s"$netDir/$name/era_number=$era")
          val bytes =
            if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
          if (bytes > 0) Some(name -> bytes.toDouble / rows) else None
        }
      }
      (counts.filter(_._2 > 0).keys.toSeq.sorted, counts.values.sum)
    } finally {
      val p = hp(stage)
      if (fs.exists(p)) fs.delete(p, true)
    }
  }
}
