package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.export.{EraStateManager, IncrementalExporter}
import graft.queries.EraViews
import graft.testkit.EraFixtures

/** The reference's production contract as ONE store: resume → per-era
  * atomic export → paste SQL against the SAME warehouse
  * (clickhouse_exporter.py:37-82 + era_state_manager.py:102-168 +
  * docs/CLICKHOUSE.md:340+). A run hard-killed mid-era — with a torn
  * partial partition on disk — must, on re-run over the same state dir,
  * process exactly the non-completed eras, never rewrite a completed
  * era's files, and land a warehouse equal to an uninterrupted run's,
  * table for table; and the SQL surface bound to the warehouse must see
  * exactly the completed eras at every point. */
class WarehouseResumeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private class SimulatedCrash extends Error("simulated mid-run death")

  private def rowsOf(path: String): Seq[String] =
    spark.read.parquet(path).collect().toSeq
      .map(_.toSeq.mkString("|")).sorted

  private def partDirs(tableDir: String): Seq[String] =
    new java.io.File(tableDir).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("era_number="))
      .map(_.getName).sorted

  test("mid-era kill + torn partition resumes to the uninterrupted warehouse") {
    val eraDir = EraFixtures.ensureGenerated()
    val files: Map[Long, String] = new java.io.File(eraDir).listFiles().toSeq
      .filter(_.getName.endsWith(".era"))
      .map(f => f.getName.split("-")(1).toLong -> f.getAbsolutePath).toMap
    val eras = files.keys.toSeq.sorted
    assert(eras.size >= 5, "need a multi-era corpus to interrupt meaningfully")
    def loadEra(era: Long) = spark.read.format("era").load(files(era))

    // ── reference: one uninterrupted warehouse run ─────────────────────
    // per-table completion counts ride the write jobs as observed
    // metrics: no read-back `count` may run (Sinks.writeCounted's
    // timeout fallback is the only count on this path and must never fire)
    val whA = Files.createTempDirectory("graft-whres-a").toString
    val stateA = new EraStateManager(spark,
      Files.createTempDirectory("graft-whres-state-a").toString)
    var procA = Seq.empty[Long]
    val actions = JobLog.actions(spark) {
      procA = IncrementalExporter.runWarehouse(spark, stateA, "gnosis", eras, whA)(loadEra)
    }
    assert(procA === eras)
    assert(actions.contains("command") && !actions.contains("count"),
      s"completion bookkeeping ran a read-back count: $actions")
    // and the write-side counts are the TRUE per-table totals: the state
    // log's total_records equals an independent read-back sum over every
    // table except wide_blocks (excluded from the record by contract)
    val recordedTotal = stateA.eraStatus
      .agg(org.apache.spark.sql.functions.sum(col("total_records")))
      .head().getLong(0)
    val countTables = new java.io.File(s"$whA/gnosis").listFiles().toSeq
      .filter(f => f.isDirectory && !f.getName.startsWith("_"))
      .map(_.getName).filterNot(_ == "wide_blocks")
    val actualTotal = countTables
      .map(t => spark.read.parquet(s"$whA/gnosis/$t").count()).sum
    assert(recordedTotal === actualTotal,
      s"observed write-side counts diverge from table contents: " +
        s"$recordedTotal vs $actualTotal")

    // ── the crashing run: dies loading era k ───────────────────────────
    val whB = Files.createTempDirectory("graft-whres-b").toString
    val stateDirB = Files.createTempDirectory("graft-whres-state-b").toString
    val k = 3
    val survivors = eras.take(k).toSet
    intercept[SimulatedCrash] {
      IncrementalExporter.runWarehouse(spark,
          new EraStateManager(spark, stateDirB), "gnosis", eras, whB) { era =>
        if (!survivors.contains(era)) throw new SimulatedCrash
        loadEra(era)
      }
    }
    val crashedState = new EraStateManager(spark, stateDirB)
    assert(crashedState.completedEras("gnosis").collect()
      .map(_.getLong(0)).sorted.toSeq === eras.take(k))
    assert(crashedState.eraStatus
      .filter(col("era_number") === eras(k)).select("status")
      .collect().map(_.getString(0)).toSeq === Seq("processing"))

    // torn write a kill can leave: garbage parquet in the dying era's
    // blocks partition (resume must drop + replace it)
    val tornDir = s"$whB/gnosis/blocks/era_number=${eras(k)}"
    spark.range(5).toDF("garbage").write.mode("overwrite").parquet(tornDir)

    // ── mid-crash SQL contract: completed eras are cleanly queryable ───
    // a consumer follows the reference's discipline — filter to
    // era_completion's completed set; partition pruning then never opens
    // the torn directory
    EraViews.registerWarehouse(spark, whB, "gnosis")
    val doneList = eras.take(k).mkString(", ")
    val midCounts = spark.sql(
      s"""SELECT era_number, count(*) AS n FROM blocks
         |WHERE era_number IN ($doneList)
         |GROUP BY era_number ORDER BY era_number""".stripMargin)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    EraViews.registerWarehouse(spark, whA, "gnosis")
    val refCounts = spark.sql(
      s"""SELECT era_number, count(*) AS n FROM blocks
         |WHERE era_number IN ($doneList)
         |GROUP BY era_number ORDER BY era_number""".stripMargin)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    assert(midCounts === refCounts && midCounts.size === k,
      "completed eras must be fully queryable mid-crash")

    // fingerprint a COMPLETED era's partition files: resume must not touch
    val donePart = s"$whB/gnosis/blocks/era_number=${eras.head}"
    val doneMtimes = new java.io.File(donePart).listFiles().toSeq
      .map(f => f.getName -> f.lastModified()).toMap
    assert(doneMtimes.nonEmpty)

    // ── resume over the same state dir ─────────────────────────────────
    val procResume = IncrementalExporter.runWarehouse(spark,
      new EraStateManager(spark, stateDirB), "gnosis", eras, whB)(loadEra)
    assert(procResume === eras.drop(k),
      "resume must process exactly the non-completed eras, in order")
    val after = new java.io.File(donePart).listFiles().toSeq
      .map(f => f.getName -> f.lastModified()).toMap
    assert(after === doneMtimes, "resume rewrote a completed era's partition")

    // ── equality: every table, every partition, row for row ────────────
    val tables = new java.io.File(s"$whA/gnosis").listFiles().toSeq
      .filter(f => f.isDirectory && !f.getName.startsWith("_"))
      .map(_.getName).sorted
    assert(tables.contains("blocks") && tables.contains("wide_blocks"))
    tables.foreach { t =>
      assert(partDirs(s"$whA/gnosis/$t") === partDirs(s"$whB/gnosis/$t"),
        s"$t: partition sets differ after crash-resume")
      partDirs(s"$whA/gnosis/$t").foreach { p =>
        assert(rowsOf(s"$whA/gnosis/$t/$p") === rowsOf(s"$whB/gnosis/$t/$p"),
          s"$t/$p contents differ after crash-resume")
      }
    }
    // no torn garbage survived anywhere
    assert(rowsOf(tornDir) === rowsOf(s"$whA/gnosis/blocks/era_number=${eras(k)}"))

    // ── post-resume: an era_sql_* text sees exactly the completed eras ─
    val resumedState = new EraStateManager(spark, stateDirB)
    assert(resumedState.completedEras("gnosis").collect()
      .map(_.getLong(0)).sorted.toSeq === eras)
    EraViews.registerWarehouse(spark, whB, "gnosis")
    val fromB = spark.sql(EraViews.DailyActivitySql).collect().toSeq.map(_.toSeq)
    val erasSeen = spark.sql("SELECT DISTINCT era_number FROM blocks")
      .collect().map(_.getLong(0)).sorted.toSeq
    EraViews.registerWarehouse(spark, whA, "gnosis")
    val fromA = spark.sql(EraViews.DailyActivitySql).collect().toSeq.map(_.toSeq)
    assert(fromB === fromA && fromA.nonEmpty,
      "era_sql text differs between resumed and uninterrupted warehouse")
    assert(erasSeen === eras, "warehouse SQL must see exactly the completed eras")

    // the per-era stage was cleaned up and never registered as a table
    assert(!Files.exists(Paths.get(s"$whB/gnosis/_stage")))
  }

  test("two networks' incremental loops share one warehouse root") {
    // the reference's state layer tracks many networks in one store
    // (era_state_manager.py:350-377); here two per-network loops write
    // disjoint subtrees of one root with ONE state log between them
    val gnosisDir = EraFixtures.ensureGenerated()
    val mainnetDir = graft.testkit.MainnetEraFixture.ensureGenerated()
    def erasOf(dir: String): Map[Long, String] =
      new java.io.File(dir).listFiles().toSeq
        .filter(_.getName.endsWith(".era"))
        .groupBy(_.getName.split("-")(1).toLong)
        .map { case (e, fs) => e -> fs.map(_.getAbsolutePath).mkString(",") }
    val wh = Files.createTempDirectory("graft-whres-multi").toString
    val state = new EraStateManager(spark,
      Files.createTempDirectory("graft-whres-multi-state").toString)
    val gEras = erasOf(gnosisDir)
    val mEras = erasOf(mainnetDir)
    val gDone = IncrementalExporter.runWarehouse(spark, state, "gnosis",
      gEras.keys.toSeq.sorted, wh) { e =>
      spark.read.format("era").load(gEras(e).split(","): _*)
    }
    val mDone = IncrementalExporter.runWarehouse(spark, state, "mainnet",
      mEras.keys.toSeq.sorted, wh) { e =>
      spark.read.format("era").load(mEras(e).split(","): _*)
    }
    assert(gDone.nonEmpty && mDone.nonEmpty)
    // the shared state log keys on network: re-running either loop
    // processes nothing (both networks' eras read completed)
    assert(IncrementalExporter.runWarehouse(spark, state, "gnosis",
      gEras.keys.toSeq.sorted, wh)(e => fail(s"re-decoded era $e")).isEmpty)
    assert(IncrementalExporter.runWarehouse(spark, state, "mainnet",
      mEras.keys.toSeq.sorted, wh)(e => fail(s"re-decoded era $e")).isEmpty)
    // each subtree binds and answers with exactly its own corpus
    EraViews.registerWarehouse(spark, wh, "gnosis")
    val gBlocks = spark.sql("SELECT count(*) AS n FROM blocks").head().getLong(0)
    EraViews.registerWarehouse(spark, wh, "mainnet")
    val mBlocks = spark.sql("SELECT count(*) AS n FROM blocks").head().getLong(0)
    assert(gBlocks === graft.queries.EraQueries.blocks(spark).count())
    assert(mBlocks === graft.queries.EraQueries.mainnetBlocks(spark).count())
  }
}
