package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{EraQueries, EraViews}
import graft.testkit.{EraFixtures, MainnetEraFixture}

/** The at-rest half of the SQL contract: a reference user pastes SQL
  * against the EXPORTED tables, not an in-session decode. This spec writes
  * the full era-partitioned warehouse once through the per-era loop
  * ([[EraViews.landWarehouse]]), binds the views to it
  * ([[EraViews.registerWarehouse]]), and asserts
  *  - the `era_sql_*` texts return the SAME rows from the warehouse as
  *    from the decode-backed views;
  *  - an era-filtered query against a warehouse view prunes to exactly
  *    one partition directory (through the partition-key cast the schema
  *    alignment inserts);
  *  - every table + the wide shape round-trips with the canonical decode
  *    schema.
  */
class EraWarehouseSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def records(dirs: String*) = spark.read.format("era").load(dirs: _*)

  /** One warehouse for the whole suite, landed once. */
  private lazy val warehouseDir: String = {
    val root = Files.createTempDirectory("era-warehouse").toString
    EraViews.landWarehouse(records(EraFixtures.ensureGenerated()), s"$root/wh")
    s"$root/wh"
  }

  /** Run a SQL text against the CURRENTLY-registered views. */
  private def run(text: String): (Seq[String], Seq[Seq[Any]]) = {
    val df = spark.sql(text)
    (df.columns.toSeq, df.collect().toSeq.map(_.toSeq))
  }

  private val texts = Seq(
    "daily_activity" -> EraViews.DailyActivitySql,
    "attestation_participation" -> EraViews.AttestationParticipationSql,
    "exits_monthly" -> EraViews.ExitsMonthlySql,
    "tx_fee_recipients" -> EraViews.TxFeeRecipientsSql)

  test("era_sql_* texts return identical rows from the warehouse and the decode") {
    EraViews.register(spark)
    val fromDecode = texts.map { case (n, t) => n -> run(t) }
    EraViews.registerWarehouse(spark, warehouseDir)
    val fromWarehouse = texts.map { case (n, t) => n -> run(t) }.toMap
    fromDecode.foreach { case (name, (cols, rows)) =>
      val (wCols, wRows) = fromWarehouse(name)
      assert(wCols === cols, s"$name: warehouse columns differ")
      assert(wRows === rows, s"$name: warehouse rows differ from decode")
      assert(rows.nonEmpty, s"$name: vacuous comparison (no rows)")
    }
  }

  test("warehouse views = canonical decode schema + era_number, wide shape included") {
    EraViews.register(spark)
    val decodeSchemas =
      graft.operators.Normalizer.warehouseTables.map(_.name)
        .map(n => n -> spark.table(n).schema.map(f => (f.name, f.dataType))).toMap
    val decodeCols = decodeSchemas.view.mapValues(_.map(_._1)).toMap
    EraViews.registerWarehouse(spark, warehouseDir)
    decodeSchemas.foreach { case (name, expected) =>
      val atRest = spark.table(name).schema.map(f => (f.name, f.dataType))
      assert(atRest ===
        expected :+ ("era_number" -> org.apache.spark.sql.types.LongType),
        s"$name schema drifted at rest")
    }
    // the wide shape round-trips its values on the shared columns
    // (JSON-embedded children survive the parquet round trip
    // byte-for-byte), and the ARITHMETIC era the warehouse writer derives
    // equals the decode's filename-metadata era on every block
    val wideCols = decodeCols("wide_blocks").map(col)
    val atRestWide = spark.table("wide_blocks")
      .select(wideCols: _*).orderBy(col("slot")).collect().toSeq.map(_.toSeq)
    val atRestEras = spark.table("blocks").select(col("slot"), col("era_number"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    EraViews.register(spark)
    val decodedWide = spark.table("wide_blocks")
      .orderBy(col("slot")).collect().toSeq.map(_.toSeq)
    assert(atRestWide === decodedWide)
    val decodedEras = EraQueries.blocks(spark).toDF()
      .select(col("slot"), col("era_number"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(atRestEras === decodedEras,
      "arithmetic era (slot div slots_per_historical_root) disagrees with decode metadata")
  }

  test("an era-filtered warehouse query prunes to one partition directory") {
    EraViews.registerWarehouse(spark, warehouseDir)
    val eras = spark.table("blocks").select(col("era_number")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(eras.length > 1, "fixture corpus must span multiple eras")
    // the user-facing path: a plain SQL text with an era predicate — the
    // schema-alignment cast must not defeat partition pruning
    val one = spark.sql(
      s"SELECT count(*) AS n FROM attestations WHERE era_number = ${eras.head}")
    val scan = one.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.selectedPartitions.partitionCount === 1,
      s"expected 1 pruned partition, scanned ${scan.selectedPartitions.partitionCount} of ${eras.length}")
    assert(scan.metadata("PartitionFilters").contains("era_number"))
    // values agree with the decode under the same predicate (the decode
    // views don't expose the partition key; filter the block frame itself)
    val n = one.head().getLong(0)
    val expected = graft.operators.Normalizer.dataset(
      EraQueries.blocks(spark).filter(col("era_number") === eras.head),
      "attestations").count()
    assert(n === expected && n > 0L)
  }

  test("one warehouse root holds gnosis AND mainnet, era arithmetic per network") {
    // the reference's state layer keys on network
    // (era_state_manager.py:350-377): one store, many networks. Export a
    // combined corpus and verify each network's subtree binds on its own
    // with its own slot geometry.
    val root = Files.createTempDirectory("era-warehouse-multinet").toString
    val gnosis = EraQueries.blocks(spark)
    val mainnet = EraQueries.mainnetBlocks(spark)
    EraViews.landWarehouse(
      records(EraFixtures.ensureGenerated(), MainnetEraFixture.ensureGenerated()),
      s"$root/wh")
    // ambiguous auto-detect must refuse, not guess
    val e = intercept[IllegalArgumentException] {
      EraViews.registerWarehouse(spark, s"$root/wh")
    }
    assert(e.getMessage.contains("gnosis") && e.getMessage.contains("mainnet"))
    Seq("gnosis" -> gnosis, "mainnet" -> mainnet).foreach { case (net, src) =>
      EraViews.registerWarehouse(spark, s"$root/wh", net)
      val bound = spark.sql("SELECT slot, era_number FROM blocks").collect().toSeq
      // exactly this network's blocks — the canonical schemas carry no
      // network column (the subtree IS the network), so leakage shows up
      // as foreign slots / wrong cardinality
      val expected = src.toDF().select(col("slot"), col("era_number"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(bound.size === expected.size,
        s"$net subtree bound ${bound.size} blocks, decode has ${expected.size}")
      // arithmetic era (slot div slots_per_historical_root, THIS network's
      // geometry) must equal the decode's filename-metadata era
      bound.foreach { r =>
        assert(expected.contains(r.getLong(0)),
          s"$net subtree leaked a foreign slot ${r.getLong(0)}")
        assert(r.getLong(1) === expected(r.getLong(0)),
          s"$net slot ${r.getLong(0)}: warehouse era drifted from decode era")
      }
    }
  }

  test("a warehouse with a legitimately EMPTY table still binds and queries") {
    // a phase0-only corpus has no withdrawals/bls_changes/execution
    // requests — such a table's directory holds no part files, and the
    // explicit-schema read must bind those tables as empty views instead
    // of dying in schema inference
    val root = Files.createTempDirectory("era-warehouse-empty").toString
    val phase0 = EraQueries.blocks(spark).filter(col("era_number") === 0L)
    assert(phase0.count() > 0, "fixture corpus must contain era-0 (phase0) blocks")
    EraViews.landWarehouse(
      records(EraFixtures.ensureGenerated()).filter(col("era_number") === 0L),
      s"$root/wh")
    EraViews.registerWarehouse(spark, s"$root/wh")
    val w = spark.sql("SELECT count(*) AS n FROM withdrawals").head().getLong(0)
    assert(w === 0L, "phase0 corpus must yield an empty withdrawals table")
    // and the non-empty tables still answer
    val b = spark.sql("SELECT count(*) AS n FROM blocks").head().getLong(0)
    assert(b === phase0.count())
  }
}
