package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{EraQueries, EraViews}

/** The raw-SQL view surface must be the SAME engine answering the SAME
  * question: every CLICKHOUSE.md-derived `spark.sql` text query must equal
  * its DataFrame twin row-for-row (same columns, same values, same order).
  */
class EraViewsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** (sql-text query, DataFrame twin) pairs under test. */
  private val twins = Seq(
    "era_sql_daily_activity" -> "era_daily_activity",
    "era_sql_attestation_participation" -> "era_attestation_participation",
    "era_sql_exits_monthly" -> "era_exits_monthly",
    "era_sql_tx_fee_recipients" -> "era_tx_fee_recipients",
    "era_sql_sync_participation" -> "era_sync_participation",
    "era_sql_slashing_classified" -> "era_slashing_classified",
    "era_sql_bls_top_validators" -> "era_bls_top_validators",
    "era_sql_blob_patterns" -> "era_blob_patterns")

  private def rows(name: String): (Seq[String], Seq[Seq[Any]]) = {
    val df = SparkEntry.queries(name)(spark, TestSpark.sf)
    (df.columns.toSeq, df.collect().toSeq.map(_.toSeq))
  }

  test("every era view registers and is queryable by name") {
    EraViews.register(spark)
    val expected = graft.operators.Normalizer.warehouseTables.map(_.name)
    expected.foreach { name =>
      assert(spark.catalog.tableExists(name), s"view $name missing")
      assert(spark.sql(s"SELECT * FROM $name").schema.nonEmpty)
    }
    // one spot value-check through pure SQL: blocks is non-empty and slot
    // is unique (the table's primary-key invariant)
    val dup = spark.sql(
      "SELECT slot FROM blocks GROUP BY slot HAVING count(*) > 1").count()
    assert(dup === 0L)
    assert(spark.sql("SELECT count(*) AS n FROM blocks").head().getLong(0) > 0L)
  }

  test("SQL-text queries equal their DataFrame twins row-for-row") {
    twins.foreach { case (sqlQ, dfQ) =>
      val (sqlCols, sqlRows) = rows(sqlQ)
      val (dfCols, dfRows) = rows(dfQ)
      assert(sqlCols.sorted === dfCols.sorted, s"$sqlQ column set differs")
      // align column order before comparing values
      val perm = dfCols.map(c => sqlCols.indexOf(c))
      val aligned = sqlRows.map(r => perm.map(r))
      assert(aligned === dfRows, s"$sqlQ rows differ from $dfQ")
    }
  }

  test("verbatim global-lag slot-gap SQL agrees with the scale-safe per-era restatement") {
    val (gCols, gRows) = rows("era_sql_slot_gaps")
    val (eCols, eRows) = rows("era_slot_gaps")
    // both produce (slot, prev_slot, gap); the DataFrame twin stitches
    // per-era windows with a broadcast boundary frame — same answer
    val gi = Seq("slot", "prev_slot", "gap").map(gCols.indexOf)
    val ei = Seq("slot", "prev_slot", "gap").map(eCols.indexOf)
    assert(gRows.map(r => gi.map(r)) === eRows.map(r => ei.map(r)))
  }

  test("analysis-chapter SQL additions produce non-empty, well-typed results") {
    // standalone (no DataFrame twin) — the DuckDB oracle is their value
    // gate; here we pin non-emptiness and the key invariants
    Seq("era_sql_deposit_trends", "era_sql_consolidation_addresses",
        "era_sql_consolidation_efficiency", "era_sql_tx_hourly",
        "era_sql_gas_utilization").foreach { name =>
      val df = SparkEntry.queries(name)(spark, TestSpark.sf)
      assert(df.count() > 0, s"$name is empty on the fixture corpus")
    }
    // gas utilization: percent bounded and payload join 1:1 on slot
    val gas = SparkEntry.queries("era_sql_gas_utilization")(spark, TestSpark.sf)
    gas.collect().foreach { r =>
      val pct = r.getAs[Double]("gas_utilization_percent")
      assert(pct > 0.0 && pct <= 100.0, s"gas pct out of range: $pct")
    }
  }

  test("era-state SQL surface agrees with the state-manager operators") {
    import graft.queries.EraStateFixture
    val mgr = EraStateFixture.manager(spark)
    // status summary (CLICKHOUSE.md:347) == the A5 summary operator
    val viaSql = SparkEntry.queries("era_sql_state_status")(spark, TestSpark.sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val viaOp = mgr.summary(EraStateFixture.Network)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viaSql === viaOp)
    // the history has both a terminal failure and a retried-then-completed
    // era, so every documented report is non-trivial
    val failed = SparkEntry.queries("era_sql_state_failed")(spark, TestSpark.sf)
      .collect()
    assert(failed.length === 1 && failed.head.getAs[Long]("retry_count") >= 1L)
    val recent = SparkEntry.queries("era_sql_state_recent")(spark, TestSpark.sf)
    // latest-state view: exactly one row per fixture era, newest first
    val eras = recent.collect().map(_.getAs[Long]("era_number")).toSeq
    assert(eras === eras.sorted.reverse && eras.distinct.size === eras.size)
    // perf query scans the RAW log: events ≥ one start + one terminal per era
    val perf = SparkEntry.queries("era_sql_state_perf")(spark, TestSpark.sf)
      .collect()
    assert(perf.map(_.getAs[Long]("events")).sum >= 2L * eras.size)
  }

  test("the SQL surface reuses the shared decode (no second era scan)") {
    EraViews.register(spark)
    val plan = spark.sql("SELECT count(*) FROM attestations")
      .queryExecution.optimizedPlan.toString
    // the cached decode shows up as an InMemoryRelation scan, not a fresh
    // era-format source scan
    assert(plan.contains("InMemoryRelation") || !plan.contains("era"),
      s"view query re-scans the era source:\n$plan")
  }
}
