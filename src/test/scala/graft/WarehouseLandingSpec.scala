package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, expr}
import org.scalatest.funsuite.AnyFunSuite

import graft.export.{EraStateManager, IncrementalExporter}
import graft.operators.Normalizer
import graft.queries.EraViews

/** The warehouse loop's write-side bookkeeping over eras built from scratch
  * (a phase0 era and two altair eras, [[SyntheticEra]]), so it runs without
  * the reference fixtures: the completion record of every era equals the
  * per-table reference counts, the tables the corpus leaves empty still
  * bind and count 0, a second run processes nothing and touches no file,
  * and no read-back `count` runs while the eras land. The landing runs on
  * a plain path, a `file:` URI and a `testfs:` URI ([[OnEveryRoot]]). */
class WarehouseLandingSpec extends AnyFunSuite with OnEveryRoot {

  private lazy val spark = TestSpark.spark

  private val eras = Seq(0L, 1L, 2L)

  /** The synthetic eras, written once for every run. */
  private lazy val records = {
    val src = Files.createTempDirectory("graft-whland-src").toString
    eras.foreach(e => SyntheticEra.write(src, e, if (e == 0) 6 else 5))
    spark.read.format("era").load(src)
  }

  /** Reference: (table, era) -> rows, straight from the decode. */
  private lazy val want: Map[(String, Long), Long] = {
    val decoded = Normalizer.decodeBlocks(records)
    Normalizer.datasetNames.flatMap { t =>
      Normalizer.dataset(decoded, t).groupBy(expr("slot div 8192")).count()
        .collect().map(r => (t, r.getLong(0)) -> r.getLong(1))
    }.toMap.withDefaultValue(0L)
  }

  /** Every file under `dir` with its modification time. */
  private def files(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> p.toFile.lastModified()).toMap
    finally walk.close()
  }

  testOnEveryRoot("runWarehouse: completion counts = per-table reference, empty tables bind, resume idles") {
      (root, local) =>
    def loadEra(era: Long) = records.filter(col("era_number") === era)
    val (wh, stateDir) = (s"$root/wh", s"$root/state")
    val state = new EraStateManager(spark, stateDir)

    var done = Seq.empty[Long]
    val actions = JobLog.actions(spark) {
      done = IncrementalExporter.runWarehouse(spark, state, "gnosis", eras, wh)(loadEra)
    }
    assert(done === eras)
    assert(actions.contains("command") && !actions.contains("count"),
      s"the landing ran a read-back count: $actions")

    val recorded = state.eraStatus.filter(col("network") === "gnosis")
      .select("era_number", "status", "total_records", "datasets_processed")
      .collect().map(r => r.getLong(0) -> r).toMap
    eras.foreach { era =>
      val r = recorded(era)
      val nonEmpty = Normalizer.datasetNames.filter(t => want((t, era)) > 0).sorted
      assert(r.getString(1) === "completed")
      assert(r.getLong(2) === Normalizer.datasetNames.map(t => want((t, era))).sum,
        s"era $era: recorded total differs from the per-table reference")
      assert(r.getSeq[String](3) === nonEmpty, s"era $era: recorded table list")
    }

    // every table binds; the ones the corpus never fills count 0
    EraViews.registerWarehouse(spark, wh, "gnosis")
    Normalizer.datasetNames.foreach { t =>
      val n = spark.sql(s"SELECT count(*) FROM $t").head().getLong(0)
      assert(n === eras.map(e => want((t, e))).sum, s"$t: warehouse rows")
    }
    assert(spark.sql("SELECT count(*) FROM wide_blocks").head().getLong(0) ===
      eras.map(e => want(("blocks", e))).sum, "wide_blocks: warehouse rows")
    Seq("withdrawals", "deposits", "transactions").foreach { t =>
      assert(eras.forall(e => want((t, e)) == 0L), s"$t is not empty in this corpus")
    }
    assert(eras.forall(e => want(("attestations", e)) > 0L) &&
      want(("sync_aggregates", 1L)) > 0L, "the corpus must fill some tables")
    assert(!Files.exists(Paths.get(s"$local/wh/gnosis/_stage")))

    // a second run finds every era completed: it decodes nothing and
    // leaves every file where it was
    val before = files(s"$local/wh")
    assert(before.nonEmpty)
    assert(IncrementalExporter.runWarehouse(spark, new EraStateManager(spark, stateDir),
      "gnosis", eras, wh)(e => fail(s"re-decoded era $e")).isEmpty)
    assert(files(s"$local/wh") === before, "a run with nothing to do touched the warehouse")
  }

  test("wide_blocks takes its era from the slot, like every table, when the file name carries none") {
    val src = Files.createTempDirectory("graft-whland-custom").toString
    Files.move(SyntheticEra.write(src, 1, 5).toPath, Paths.get(src, "gnosis-custom.era"))
    val custom = spark.read.format("era").load(src)
    assert(custom.select("era_number").distinct().collect().map(_.getLong(0)).toSeq === Seq(0L),
      "the renamed file must carry no era in its name")
    val wh = Files.createTempDirectory("graft-whland-custom-wh").toString
    val state = new EraStateManager(spark,
      Files.createTempDirectory("graft-whland-custom-state").toString)
    assert(IncrementalExporter.runWarehouse(spark, state, "gnosis", Seq(1L), wh)(_ => custom)
      === Seq(1L))
    EraViews.registerWarehouse(spark, wh, "gnosis")
    def eraValues(t: String): Set[Long] =
      spark.sql(s"SELECT DISTINCT era_number FROM $t").collect().map(_.getLong(0)).toSet
    assert(eraValues("blocks") === Set(1L))
    assert(eraValues("wide_blocks") === eraValues("blocks"))
  }
}
