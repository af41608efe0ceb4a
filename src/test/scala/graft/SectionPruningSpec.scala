package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.decode.DecodeStats
import graft.operators.Normalizer

/** Section-pruned decode (SURVEY §4's decode-side column pruning, r13):
  * a single-table extract must produce EXACTLY the full decode's rows for
  * that table while parsing NONE of the other body sections. Equality is
  * pinned per table on the all-forks fixture (phase0 → electra, so the
  * payload-timestamp fixed-offset read is exercised on every post-merge
  * fork) plus the mainnet fixture; the skip itself is pinned by the
  * [[graft.decode.DecodeStats]] parse counters, seed-proven by the full
  * decode marking them. */
class SectionPruningSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val dir = graft.testkit.EraFixtures.ensureGenerated()
  private def records = spark.read.format("era").load(dir)

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("every table: pruned single-table decode ≡ full decode, row for row") {
    val full = Normalizer.decodeBlocks(records).cache()
    try {
      val sizes = Normalizer.datasetNames.map { name =>
        val want = sortedRows(Normalizer.dataset(full, name))
        val got = sortedRows(Normalizer.datasetPruned(records, name))
        assert(got === want, s"pruned decode diverged on $name")
        name -> want.size
      }.toMap
      // the all-forks fixture populates the core tables — an empty compare
      // would vacuously pass, so pin that the equality checks saw rows
      Seq("blocks", "attestations", "transactions", "sync_aggregates",
        "execution_payloads", "withdrawals").foreach { name =>
        assert(sizes(name) > 0, s"$name empty on the fixture — equality proved nothing")
      }
    } finally full.unpersist()
  }

  test("mainnet fixture: pruned blocks table keeps the genesis/payload timestamp ladder") {
    val recs = spark.read.format("era")
      .load(graft.testkit.MainnetEraFixture.ensureGenerated())
    val want = sortedRows(Normalizer.blocksTable(Normalizer.decodeBlocks(recs)))
    val got = sortedRows(Normalizer.blocksTable(
      Normalizer.decodeBlocks(recs, Set("blocks"))))
    assert(got === want)
  }

  test("a blocks-only extract parses NO variable body section (counter witness, seed-proven)") {
    val skipped = Seq("attestations", "execution_payload", "deposits",
      "sync_aggregate", "proposer_slashings", "attester_slashings",
      "voluntary_exits", "bls_to_execution_changes", "blob_kzg_commitments",
      "execution_requests")
    DecodeStats.reset()
    Normalizer.datasetPruned(records, "blocks").count()
    skipped.foreach { s =>
      assert(DecodeStats.count(s) === 0L, s"blocks extract parsed section $s")
    }
    // seed-proof: the counters actually observe parses — the full decode
    // over the same records must mark the heavy sections
    Normalizer.decodeBlocks(records).count()
    assert(DecodeStats.count("attestations") > 0L)
    assert(DecodeStats.count("execution_payload") > 0L)
    assert(DecodeStats.count("sync_aggregate") > 0L)
  }

  test("a transactions extract parses payloads but no attestations") {
    DecodeStats.reset()
    val n = Normalizer.datasetPruned(records, "transactions").count()
    assert(n > 0)
    assert(DecodeStats.count("execution_payload") > 0L)
    assert(DecodeStats.count("attestations") === 0L)
  }

  test("property: ANY section subset decodes its requested sections identically (seeded, all forks)") {
    import graft.decode.BlockDecoder
    import graft.model.BlockBody
    // every fixture block record (gnosis all-forks incl. the dense deneb
    // shape, plus the mainnet corpus), driver-side — one block per
    // fork/body shape, which is the axis the property varies over
    val blocks = (records unionByName spark.read.format("era")
        .load(graft.testkit.MainnetEraFixture.ensureGenerated()))
      .filter(org.apache.spark.sql.functions.col("record_type") === "block")
      .select("slot", "data", "network", "era_number", "source_file")
      .collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1), r.getString(2),
        r.getLong(3), r.getString(4)))
    assert(blocks.length >= 10, s"fixture too small: ${blocks.length} blocks")
    val sectionField: Map[String, BlockBody => Any] = Map(
      "proposer_slashings" -> (_.proposer_slashings),
      "attester_slashings" -> (_.attester_slashings),
      "attestations" -> (_.attestations),
      "deposits" -> (_.deposits),
      "voluntary_exits" -> (_.voluntary_exits),
      "sync_aggregate" -> (_.sync_aggregate),
      "execution_payload" -> (_.execution_payload),
      "bls_to_execution_changes" -> (_.bls_to_execution_changes),
      "blob_kzg_commitments" -> (_.blob_kzg_commitments),
      "execution_requests" -> (_.execution_requests))
    val all = BlockDecoder.AllSections.toSeq.sorted
    val rng = new scala.util.Random(13)
    val subsets = Seq(Set.empty[String], BlockDecoder.AllSections) ++
      (1 to 30).map(_ => all.filter(_ => rng.nextBoolean()).toSet)
    subsets.foreach { s =>
      blocks.foreach { case (slot, data, net, era, file) =>
        val full = BlockDecoder.decode(data, slot, graft.config.Networks(net), era, file)
        val pruned = BlockDecoder.decode(data, slot, graft.config.Networks(net),
          era, file, s)
        assert(full.isDefined === pruned.isDefined, s"slot $slot subset $s")
        (full, pruned) match {
          case (Some(f), Some(p)) =>
            // header + timestamp identical for EVERY subset — the
            // payload-ts fixed-offset read must agree with the full parse
            assert(f.slot === p.slot && f.proposer_index === p.proposer_index &&
              f.parent_root === p.parent_root && f.state_root === p.state_root &&
              f.signature === p.signature && f.version === p.version, s"slot $slot")
            assert(f.timestamp_utc === p.timestamp_utc,
              s"timestamp diverged at slot $slot subset $s")
            // every REQUESTED section decodes identically
            s.foreach { sec =>
              assert(sectionField(sec)(f.body) === sectionField(sec)(p.body),
                s"section $sec diverged at slot $slot subset $s")
            }
          case _ => ()
        }
      }
    }
  }

  test("every table's sections together are every section: the default decode is the full decode") {
    assert(Normalizer.datasetNames.flatMap(Normalizer.sectionsFor).toSet ===
      graft.decode.BlockDecoder.AllSections)
  }

  test("unknown table names fail loudly") {
    val e = intercept[IllegalArgumentException] {
      Normalizer.decodeBlocks(spark.emptyDataFrame, Set("blocks", "nope"))
    }
    assert(e.getMessage.contains("nope"))
  }
}
