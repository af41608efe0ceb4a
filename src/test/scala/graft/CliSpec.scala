package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Normalizer
import graft.testkit.EraFixtures

/** CLI verb surface (cli.py:8-54 shape). Each test drives Cli.main
  * end-to-end; Cli owns (and stops) its SparkSession. */
class CliSpec extends AnyFunSuite with OnEveryRoot {

  private lazy val eraDir = EraFixtures.ensureGenerated()

  private def captureOut(body: => Unit): String = {
    val bos = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(bos)) {
      val old = System.out
      System.setOut(new PrintStream(bos))
      try body finally System.setOut(old)
    }
    bos.toString("UTF-8")
  }

  test("block verb prints beacon-API JSON for the requested slot") {
    val out = captureOut {
      Cli.main(Array(eraDir, "block", "98300"))
    }
    assert(out.contains("\"slot\":\"98300\""))
    assert(out.contains("\"sync_aggregate\"")) // altair body present
  }

  /** `graft <eras> all-blocks <root>/out.parquet --separate` on the shared
    * test session (pre-existing, so the CLI leaves it running), checked
    * against the staged fan-out's contract: each printed count equals the
    * per-table reference, the stage beside the output is gone, and every
    * job the call launched wrote output — none read it back to count it.
    * `root` names the local directory `dir`, as a plain path or a URI.
    * Returns what the CLI printed. */
  private def separateExport(eras: String, root: String, dir: String): String = {
    val spark = TestSpark.spark
    var out = ""
    val jobs = JobLog.during(spark) {
      out = captureOut {
        Cli.main(Array(eras, "all-blocks", s"$root/out.parquet", "--separate"))
      }
    }
    assert(jobs.nonEmpty && JobLog.readOnly(jobs).isEmpty, s"read-back jobs ran: $jobs")
    val left = new java.io.File(dir).list().toSeq
    assert(!left.exists(_.endsWith("__stage")), s"stage left behind: $left")
    val blocks = Normalizer.decodeBlocks(spark.read.format("era").load(eras))
    Normalizer.datasetNames.foreach { t =>
      val want = s"$t: ${Normalizer.dataset(blocks, t).count()} records"
      assert(out.linesIterator.contains(want), s"expected '$want' in:\n$out")
    }
    out
  }

  test("all-blocks --separate fans out the datasets with reference naming") {
    val dir = Files.createTempDirectory("cli-out").toString
    val out = separateExport(eraDir, dir, dir)
    assert(out.contains("blocks: 8 records")) // 8 fixture eras, 1 block each
    assert(Files.exists(Paths.get(s"$dir/out_blocks.parquet")))
    assert(Files.exists(Paths.get(s"$dir/out_attestations.parquet")))
    assert(Files.exists(Paths.get(s"$dir/out_SUMMARY.txt")))
  }

  testOnEveryRoot("all-blocks --separate over from-scratch era files: same contract") {
      (root, dir) =>
    val eras = Files.createTempDirectory("cli-syn-eras").toString
    SyntheticEra.write(eras, 0, 6)
    SyntheticEra.write(eras, 1, 5)
    val out = separateExport(eras, root, dir)
    assert(out.linesIterator.contains("blocks: 11 records"), out)
    assert(out.linesIterator.contains("attestations: 11 records"), out)
    // the SUMMARY sits beside the tables
    assert(Files.exists(Paths.get(s"$dir/out_blocks.parquet")))
    assert(Files.exists(Paths.get(s"$dir/out_SUMMARY.txt")))
  }

  testOnEveryRoot("--remote names the era that failed and returns a non-zero status") {
      (root, dir) =>
    // era 1 downloads intact; era 2's transfer is cut off half way — a
    // corrupt era the loop must record as failed, not report as done
    val src = Files.createTempDirectory("cli-remote-src").toString
    val files = Seq(SyntheticEra.write(src, 1, 4), SyntheticEra.write(src, 2, 4))
    val bytes = files.map(f => f.getName -> Files.readAllBytes(f.toPath)).toMap
    val corrupt = files(1).getName
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val name = ex.getRequestURI.getPath.stripPrefix("/")
      val body: Array[Byte] =
        if (Option(ex.getRequestURI.getQuery).exists(_.contains("list-type=2")))
          bytes.keys.map(k => s"<Key>$k</Key>").mkString("<ListBucketResult>", "",
            "</ListBucketResult>").getBytes("UTF-8")
        else bytes.getOrElse(name, Array.emptyByteArray)
      try {
        if (body.isEmpty) ex.sendResponseHeaders(404, -1)
        else {
          ex.sendResponseHeaders(200, body.length)
          val sent = if (name == corrupt) body.length / 2 else body.length
          ex.getResponseBody.write(body, 0, sent)
        }
        ex.close()
      } catch { case _: java.io.IOException => () } // the short body's close
    })
    server.start()
    try {
      val cache = Files.createTempDirectory("cli-remote-cache").toString
      def remote(): (Int, String) = {
        var status = -1
        val out = captureOut {
          status = Cli.run(Array("--remote", s"http://127.0.0.1:${server.getAddress.getPort}",
            "gnosis", "1-2", "all-blocks", s"$root/out/remote.parquet",
            "--state-dir", s"$root/state", "--cache-dir", cache))
        }
        (status, out)
      }
      val (status, out) = remote()
      assert(out.linesIterator.contains("processed 1 of 2 eras; 1 failed: 2"), out)
      assert(status === 1)
      // the intact era landed through the staged fan-out, its stage
      // removed, its SUMMARY beside its tables
      def landed = new java.io.File(s"$dir/out").list().toSeq
      assert(landed.contains("remote_era_00001_blocks.parquet"), landed)
      assert(landed.contains("remote_era_00001_SUMMARY.txt"), landed)
      assert(!landed.exists(_.contains("__stage")), landed)

      // resume: the completed era is not redone, the failed one is retried
      val summary = Paths.get(s"$dir/out/remote_era_00001_SUMMARY.txt")
      val written = Files.getLastModifiedTime(summary)
      val (again, out2) = remote()
      assert(out2.linesIterator.contains("processed 0 of 2 eras; 1 failed: 2"), out2)
      assert(again === 1)
      assert(Files.getLastModifiedTime(summary) === written, "era 1 was exported again")

      // a killed run's partial output of the failed era, then the clean-up
      Files.createDirectories(Paths.get(s"$dir/out/remote_era_00002_blocks.parquet"))
      val cleaned = captureOut {
        Cli.run(Array("--clean-failed-eras", "gnosis", "--state-dir", s"$root/state",
          "--data-root", s"$root/out"))
      }
      assert(cleaned.linesIterator.contains("cleaned 1 failed eras: 2"), cleaned)
      assert(!landed.exists(_.startsWith("remote_era_00002")), landed)
      assert(landed.contains("remote_era_00001_blocks.parquet"), landed)
    } finally server.stop(0)
  }

  test("--export-jdbc routes a dataset into a JDBC table (S15 path)") {
    val db = Files.createTempDirectory("cli-derby").toString + "/db"
    val out = captureOut {
      Cli.main(Array(eraDir, "attestations", "--export-jdbc", s"jdbc:derby:$db;create=true"))
    }
    assert(out.contains("attestations: exported to jdbc"))
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    val n = spark.read.jdbc(s"jdbc:derby:$db", "attestations", new java.util.Properties()).count()
    assert(n > 0)
  }

  test("value-taking flags may precede positionals without shifting them") {
    val db = Files.createTempDirectory("cli-derby2").toString + "/db"
    val out = captureOut {
      Cli.main(Array("--export-jdbc", s"jdbc:derby:$db;create=true", eraDir, "attestations"))
    }
    assert(out.contains("attestations: exported to jdbc"))
  }

  test("dataset verb writes a single dataset") {
    val dir = Files.createTempDirectory("cli-out2").toString
    val out = captureOut {
      Cli.main(Array(eraDir, "attestations", s"$dir/att.csv"))
    }
    assert(out.contains("attestations:"))
    assert(Files.exists(Paths.get(s"$dir/att.csv")))
  }

  test("--strict-decode routes the single-table verb through the full parse, value-identical on clean input") {
    // the ADVICE r13 parity flag: pruned (default) and strict extract the
    // same rows on well-formed blocks; strict additionally restores the
    // reference's drop-on-corruption semantics (SectionPruningSpec pins
    // the divergent-corruption case at the decoder level)
    val dir = Files.createTempDirectory("cli-strict").toString
    captureOut {
      Cli.main(Array(eraDir, "attestations", s"$dir/pruned.csv"))
      Cli.main(Array(eraDir, "attestations", s"$dir/strict.csv", "--strict-decode"))
    }
    def lines(p: String): Seq[String] = {
      val f = new java.io.File(p)
      val files = if (f.isDirectory) f.listFiles().toSeq else Seq(f)
      files.filter(_.getName.endsWith(".csv"))
        .flatMap(x => scala.io.Source.fromFile(x).getLines().toSeq)
    }
    assert(lines(s"$dir/pruned.csv").sorted === lines(s"$dir/strict.csv").sorted)
  }

  test("query verb lists the surface, prints a result, and writes through the sink layer") {
    val listed = captureOut { Cli.main(Array("query", "list")) }
    assert(listed.linesIterator.contains("dedup_exact"))
    assert(listed.linesIterator.contains("cur_funnel"))
    val shown = captureOut {
      Cli.main(Array("query", "cur_source_mix", "/root/testdata/sf0.001"))
    }
    assert(shown.contains("token_share"))
    val dir = Files.createTempDirectory("cli-q").toString
    val out = captureOut {
      Cli.main(Array("query", "text_quality", "/root/testdata/sf0.001", s"$dir/q.csv"))
    }
    assert(out.contains("text_quality: 500 records"))
    assert(Files.exists(Paths.get(s"$dir/q.csv")))
  }
}
