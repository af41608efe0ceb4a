package graft

import java.io.File
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.{LocalFileSystem, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuiteLike

/** The local disk under a scheme of its own, `testfs:`. Hadoop resolves a
  * `testfs:///tmp/x` path through `fs.testfs.impl` to `/tmp/x`, like any
  * cluster store it has a connector for; java.nio and java.io.File take it
  * for a relative path under a directory named `testfs:`. So a spec that
  * passes its outputs or state as `testfs:` URIs shows the code reached
  * them through the Hadoop `FileSystem`, as it would reach hdfs:// or
  * s3a://, without a network. */
class TestSchemeFileSystem extends LocalFileSystem(new TestSchemeFileSystem.Raw) {
  override def getScheme: String = TestSchemeFileSystem.Scheme
}

object TestSchemeFileSystem {

  val Scheme = "testfs"

  private class Raw extends RawLocalFileSystem {
    // a def, not a val: the superclass constructor already qualifies the
    // working directory against it
    override def getUri: URI = URI.create(s"$Scheme:///")
    override def getScheme: String = Scheme
  }

  /** Make `testfs:` resolvable on `spark`'s Hadoop configuration. */
  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[TestSchemeFileSystem].getName)
}

/** Specs whose tests run once per way a caller can name a local
  * directory `d`: as a plain path (under the test's own name), a `file:`
  * URI and a `testfs:` URI (each with a suffix on the name). */
trait OnEveryRoot extends AnyFunSuiteLike {

  private val namings: Seq[(String, String => String)] = Seq(
    ("", d => d),
    (" [file: URI]", d => s"file://$d"),
    (s" [${TestSchemeFileSystem.Scheme}: URI]", d => s"${TestSchemeFileSystem.Scheme}://$d"))

  /** Register `name` once per naming. Each run gets a fresh local temp
    * directory `local` and calls `body(root, local)`, `root` being `local`
    * as named; the assertions read `local` through java.nio. A run fails
    * if it added a `file:` or `testfs:` entry to the working directory,
    * which is where java.nio puts such a URI. */
  protected def testOnEveryRoot(name: String)(body: (String, String) => Unit): Unit =
    namings.foreach { case (suffix, naming) =>
      test(name + suffix) {
        TestSchemeFileSystem.register(TestSpark.spark)
        def schemeDirs = Option(new File(".").list()).toSeq.flatten
          .filter(n => n == "file:" || n == s"${TestSchemeFileSystem.Scheme}:").toSet
        val before = schemeDirs
        val local = Files.createTempDirectory("graft-root").toString
        body(naming(local), local)
        val added = schemeDirs -- before
        assert(added.isEmpty, s"a URI was written as a relative local path: ${added.mkString(", ")}")
      }
    }
}
