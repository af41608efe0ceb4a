package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

/** Order statistics over one run's samples. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/**
 * Every attempted operation — an era, a table, a SQL text, a lookup, an
 * output check — is recorded as ok or failed, with the exception class or
 * the check that did not hold. Nothing is turned into a number.
 */
final class OpLog {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val failures = mutable.ArrayBuffer[String]()

  def fail(kind: String, why: String): Unit = synchronized {
    failed.incrementAndGet()
    if (failures.size < 50) failures += s"$kind: $why"
    System.err.println(s"perfbench FAILED $kind: $why")
  }

  /** Run `f` as one op of `kind`; a thrown exception marks it failed. */
  def attempt[T](kind: String)(f: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(f)
    catch {
      case e: Exception =>
        fail(kind, s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  /** One output check. */
  def check(kind: String, ok: Boolean, why: => String): Boolean = {
    attempted.incrementAndGet()
    if (!ok) fail(kind, why)
    ok
  }

  def failureList: Seq[String] = synchronized(failures.toList)
}

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
  def delete(path: String): Unit = delete(new File(path))

  /** Data files under `path`: regular files, not Hadoop checksums or
    * markers (names starting with `.` or `_`), not under `_` directories. */
  def dataFiles(path: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    val root = new File(path)
    if (root.isDirectory) Option(root.listFiles()).toSeq.flatten.flatMap(walk) else walk(root)
  }
  def bytes(path: String): Long = dataFiles(path).map(_.length).sum

  def copyDir(from: String, to: String): Unit = {
    val src = new File(from).toPath
    java.nio.file.Files.walk(src).forEach { p =>
      val dst = new File(to).toPath.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst)
    }
  }
}
