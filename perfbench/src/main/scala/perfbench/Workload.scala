package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A layer metric: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/**
 * One benchmark workload. The runner calls `setup` several times (the
 * median is `setup_s`), then runs closed-loop passes: `beforePass` and
 * `check` stay outside the timed region, `pass` is the timed region.
 */
trait Workload {
  /** Input items one pass processes (entities, documents or queries). */
  def items: Long
  /** Checked operations per pass: 1 for a split, one per catalog query. */
  def attemptsPerPass: Int
  /** Input sizes and generator arguments, printed with the result. */
  def describe: Seq[String]

  def setup(spark: SparkSession): Unit
  def beforePass(spark: SparkSession, pass: Int): Unit = ()
  def pass(spark: SparkSession, t: Tracer): Unit
  /** Failure messages for the pass just run; each counts as one failed
    * attempt, up to `attemptsPerPass`. */
  def check(spark: SparkSession, pass: Int): Seq[String]

  /** Separate calls a traced run makes before its traced pass. */
  def traceExtras(spark: SparkSession, t: Tracer): Unit = ()
  /** Per-layer metrics of the traced pass, whose spans are on `t`. */
  def layers(spark: SparkSession, t: Tracer, tc: TaskCollector, qc: QueryCollector): Seq[Metric]
}

object FileTree {
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  /** Regular files under `dir` whose names pass `keep`, sorted by path. */
  def filesUnder(dir: String, keep: String => Boolean = _ => true): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Seq.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .filter(p => keep(p.getFileName.toString)).toSeq.sortBy(_.toString)
      finally s.close()
    }
  }

  def bytesUnder(dir: String, keep: String => Boolean = _ => true): Long =
    filesUnder(dir, keep).map(Files.size).sum

  /** SHA-256 over the relative names and contents of `files`. */
  def digest(root: String, files: Seq[Path]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val base = Paths.get(root)
    files.foreach { f =>
      md.update(base.relativize(f).toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(f))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
