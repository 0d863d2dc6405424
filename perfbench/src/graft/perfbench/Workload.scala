package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.SparkSession

/** One measured operation: a table load or a query run. `problem` is set
  * when it threw, reported an inconsistent load, or failed its check. */
final class Op(val name: String) {
  var problem: Option[String] = None
  def fail(why: String): Unit = if (problem.isEmpty) problem = Some(why)
}

/** Seed-derived parameters and locations shared by every workload. */
final case class Ctx(
    cores: Int,
    dataDir: String,
    workDir: Path,
    rng: scala.util.Random) {
  private var dirs = 0
  /** A fresh, not yet existing directory under the work directory. */
  def freshDir(tag: String): String = {
    dirs += 1
    workDir.resolve(f"$tag-$dirs%04d").toString
  }
  def sourceFile(table: String): Path = Paths.get(dataDir, s"$table.parquet")
}

/**
 * A benchmark workload. [[Main]] starts the session, calls [[prepare]]
 * and [[warmUp]], then times iterations; [[check]] runs after the timed
 * span.
 */
trait Workload {
  def name: String

  /** Start a session with the conf of the entry point that serves it. */
  def session(ctx: Ctx): SparkSession

  /** Work that belongs to set-up after session start (seeding, prefix). */
  def prepare(spark: SparkSession): Unit = ()

  /** Untimed per-iteration preparation of `dir` (e.g. a prefix copy). */
  def beforeIteration(dir: String): Unit = ()

  /** One iteration writing under `dir`. With a tracer it runs the traced
    * variant: the same calls, each layer in its own span, labels prefixed
    * with `label`. */
  def iteration(spark: SparkSession, dir: String,
      tracer: Option[(Tracer, String)]): Seq[Op]

  /** The warm-up that ends set-up: one iteration into `dir`, whose time
    * counts in `setup_s`. */
  def warmUp(spark: SparkSession, dir: String): Seq[Op] = {
    beforeIteration(dir)
    iteration(spark, dir, None)
  }

  /** Timed iterations per run at the least: the first after set-up is
    * still the JVM's second pass and runs slower than the next. */
  def minIterations: Int = 2

  /** For a workload whose traced iteration replays public calls: run
    * them once untraced into `dir`, each operation's Spark work labelled
    * `<label>/<operation>`. Nil when the traced iteration makes the same
    * calls as the untraced one. */
  def reference(spark: SparkSession, dir: String, tracer: Tracer,
      label: String): Seq[Op] = Nil

  /** Operations whose replay in traced iteration `it` did other Spark work
    * than [[reference]] run `ref`, with what differed. */
  def drift(stats: Map[String, SpanStats], ref: String, it: String): Map[String, String] =
    Map.empty

  /** Attribution passes of a traced iteration (forced scans), run after
    * the iteration's timed span. */
  def attribute(spark: SparkSession, tracer: Tracer, label: String): Unit = ()

  /** Check the outputs of the timed iterations, failing their ops. */
  def check(spark: SparkSession, iterations: Seq[(String, Seq[Op])]): Unit

  /** Source rows and bytes one iteration reads. */
  def sourceRows: Long
  def sourceBytes: Long

  /** Bytes the workload's output takes, per iteration. */
  def sinkBytes(dir: String): Long
}

object Workload {
  private def walk[A](dir: String)(f: Iterator[Path] => A): A =
    Using.resource(Files.walk(Paths.get(dir)))(s => f(s.iterator().asScala))

  /** Total size of the parquet data files under `dir` (0 if absent). */
  def parquetBytes(dir: String): Long = parquetFiles(dir).map(Files.size).sum

  def parquetFiles(dir: String): Seq[Path] =
    if (!Files.exists(Paths.get(dir))) Nil
    else walk(dir)(_.filter(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet")).toList)

  def deleteTree(dir: String): Unit =
    if (Files.exists(Paths.get(dir)))
      walk(dir)(_.toList.reverse.foreach(p => Files.delete(p)))

  def copyTree(from: String, to: String): Unit = {
    val (src, dst) = (Paths.get(from), Paths.get(to))
    walk(from)(_.foreach { p =>
      val target = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target)
    })
  }
}
