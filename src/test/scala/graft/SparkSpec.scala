package graft

import java.nio.file.{Files, Path}

import scala.util.Using

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites grab
  * it lazily). */
object SparkSpec {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Every directory [[tmp]] made in this suite. */
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]

  /** A new temporary directory, deleted with its contents after the
    * suite. */
  def tmp(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    made.add(dir)
    dir.toString
  }

  /** Deletes what [[tmp]] made. */
  override def afterAll(): Unit =
    try made.forEach { dir =>
      if (Files.exists(dir))
        Using.resource(Files.walk(dir)) { paths =>
          paths.sorted(java.util.Comparator.reverseOrder[Path]())
            .forEach(p => Files.delete(p))
        }
    } finally super.afterAll()

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Spark/DuckDB `round` semantics — HALF_UP away from zero — for JVM
    * replays of micro-fixed-point scores. Scala `math.round` is
    * `floor(x + 0.5)`, which differs on negative exact halves (the
    * round-15 advisor's latent-flake finding); every replay that can
    * see a negative score must round through this instead. */
  def roundHalf(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact
}
