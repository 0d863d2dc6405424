package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Queries
import graft.operators.Staging

/**
 * `query_heavy`: the heavy `Bench` rows, each run as `Bench` runs it —
 * `runForBench`, then a `noop` write, inside `Staging.scoped`.
 */
final class QueryHeavy(ctx: Ctx) extends Workload {
  val name = "query_heavy"

  private val order: Seq[String] = ctx.rng.shuffle(QueryHeavy.Ids)
  private val queries: Seq[(String, Queries.Q)] = order.map(id => id -> QueryHeavy.query(id))
  private var rows = 0L
  private var outputBytes = 0L
  private val warmUpProblems = mutable.LinkedHashMap.empty[String, String]

  def session(c: Ctx): SparkSession = Sessions.bench(c.cores)

  /** One: an iteration takes about 20 s on a 4-core host, and a run must
    * leave room in the benchmark's time budget for the checked pass,
    * which already runs every query once. */
  override def minIterations: Int = 1

  override def prepare(spark: SparkSession): Unit =
    rows = order.map(id =>
      spark.read.parquet(ctx.sourceFile(QueryHeavy.Inputs(id)).toString).count()).sum

  def iteration(spark: SparkSession, dir: String,
      tracer: Option[(Tracer, String)]): Seq[Op] =
    queries.map { case (id, q) =>
      val op = new Op(id)
      val t0 = System.nanoTime()
      try Staging.scoped {
        tracer match {
          case None =>
            q.runForBench(spark, ctx.dataDir).write.format("noop").mode("overwrite").save()
          case Some((tr, label)) =>
            val df = tr.span(s"$label/$id.build_s")(q.runForBench(spark, ctx.dataDir))
            tr.span(s"$label/$id.plan_s")(df.queryExecution.executedPlan)
            tr.span(s"$label/$id.exec_s")(
              df.write.format("noop").mode("overwrite").save())
        }
      } catch { case e: Exception => op.fail(s"error: ${e.getMessage}") }
      System.err.println(f"[perfbench] $id ${(System.nanoTime() - t0) / 1e9}%.3f s")
      op
    }

  /** The checked pass that ends set-up: every query runs once as
    * `Bench` runs it, but writes its result as zstd parquet, which is read
    * back and compared with the recorded row count and fingerprint. The
    * timed iterations run the same plans into `noop`. Checking here rather
    * than in one more pass after the timed span keeps a run within the
    * benchmark's time budget. */
  override def warmUp(spark: SparkSession, dir: String): Seq[Op] = {
    val expected = QueryHeavy.expected()
    outputBytes = 0L
    queries.map { case (id, q) =>
      val op = new Op(id)
      scala.util.Try(QueryHeavy.result(spark, q, ctx.dataDir, s"$dir/$id")) match {
        case scala.util.Failure(e) => op.fail(s"error: ${e.getMessage}")
        case scala.util.Success(fp) if !expected.get(id).contains(fp) =>
          op.fail(s"result $fp, recorded ${expected.getOrElse(id, "nothing")}")
        case _ =>
      }
      outputBytes += Workload.parquetBytes(s"$dir/$id")
      op.problem.foreach(p => warmUpProblems.getOrElseUpdate(id, p))
      op
    }
  }

  /** A query whose checked pass failed fails every timed run. */
  def check(spark: SparkSession, iterations: Seq[(String, Seq[Op])]): Unit =
    for ((_, ops) <- iterations; op <- ops; p <- warmUpProblems.get(op.name))
      op.fail(s"checked pass: $p")

  def sourceRows: Long = rows
  def sourceBytes: Long =
    order.map(id => Files.size(ctx.sourceFile(QueryHeavy.Inputs(id)))).sum
  /** Bytes the query results take as zstd parquet (from the checked pass). */
  def sinkBytes(dir: String): Long = outputBytes
}

object QueryHeavy {
  /** The heavy rows and the one corpus table each reads. */
  val Inputs: Map[String, String] = Map(
    "t97" -> "documents", "t53" -> "documents", "t65" -> "documents",
    "t102" -> "documents", "t43" -> "embeddings", "w33" -> "events")
  val Ids: Seq[String] = Seq("t97", "t53", "t65", "t102", "t43", "w33")

  def fullName(id: String): String =
    Queries.all.keys.filter(_.startsWith(id + "_")).toSeq match {
      case Seq(n) => n
      case other => throw new IllegalStateException(s"query $id matches $other")
    }

  def query(id: String): Queries.Q = Queries.all(fullName(id))

  /** Recorded `(rows, fingerprint)` per query, from `expected_queries.tsv`
    * next to the benchmark's sources. */
  def expected(): Map[String, Fingerprint] = {
    val path = Paths.get(sys.props.getOrElse("perfbench.expected",
      "perfbench/expected_queries.tsv"))
    scala.io.Source.fromFile(path.toFile).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(id, n, fp) = l.split("\t")
        id -> Fingerprint(n.toLong, BigDecimal(fp))
      }.toMap
  }

  final case class Fingerprint(rows: Long, sum: BigDecimal) {
    override def toString: String = s"$rows rows, fingerprint $sum"
  }

  /** Execute `q` as `Bench` does, write its result under `out`, and return
    * the written rows' count and order-insensitive fingerprint. */
  def result(spark: SparkSession, q: Queries.Q, dataDir: String,
      out: String): Fingerprint = {
    Staging.scoped {
      q.runForBench(spark, dataDir).write.option("compression", "zstd").parquet(out)
    }
    fingerprint(spark.read.parquet(out))
  }

  /** Row count plus the exact sum of a 64-bit hash of each row's canonical
    * text. Floating-point values enter rounded to 9 significant digits,
    * so the last-bit noise of a different summation order cannot move it. */
  def fingerprint(df: DataFrame): Fingerprint = {
    def canon(c: org.apache.spark.sql.Column, t: DataType): org.apache.spark.sql.Column =
      t match {
        case FloatType | DoubleType => format_string("%.8e", c.cast(DoubleType))
        case ArrayType(et, _) => concat_ws(",", transform(c, x => canon(x, et)))
        case _ => c.cast(StringType)
      }
    val fields = df.schema.fields.sortBy(_.name)
    val text = concat_ws("\u0001", fields.toSeq.map(f =>
      coalesce(canon(col(f.name), f.dataType), lit("\u0000"))): _*)
    val r = df.agg(count(lit(1)), sum(xxhash64(text).cast(DecimalType(38, 0)))).head()
    Fingerprint(r.getLong(0),
      if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }
}
