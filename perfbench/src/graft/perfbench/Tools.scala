package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.{ColumnMeta, IngestJob}
import graft.IngestJob.TableMapping
import graft.functions.CanonicalHash
import graft.operators.{Ddl, Staging}

/**
 * The benchmark's own test: the ingest output check must pass on a real
 * sink and fail on tampered copies of it, and on a sink whose hashes come
 * from a changed hash function even when the check recomputes them with
 * that same function.
 *
 *   graft.perfbench.SelfTest --data DIR --work DIR
 *
 * Exits 1 when any expectation fails.
 */
object SelfTest {
  def main(args: Array[String]): Unit = {
    def arg(k: String): String = args(args.indexOf(s"--$k") + 1)
    val work = arg("work")
    Files.createDirectories(Paths.get(work))
    val spark = Sessions.ingest(Runtime.getRuntime.availableProcessors)
    val m = TableMapping("orders", "orders")
    val cfg = IngestJob.IngestConfig(sourceDir = arg("data"), warehouseDir = s"$work/good",
      tables = Seq(m), replace = true, failOnConsistencyError = false)
    val loaded = IngestJob.ingestTable(spark, cfg, m)
    val source = spark.read.parquet(IngestJob.sourcePath(cfg, m))
    val metas = ColumnMeta.fromSchema(source.schema)
    val n = source.count()
    val good = IngestJob.sinkPath(cfg, m)
    val sink = spark.read.parquet(good)
    val key = sink.agg(min("o_orderkey")).head().getLong(0)
    val target = col("o_orderkey") === key

    def tampered(tag: String)(f: DataFrame => DataFrame): String = {
      val out = s"$work/$tag"
      f(sink).write.mode(SaveMode.Overwrite).partitionBy(Ddl.PartitionColumn).parquet(out)
      out
    }
    val changedCell = tampered("changed_cell")(_.withColumn("o_totalprice",
      when(target, col("o_totalprice") + 0.01).otherwise(col("o_totalprice"))))
    val droppedRow = tampered("dropped_row")(_.filter(!target))
    // a consistent forgery: the cell changes and both stored hashes are
    // recomputed, so only the multiset comparison can see it
    val rehashed = tampered("rehashed_cell") { df =>
      val changed = df.withColumn("o_orderpriority",
        when(target, lit("0-FORGED")).otherwise(col("o_orderpriority")))
      changed.withColumn("row_hash", CanonicalHash.rowHashExpr(metas))
        .withColumn("row_hash_iceberg", col("row_hash"))
    }

    // a changed hash function (here: another field separator) that the
    // load and the check would share: only the recorded fingerprint of
    // the stored hashes can see it
    def otherHash(ms: Seq[ColumnMeta]): Column =
      md5(concat_ws("|", ms.map(m => col(m.name).cast("string")): _*))
    val otherKernel = tampered("other_hash_function")(
      _.withColumn("row_hash", otherHash(metas)).withColumn("row_hash_iceberg", col("row_hash")))

    val expected = SinkCheck.expect(source, metas, n,
      SinkCheck.recorded().get(s"parquet:${m.source}"))
    def problems(path: String) = SinkCheck.problems(spark, path, expected)
    val cases = Seq(
      ("untouched sink passes", problems(good), false),
      ("one changed cell fails", problems(changedCell), true),
      ("one dropped row fails", problems(droppedRow), true),
      ("one changed cell with recomputed hashes fails", problems(rehashed), true),
      ("hashes from a changed hash function, recomputed with it, fail",
        SinkCheck.problems(spark, otherKernel, expected, otherHash), true))
    var failures = 0
    println(s"load report: ${loaded.report}")
    cases.foreach { case (what, found, shouldFail) =>
      val ok = found.nonEmpty == shouldFail
      if (!ok) failures += 1
      println(s"${if (ok) "PASS" else "FAIL"} $what")
      found.foreach(p => println(s"     $p"))
    }
    spark.stop()
    Workload.deleteTree(work)
    if (failures > 0) sys.exit(1)
  }
}

/**
 * Records the fingerprint of each `ingest` load's stored `row_hash`
 * column, the value the ingest output check compares with.
 *
 *   graft.perfbench.RecordRowHashes --data DIR --work DIR --out FILE
 */
object RecordRowHashes {
  def main(args: Array[String]): Unit = {
    def arg(k: String): String = args(args.indexOf(s"--$k") + 1)
    val work = java.nio.file.Paths.get(arg("work"))
    Files.createDirectories(work)
    val ctx = Ctx(Runtime.getRuntime.availableProcessors, arg("data"), work,
      new scala.util.Random(0))
    val w = new Ingest(ctx)
    val spark = w.session(ctx)
    w.prepare(spark)
    val dir = ctx.freshDir("record")
    w.beforeIteration(dir)
    w.iteration(spark, dir, None).flatMap(_.problem).foreach(p => sys.error(p))
    val lines = w.storedHashes(spark, dir).sortBy(_._1).map { case (k, v) => s"$k\t$v" }
    Files.writeString(Paths.get(arg("out")),
      "# load\tfingerprint of the stored row_hash column (SinkCheck.storedHashes)\n" +
        lines.mkString("", "\n", "\n"))
    spark.stop()
    Workload.deleteTree(work.toString)
  }
}

/**
 * Records the `query_heavy` output check's values, and dumps the same
 * queries' results with their DuckDB oracle SQL for `tools/check_oracle.py`.
 *
 *   graft.perfbench.RecordQueries --data DIR --work DIR --out FILE
 *   graft.perfbench.RecordQueries --data DIR --work DIR --oracle-dump DIR
 */
object RecordQueries {
  def main(args: Array[String]): Unit = {
    def opt(k: String): Option[String] = {
      val i = args.indexOf(s"--$k")
      if (i >= 0) Some(args(i + 1)) else None
    }
    val data = opt("data").get
    val work = opt("work").get
    val spark = Sessions.bench(Runtime.getRuntime.availableProcessors)
    opt("out").foreach { out =>
      val lines = QueryHeavy.Ids.map { id =>
        val fp = QueryHeavy.result(spark, QueryHeavy.query(id), data, s"$work/$id")
        s"$id\t${fp.rows}\t${fp.sum}"
      }
      Files.writeString(Paths.get(out),
        "# query\trows\tfingerprint (QueryHeavy.fingerprint)\n" + lines.mkString("", "\n", "\n"))
    }
    opt("oracle-dump").foreach { dir =>
      val sql = QueryHeavy.Ids.map { id =>
        val name = QueryHeavy.fullName(id)
        val q = QueryHeavy.query(id)
        Staging.scoped(q.run(spark, data).coalesce(1).write.parquet(s"$dir/$name"))
        // the dumped rows are the ones the oracle compares; their
        // fingerprint must be the recorded one
        val fp = QueryHeavy.fingerprint(spark.read.parquet(s"$dir/$name"))
        val recorded = QueryHeavy.expected().get(id)
        println(s"$id: dumped $fp; recorded ${recorded.getOrElse("nothing")}" +
          (if (recorded.contains(fp)) "" else "  MISMATCH"))
        "\"" + name + "\": \"" + q.oracle.get.flatMap {
          case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case c => c.toString
        } + "\""
      }
      Files.writeString(Paths.get(s"$dir/oracle_sql.json"), sql.mkString("{", ",\n", "}"))
    }
    spark.stop()
    Workload.deleteTree(work)
  }
}
