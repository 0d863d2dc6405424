package graft.perfbench

import java.nio.file.Files
import java.sql.{DriverManager, Timestamp}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.{ColumnMeta, IngestJob}
import graft.IngestJob.{TableMapping, TableResult}
import graft.operators.{ConsistencyCheck, Ddl, Enrich, SnapshotScan}
import graft.sources.{JdbcIngest, JdbcSource}

/**
 * One table load of the `ingest` workload. The untraced load is the
 * public `ingestTable` call; the traced load replays it call by call, each
 * layer in its own span. A traced run also runs the public call once with
 * the tracer listening and compares the jobs and stages of each load with
 * its replay's ([[Ingest.drift]]), so a replay that falls out of step with
 * `IngestJob.ingestTable` or `JdbcIngest.ingestTable` fails the run.
 */
sealed trait Load {
  def name: String
  /** Key of the load's recorded stored-`row_hash` fingerprint: the sink
    * always holds the whole source table, whatever the mode. */
  def hashKey: String
  def prepare(spark: SparkSession): Unit = ()
  def beforeIteration(dir: String): Unit = ()
  /** Returns the load's result and, when traced, its attribution pass. */
  def run(spark: SparkSession, dir: String,
      tracer: Option[(Tracer, String)]): (TableResult, Option[() => Unit])
  /** The load's sink under an iteration directory. */
  def sink(dir: String): String
  /** What the sink must hold: the bounded source's rows, metadata and
    * frozen count. */
  def expected(spark: SparkSession): SinkCheck.Expected
  def sourceRows: Long
  def sourceBytes: Long
}

object Load {
  val Noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  /** Width probe, write and verify of an enriched frame, each in its own
    * span: the tail `IngestJob` and `JdbcIngest` share. */
  def writeAndVerify(spark: SparkSession, enriched: DataFrame, sink: String,
      mode: SaveMode, tr: Tracer, label: String): ConsistencyCheck.SnapshotMetrics = {
    def sp[A](n: String)(f: => A): A = tr.span(s"$label/$n")(f)
    // the frame `Ddl.writePartitioned` probes, so its own probe is a cache
    // hit and the write span holds only the write
    val probed = enriched
      .withColumn(Ddl.PartitionColumn, date_format(col("load_dttm"), "yyyy-MM"))
      .drop(Ddl.PartitionColumn)
    sp("Ddl.width_probe_s")(Ddl.estimateRecordsPerFile(probed, sink))
    sp("Ddl.write_s")(Ddl.writePartitioned(enriched, sink, mode))
    sp("ConsistencyCheck.verify_s")(ConsistencyCheck.isolatedSinkMetrics(spark, sink))
  }
}

/** `IngestJob.ingestTable` of one corpus table: a replace load, or with
  * `resumeShare` a resume at that share of its rows, appending to a copy
  * of a prefix sink built in set-up. */
final class ParquetLoad(ctx: Ctx, table: String, lineage: Enrich.Lineage,
    resumeShare: Option[Double]) extends Load {
  val name: String = s"$table-" + (if (resumeShare.isDefined) "resume" else "parquet")
  val hashKey: String = s"parquet:$table"
  private val m = TableMapping(table, table)
  private val subdir = if (resumeShare.isDefined) "resume" else "parquet"
  private var offset = 0L
  private var prefixDir = ""
  private var rows = 0L

  private def config(dir: String) = IngestJob.IngestConfig(
    sourceDir = ctx.dataDir,
    warehouseDir = s"$dir/$subdir",
    tables = Seq(m),
    replace = resumeShare.isEmpty,
    failOnConsistencyError = false,
    offsetRows = if (offset > 0) Map(table -> offset) else Map.empty,
    lineage = lineage)

  private def source(spark: SparkSession): (DataFrame, String) = {
    val src = spark.read.parquet(ctx.sourceFile(table).toString)
    (src, IngestJob.resolveOrderBy(m, src.columns.toSeq, Map.empty))
  }

  override def prepare(spark: SparkSession): Unit = {
    val (src, orderBy) = source(spark)
    rows = src.count()
    resumeShare.foreach { share =>
      // the sink a failed first attempt left behind: the first `offset`
      // rows of the resume order, enriched and written
      offset = (rows * share).toLong
      prefixDir = ctx.freshDir("prefix")
      val prefix = SnapshotScan.resumableScan(src, orderBy,
        SnapshotScan.freezeWatermark(src, orderBy),
        tieBreakers = src.columns.toSeq.filterNot(_ == orderBy)).limit(offset.toInt)
      Ddl.writePartitioned(Enrich.enrich(prefix, ColumnMeta.fromSchema(src.schema), lineage),
        IngestJob.sinkPath(config(prefixDir), m), SaveMode.Overwrite)
    }
  }

  override def beforeIteration(dir: String): Unit =
    if (resumeShare.isDefined)
      Workload.copyTree(IngestJob.sinkPath(config(prefixDir), m),
        IngestJob.sinkPath(config(dir), m))

  def run(spark: SparkSession, dir: String,
      tracer: Option[(Tracer, String)]): (TableResult, Option[() => Unit]) =
    tracer match {
      case None => (IngestJob.ingestTable(spark, config(dir), m), None)
      case Some((tr, label)) => traced(spark, config(dir), tr, label)
    }

  private def traced(spark: SparkSession, cfg: IngestJob.IngestConfig,
      tr: Tracer, label: String): (TableResult, Option[() => Unit]) = {
    def sp[A](n: String)(f: => A): A = tr.span(s"$label/$n")(f)
    val path = IngestJob.sourcePath(cfg, m)
    if (!sp("SnapshotScan.probe_s")(SnapshotScan.probeAccess(spark.read.parquet(path))))
      return (TableResult(m, skipped = true, None, None), None)
    val src = spark.read.parquet(path)
    val metas = ColumnMeta.fromSchema(src.schema)
    val orderBy = IngestJob.resolveOrderBy(m, src.columns.toSeq, cfg.orderByOverride)
    val wm = sp("SnapshotScan.watermark_s")(SnapshotScan.freezeWatermark(src, orderBy))
    val bounded = SnapshotScan.bounded(src, orderBy, wm)
    val srcCount = sp("ConsistencyCheck.source_count_s")(ConsistencyCheck.sourceCount(bounded))
    val off = cfg.offsetRows.getOrElse(m.source, 0L)
    val scanned =
      if (off > 0) SnapshotScan.resumableScan(src, orderBy, wm, off,
        tieBreakers = src.columns.toSeq.filterNot(_ == orderBy))
      else bounded
    val enriched = Enrich.enrich(scanned, metas, cfg.lineage)
    val mode = if (off > 0 || !cfg.replace) SaveMode.Append else SaveMode.Overwrite
    val metrics = Load.writeAndVerify(spark, enriched, IngestJob.sinkPath(cfg, m),
      mode, tr, label)
    val attribution = () => {
      tr.span(s"$label/attr.scan")(Load.Noop(scanned))
      tr.span(s"$label/attr.enrich")(Load.Noop(enriched))
    }
    (TableResult(m, skipped = false,
      Some(ConsistencyCheck.check(m.sink, srcCount, metrics, failOnError = false)), None),
      Some(attribution))
  }

  def sink(dir: String): String = IngestJob.sinkPath(config(dir), m)

  def expected(spark: SparkSession): SinkCheck.Expected = {
    val (src, orderBy) = source(spark)
    val bounded = SnapshotScan.bounded(src, orderBy, SnapshotScan.freezeWatermark(src, orderBy))
    SinkCheck.expect(bounded, ColumnMeta.fromSchema(src.schema), bounded.count(),
      SinkCheck.recorded().get(hashKey))
  }

  def sourceRows: Long = rows
  def sourceBytes: Long = Files.size(ctx.sourceFile(table))
}

/** `JdbcIngest.ingestTable` of orders from an embedded in-memory Derby
  * database seeded in set-up, with `scanPartitions` equal to the core
  * count. */
final class JdbcLoad(ctx: Ctx, lineage: Enrich.Lineage) extends Load {
  val name = "orders-jdbc"
  val hashKey = "jdbc:ORDERS"
  private val m = TableMapping("ORDERS", "orders")
  private val url = "jdbc:derby:memory:perfbench"
  private var rows = 0L

  private def config(dir: String) = JdbcIngest.JdbcConfig(
    url = url,
    warehouseDir = s"$dir/jdbc",
    tables = Seq(m),
    replace = true,
    failOnConsistencyError = false,
    lineage = lineage,
    scanPartitions = Map(m.source -> ctx.cores))

  override def prepare(spark: SparkSession): Unit = {
    val src = spark.read.parquet(ctx.sourceFile("orders").toString)
    val conn = DriverManager.getConnection(s"$url;create=true")
    try {
      conn.createStatement().execute(
        """CREATE TABLE ORDERS (O_ORDERKEY BIGINT PRIMARY KEY,
          |O_CUSTKEY BIGINT, O_ORDERSTATUS VARCHAR(1), O_TOTALPRICE DOUBLE,
          |O_ORDERDATE TIMESTAMP, O_ORDERPRIORITY VARCHAR(15))""".stripMargin)
      conn.setAutoCommit(false)
      val ins = conn.prepareStatement("INSERT INTO ORDERS VALUES (?, ?, ?, ?, ?, ?)")
      val it = src.toLocalIterator()
      var n = 0L
      while (it.hasNext) {
        val r = it.next()
        ins.setLong(1, r.getLong(0)); ins.setLong(2, r.getLong(1))
        ins.setString(3, r.getString(2)); ins.setDouble(4, r.getDouble(3))
        ins.setTimestamp(5, Timestamp.valueOf(r.getAs[java.time.LocalDateTime](4)))
        ins.setString(6, r.getString(5))
        ins.addBatch(); n += 1
        if (n % 5000 == 0) ins.executeBatch()
      }
      ins.executeBatch()
      conn.commit()
      rows = n
    } finally conn.close()
  }

  def run(spark: SparkSession, dir: String,
      tracer: Option[(Tracer, String)]): (TableResult, Option[() => Unit]) =
    tracer match {
      case None => (JdbcIngest.ingestTable(spark, config(dir), m), None)
      case Some((tr, label)) => traced(spark, config(dir), tr, label)
    }

  /** `JdbcIngest.ingestTable` on its range-parallel path. */
  private def traced(spark: SparkSession, cfg: JdbcIngest.JdbcConfig,
      tr: Tracer, label: String): (TableResult, Option[() => Unit]) = {
    def sp[A](n: String)(f: => A): A = tr.span(s"$label/$n")(f)
    val (access, metas, orderBy) = sp("JdbcSource.metadata_s") {
      val ok = JdbcSource.checkTableAccess(cfg.url, m.source)
      val ms = JdbcSource.readTableMetadata(cfg.url, m.source)
      (ok, ms, JdbcIngest.resolveOrderBy(cfg, m, ms.map(_.name)))
    }
    if (!access) return (TableResult(m, skipped = true, None, None), None)
    val wm = sp("JdbcSource.watermark_s")(JdbcSource.readWatermarkValue(cfg.url, m.source, orderBy))
    val srcCount = sp("JdbcSource.count_s")(
      JdbcSource.readBoundedCount(cfg.url, m.source, orderBy, wm))
    // the range split's lower bound, the watermark's twin
    val lb = sp("JdbcSource.watermark_s")(JdbcSource.readMinValue(cfg.url, m.source, orderBy))
    def long(v: Option[Any]): Long = v.get.asInstanceOf[Number].longValue()
    val scanned = JdbcSource.scanPartitioned(spark, cfg.url, m.source, metas, orderBy,
      wm, cfg.scanPartitions(m.source), long(lb), long(wm))
    val enriched = Enrich.enrich(scanned, metas, cfg.lineage)
    val metrics = Load.writeAndVerify(spark, enriched, s"${cfg.warehouseDir}/${m.sink}",
      SaveMode.Overwrite, tr, label)
    val attribution = () => {
      tr.span(s"$label/attr.jdbc_scan")(Load.Noop(scanned))
      tr.span(s"$label/attr.jdbc_enrich")(Load.Noop(enriched))
    }
    (TableResult(m, skipped = false,
      Some(ConsistencyCheck.check(m.sink, srcCount, metrics, failOnError = false)), None),
      Some(attribution))
  }

  def sink(dir: String): String = s"${config(dir).warehouseDir}/${m.sink}"

  def expected(spark: SparkSession): SinkCheck.Expected = {
    val key = "O_ORDERKEY"
    val wm = JdbcSource.readWatermarkValue(url, m.source, key)
    val bounded = spark.read.format("jdbc").option("url", url)
      .option("dbtable", m.source).load()
      .filter(SnapshotScan.watermarkPredicate(key, wm))
    SinkCheck.expect(bounded, JdbcSource.readTableMetadata(url, m.source),
      JdbcSource.readBoundedCount(url, m.source, key, wm), SinkCheck.recorded().get(hashKey))
  }

  def sourceRows: Long = rows
  /** The seeded rows' size as the corpus's parquet file. */
  def sourceBytes: Long = Files.size(ctx.sourceFile("orders"))
}

/**
 * `ingest`: per iteration, in seeded order, a replace load of lineitem
 * from parquet, a resume of orders at a seeded offset (40–60% of its rows)
 * appending to a prefix sink, and a range-parallel JDBC load of orders
 * from Derby. Every load writes into the iteration's fresh directory.
 */
final class Ingest(ctx: Ctx) extends Workload {
  val name = "ingest"
  private val lineage = Enrich.Lineage(loadDttm = Workloads.loadDttm(ctx.rng))
  val loads: Seq[Load] = ctx.rng.shuffle(Seq[Load](
    new ParquetLoad(ctx, "lineitem", lineage, None),
    new ParquetLoad(ctx, "orders", lineage, Some(0.4 + 0.2 * ctx.rng.nextDouble())),
    new JdbcLoad(ctx, lineage)))

  def session(c: Ctx): SparkSession = Sessions.ingest(c.cores)

  override def prepare(spark: SparkSession): Unit = loads.foreach(_.prepare(spark))

  override def beforeIteration(dir: String): Unit = loads.foreach(_.beforeIteration(dir))

  private var attributions = Seq.empty[() => Unit]

  /** Traced, each load's spans are labelled `<label>/<load>/<layer>`, and
    * its Spark work outside them `<label>/<load>/gap`. */
  def iteration(spark: SparkSession, dir: String,
      tracer: Option[(Tracer, String)]): Seq[Op] = {
    val results = loads.map { l =>
      l -> (tracer match {
        case None => l.run(spark, dir, None)
        case Some((tr, label)) =>
          tr.labelled(s"$label/${l.name}/gap")(l.run(spark, dir, Some((tr, s"$label/${l.name}"))))
      })
    }
    attributions = results.flatMap(_._2._2)
    results.map { case (l, (r, _)) => op(l, r) }
  }

  private def op(l: Load, r: TableResult): Op = {
    val op = new Op(l.name)
    if (r.skipped) op.fail("skipped: source not accessible")
    r.error.foreach(e => op.fail(s"error: $e"))
    r.report.filterNot(_.ok).foreach(rep => op.fail(s"inconsistent load: $rep"))
    if (r.report.isEmpty) op.fail("no consistency report")
    op
  }

  /** The public calls, each load's Spark work labelled `<label>/<load>`. */
  override def reference(spark: SparkSession, dir: String, tracer: Tracer,
      label: String): Seq[Op] =
    loads.map(l => op(l, tracer.labelled(s"$label/${l.name}")(l.run(spark, dir, None)._1)))

  /** Loads whose replay (traced iteration `it`, attribution passes left
    * out) ran other jobs or stages than the public call (`ref`). */
  override def drift(stats: Map[String, SpanStats], ref: String,
      it: String): Map[String, String] =
    loads.flatMap { l =>
      val replay = new SpanStats
      stats.foreach { case (k, v) =>
        if (k.startsWith(s"$it/${l.name}/") && !k.split('/').last.startsWith("attr"))
          replay += v
      }
      val pub = stats.getOrElse(s"$ref/${l.name}", new SpanStats)
      if (pub.jobs == replay.jobs && pub.stages == replay.stages) None
      else Some(l.name -> (s"traced replay ran ${replay.jobs} jobs and ${replay.stages} " +
        s"stages, the public call ${pub.jobs} jobs and ${pub.stages} stages"))
    }.toMap

  /** The stored-`row_hash` fingerprint of each load's sink in `dir`. */
  def storedHashes(spark: SparkSession, dir: String): Seq[(String, BigDecimal)] =
    loads.map(l => l.hashKey -> BigDecimal(
      Ddl.readTable(spark, l.sink(dir)).agg(SinkCheck.storedHashes).head()
        .getDecimal(0)))

  override def attribute(spark: SparkSession, tracer: Tracer, label: String): Unit = {
    attributions.foreach(_())
    attributions = Nil
  }

  /** Every sink of every iteration, checked from `cores` driver threads:
    * the checks are small jobs that leave most cores idle one at a time. */
  def check(spark: SparkSession, iterations: Seq[(String, Seq[Op])]): Unit = {
    val pool = Executors.newFixedThreadPool(ctx.cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val found = loads.zipWithIndex.map { case (l, i) =>
        Future(l.expected(spark)).flatMap { expected =>
          Future.sequence(iterations.map { case (dir, ops) =>
            Future(ops(i) -> SinkCheck.problems(spark, l.sink(dir), expected))
          })
        }
      }
      for ((op, problems) <- Await.result(Future.sequence(found), Duration.Inf).flatten)
        problems.foreach(op.fail)
    } finally pool.shutdown()
  }

  def sourceRows: Long = loads.map(_.sourceRows).sum
  def sourceBytes: Long = loads.map(_.sourceBytes).sum
  def sinkBytes(dir: String): Long = Workload.parquetBytes(dir)
}
