package graft.sources

import java.sql.{Connection, DriverManager, Types}

import scala.collection.mutable.ArrayBuffer
import scala.util.{Try, Using}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ColumnMeta
import graft.operators.SqlLiteral

/**
 * JDBC source discovery + scan (SURVEY §2 S1, S3–S5) over a real
 * database connection — the reference's Firebird path, re-expressed:
 * `DatabaseMetaData.getColumns` schema discovery (FB:530–586),
 * `getPrimaryKeys` order-key detection (FB:598–626), `SELECT 1 … FETCH
 * FIRST 1 ROWS ONLY` access probe with no-access classification
 * (FB:494–525), frozen `MAX(k)` watermark (FB:628–643), and the bounded
 * ordered offset scan SQL (FB:1072–1084) pushed down through
 * `spark.read.jdbc`'s dbtable subquery.
 *
 * Scale note: like the reference's source (single-threaded per table,
 * FB:262–275), the default scan is one JDBC partition; for large tables
 * [[scanPartitioned]] issues range-parallel reads — the watermark
 * predicate keeps every partition on the same frozen snapshot
 * (JdbcSourceSpec gates parallel ≡ single on rows+hash).
 */
object JdbcSource {

  /** SQL rendering dialect for the pushed-down scan. The semantics are
    * identical — only the pagination syntax differs. */
  sealed trait ScanDialect
  object ScanDialect {
    /** ANSI `OFFSET n ROWS` / `FETCH FIRST n ROWS ONLY` — what Derby
      * (the live-tested engine) and most servers accept. */
    case object Standard extends ScanDialect
    /** Firebird's `SELECT FIRST n SKIP m cols …` (FB:506,
      * FB:1073–1084 verbatim) — Firebird ≤2.x has no OFFSET/FETCH. */
    case object Firebird extends ScanDialect
  }

  private def withConnection[A](url: String)(f: Connection => A): A =
    Using.resource(DriverManager.getConnection(url))(f)

  /** S4: schema discovery; BLOB/CLOB columns are skipped entirely
    * (FB:552–555), unknown types fall back to STRING with a warning
    * (FB:568–579). */
  def readTableMetadata(url: String, table: String): Seq[ColumnMeta] =
    withConnection(url) { conn =>
      val out = ArrayBuffer.empty[ColumnMeta]
      val rs = conn.getMetaData.getColumns(null, null, table, null)
      while (rs.next()) {
        val name = rs.getString("COLUMN_NAME")
        val jdbcType = rs.getInt("DATA_TYPE")
        val typeName = rs.getString("TYPE_NAME")
        val precision = rs.getInt("COLUMN_SIZE")
        val scale = rs.getInt("DECIMAL_DIGITS")
        val nullable = rs.getInt("NULLABLE") != java.sql.DatabaseMetaData.columnNoNulls
        jdbcType match {
          case Types.BLOB | Types.CLOB | Types.NCLOB |
               Types.LONGVARCHAR | Types.LONGNVARCHAR =>
            System.err.println(s"[jdbc] skipping LOB column $table.$name ($typeName)")
          case _ =>
            out += ColumnMeta(name, jdbcType, typeName, precision, scale, nullable)
        }
      }
      out.toSeq
    }

  /** S5: primary-key detection — lowest KEY_SEQ wins (FB:598–626). */
  def detectPrimaryKeyColumn(url: String, table: String): Option[String] =
    withConnection(url) { conn =>
      val rs = conn.getMetaData.getPrimaryKeys(null, null, table)
      var best: Option[(Short, String)] = None
      while (rs.next()) {
        val seq = rs.getShort("KEY_SEQ")
        val col = rs.getString("COLUMN_NAME")
        if (best.forall(_._1 > seq)) best = Some((seq, col))
      }
      best.map(_._2)
    }

  /** S3: access probe — false on permission/absence instead of failing
    * (FB:494–525). */
  def checkTableAccess(url: String, table: String): Boolean =
    Try(withConnection(url) { conn =>
      Using.resource(conn.createStatement()) { st =>
        st.executeQuery(
          s"SELECT 1 FROM ${SqlLiteral.escapeSourceIdentifier(table)} " +
          "FETCH FIRST 1 ROWS ONLY").close()
      }
    }).isSuccess

  /** One scalar query over a fresh connection. */
  private def scalar[A](url: String, sql: String)(read: java.sql.ResultSet => A): A =
    withConnection(url) { conn =>
      Using.resource(conn.createStatement()) { st =>
        val rs = st.executeQuery(sql)
        rs.next(); read(rs)
      }
    }

  /** `SELECT agg(k) FROM t`, NULL as None. */
  private def readAggregate(url: String, table: String, orderBy: String,
      agg: String): Option[Any] = {
    val q = SqlLiteral.escapeSourceIdentifier _
    scalar(url, s"SELECT $agg(${q(orderBy)}) FROM ${q(table)}")(rs => Option(rs.getObject(1)))
  }

  /** Lower bound of the order key — `SELECT MIN(k)`, the opening scalar
    * of the range-parallel scan (the watermark is its upper twin). */
  def readMinValue(url: String, table: String, orderBy: String): Option[Any] =
    readAggregate(url, table, orderBy, "MIN")

  /** A3: frozen watermark — `SELECT MAX(k) FROM t` (FB:628–643). */
  def readWatermarkValue(url: String, table: String, orderBy: String): Option[Any] =
    readAggregate(url, table, orderBy, "MAX")

  /** F2: the frozen bounded-snapshot predicate `k <= wm`, the one text
    * every pushed-down query carries; NULL watermark → the empty-set
    * predicate `1 = 0` (FB:648). */
  private def watermarkWhere(orderBy: String, watermark: Option[Any]): String =
    watermark
      .map(w => s"${SqlLiteral.escapeSourceIdentifier(orderBy)} <= ${SqlLiteral.toSqlLiteral(w)}")
      .getOrElse("1 = 0")

  /** A1 at the source: the frozen baseline COUNT over the same watermark
    * predicate as the scan, pushed down whole (FB:1359–1380: `SELECT
    * COUNT(1) FROM t WHERE k <= wm`). NULL watermark → 0. */
  def readBoundedCount(url: String, table: String, orderBy: String,
      watermark: Option[Any]): Long =
    scalar(url, s"SELECT COUNT(*) FROM ${SqlLiteral.escapeSourceIdentifier(table)} " +
      s"WHERE ${watermarkWhere(orderBy, watermark)}")(_.getLong(1))

  /** S1: the bounded ordered (resumable) scan SQL, pushed down whole —
    * the reference's Firebird query (FB:1072–1084: `SELECT [FIRST n]
    * [SKIP m] cols FROM t WHERE k <= wm ORDER BY k`), rendered per
    * [[ScanDialect]]: Standard emits ANSI `OFFSET m ROWS` / `FETCH
    * FIRST n ROWS ONLY` (Derby-verified live); Firebird emits the
    * verbatim `FIRST`/`SKIP` form. A resume (`offsetRows > 0`) orders by
    * the key and then `tieBreakers`, so a key with duplicates still has
    * one order and the skipped prefix is the rows already loaded (the
    * reference orders by the key alone, FB:1084). */
  def buildScanSql(table: String, metas: Seq[ColumnMeta], orderBy: String,
      watermark: Option[Any], offsetRows: Long = 0,
      dialect: ScanDialect = ScanDialect.Standard,
      limitRows: Option[Long] = None,
      tieBreakers: Seq[String] = Nil): String = {
    val q = SqlLiteral.escapeSourceIdentifier _
    val cols = metas.map(m => q(m.name)).mkString(", ")
    val keys = (orderBy +: (if (offsetRows > 0) tieBreakers else Nil)).map(q).mkString(", ")
    val from = s"FROM ${q(table)} WHERE ${watermarkWhere(orderBy, watermark)} ORDER BY $keys"
    dialect match {
      case ScanDialect.Standard =>
        val offset = if (offsetRows > 0) s" OFFSET $offsetRows ROWS" else ""
        val limit = limitRows.map(n => s" FETCH FIRST $n ROWS ONLY").getOrElse("")
        s"SELECT $cols $from$offset$limit"
      case ScanDialect.Firebird =>
        val first = limitRows.map(n => s"FIRST $n ").getOrElse("")
        val skip = if (offsetRows > 0) s"SKIP $offsetRows " else ""
        s"SELECT $first$skip$cols $from"
    }
  }

  /** Spark scan over the pushed-down snapshot SQL. */
  def scan(spark: SparkSession, url: String, table: String,
      metas: Seq[ColumnMeta], orderBy: String, watermark: Option[Any],
      offsetRows: Long = 0,
      dialect: ScanDialect = ScanDialect.Standard,
      tieBreakers: Seq[String] = Nil): DataFrame =
    spark.read
      .format("jdbc")
      .option("url", url)
      .option("dbtable", s"(${buildScanSql(table, metas, orderBy, watermark,
        offsetRows, dialect, tieBreakers = tieBreakers)}) s")
      .load()

  /** S1 AT SCALE: the same bounded snapshot scan as [[scan]], split into
    * `numPartitions` RANGE-PARALLEL JDBC reads on the (numeric) order
    * key. At 100 TB the partitioned read IS the ingest path — the
    * reference's source is single-threaded per table (FB:262–275,
    * FB:1060–1149), and this is precisely where the Spark re-expression
    * beats it: Spark's JDBC partitioner turns
    * (partitionColumn, lowerBound, upperBound, numPartitions) into
    * stride predicates appended to the pushed-down subquery, one
    * executor connection per key range, while the frozen watermark
    * predicate keeps EVERY partition on the same snapshot — so the
    * union is row-for-row the single-stream scan (JdbcSourceSpec gates
    * rows+hash equality and the scan's partition count).
    *
    * Two deliberate differences from [[scan]]: the subquery carries no
    * ORDER BY (a range-split read has no cross-partition order to
    * promise — K1's total order is the consumer's sort, as with the
    * bucketed sinks), and no OFFSET (an offset inside a stride
    * predicate would skip rows per-partition, not globally; resume on
    * the parallel path is by watermark range, not row offset). */
  /** Alias for the order key inside [[scanPartitioned]]'s subquery:
    * plain lowercase alnum, so it needs NO quoting in any dialect —
    * Spark's generated stride predicates (`alias >= x AND alias < y`)
    * bind it identically whether or not the JDBC dialect quotes the
    * partition column, where a raw reserved-word or case-sensitive key
    * (which the SELECT list must escape) could bind differently on the
    * parallel path than the single-stream one. */
  private[sources] val PartitionKeyAlias = "graft_part_k"

  def scanPartitioned(spark: SparkSession, url: String, table: String,
      metas: Seq[ColumnMeta], orderBy: String, watermark: Option[Any],
      numPartitions: Int, lowerBound: Long, upperBound: Long): DataFrame = {
    val q = SqlLiteral.escapeSourceIdentifier _
    val cols = metas.map(m => q(m.name)).mkString(", ")
    // the escaped key is re-projected under the plain alias — UNQUOTED,
    // so the database applies its own case normalization and the stride
    // predicates (quoted by Spark's dialect or not at all) bind the
    // alias either way; they never touch the raw identifier
    val loaded = spark.read
      .format("jdbc")
      .option("url", url)
      .option("dbtable", s"(SELECT $cols, ${q(orderBy)} AS " +
        s"$PartitionKeyAlias FROM ${q(table)} WHERE ${watermarkWhere(orderBy, watermark)}) s")
      .option("partitionColumn", PartitionKeyAlias)
      .option("lowerBound", lowerBound)
      .option("upperBound", upperBound)
      .option("numPartitions", numPartitions)
      .load()
    loaded.drop(loaded.columns.filter(_.equalsIgnoreCase(PartitionKeyAlias)): _*)
  }
}
