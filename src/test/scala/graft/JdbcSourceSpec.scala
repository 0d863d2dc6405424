package graft

import java.sql.{DriverManager, Types}

import graft.functions.CanonicalHash
import graft.operators.Enrich
import graft.sources.JdbcSource

/** The real-JDBC discovery/scan path against an embedded Derby database,
  * seeded with the reference's own smoke fixture
  * (verify-pipeline.sh:72–77: TEST(ID INT, NAME VARCHAR(100)) with row
  * (1, 'row1')). */
class JdbcSourceSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftdb;create=true"

  private lazy val seeded: Unit = {
    // idempotent: a failed first evaluation of a lazy val retries, so
    // ignore already-exists on re-entry
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    def run(sql: String): Unit =
      try st.execute(sql)
      catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () }
    run("CREATE TABLE TEST (ID INT PRIMARY KEY, NAME VARCHAR(100))")
    run("INSERT INTO TEST VALUES (1, 'row1')")
    run("INSERT INTO TEST VALUES (2, 'row2')")
    run("INSERT INTO TEST VALUES (3, NULL)")
    run("""CREATE TABLE TYPED (
      K BIGINT PRIMARY KEY, D DOUBLE, DC DECIMAL(12,3), C CHAR(8),
      TS TIMESTAMP, B BLOB)""")
    run("INSERT INTO TYPED VALUES (10, 1.0000005, 12.345, 'ab', " +
      "TIMESTAMP('2024-02-29 23:59:59.123'), NULL)")
    st.close(); conn.close()
  }

  test("S4: metadata discovery skips BLOBs and maps the closed type set") {
    seeded
    val metas = JdbcSource.readTableMetadata(url, "TYPED")
    assert(metas.map(_.name) === Seq("K", "D", "DC", "C", "TS")) // no BLOB
    assert(metas.find(_.name == "DC").get.precision === 12)
    assert(metas.find(_.name == "DC").get.scale === 3)
    assert(metas.find(_.name == "C").get.isFixedChar)
  }

  test("S5: primary-key detection picks the PK column") {
    seeded
    assert(JdbcSource.detectPrimaryKeyColumn(url, "TEST") === Some("ID"))
    assert(JdbcSource.detectPrimaryKeyColumn(url, "TYPED") === Some("K"))
  }

  test("S3: access probe true for readable, false for absent table") {
    seeded
    assert(JdbcSource.checkTableAccess(url, "TEST"))
    assert(!JdbcSource.checkTableAccess(url, "NO_SUCH_TABLE"))
  }

  test("S1+A3: frozen watermark bounds the ordered scan; offset resumes") {
    seeded
    val metas = JdbcSource.readTableMetadata(url, "TEST")
    val wm = JdbcSource.readWatermarkValue(url, "TEST", "ID")
    assert(wm === Some(3))
    val all = JdbcSource.scan(spark, url, "TEST", metas, "ID", wm)
    assert(all.count() === 3)
    val resumed = JdbcSource.scan(spark, url, "TEST", metas, "ID", wm, offsetRows = 2)
    assert(resumed.collect().map(_.getInt(0)).toSeq === Seq(3))
    // frozen lower watermark excludes later rows (snapshot immunity)
    val bounded = JdbcSource.scan(spark, url, "TEST", metas, "ID", Some(1))
    assert(bounded.count() === 1)
    // NULL watermark → empty set (FB:648)
    assert(JdbcSource.scan(spark, url, "TEST", metas, "ID", None).count() === 0)
  }

  test("golden: the reference fixture row ingested over JDBC hashes md5('1|row1')") {
    seeded
    val metas = JdbcSource.readTableMetadata(url, "TEST")
    val wm = JdbcSource.readWatermarkValue(url, "TEST", "ID")
    val df = JdbcSource.scan(spark, url, "TEST", metas, "ID", wm)
    val enriched = Enrich.enrich(df, metas)
    val hashes = enriched.select("id", "row_hash")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(hashes(1) === CanonicalHash.md5Hex("1|row1"))
    assert(hashes(2) === CanonicalHash.md5Hex("2|row2"))
    assert(hashes(3) === CanonicalHash.md5Hex("3|<NULL>"))
  }

  test("JdbcIngest: live-connection roundtrip verifies counts and hashes; bad table isolated") {
    seeded
    val wh = tmp("jdbc-ingest")
    val cfg = graft.sources.JdbcIngest.JdbcConfig(url, wh,
      graft.IngestJob.TableMapping.parse("TEST:test,NO_SUCH_TABLE:nope"),
      replace = true)
    val results = graft.IngestJob.run(spark, cfg)
    val ok = results.find(_.mapping.source == "TEST").get
    assert(!ok.skipped && ok.report.get.ok)
    assert(ok.report.get.sourceCount === 3)
    // inaccessible table: probe-skip, not failure (FB:494-525)
    assert(results.find(_.mapping.source == "NO_SUCH_TABLE").get.skipped)
    val sink = spark.read.parquet(s"$wh/test")
    assert(sink.count() === 3)
    assert(sink.columns.contains("row_hash"))
  }

  test("JdbcIngest: offset resume appends exactly the suffix") {
    seeded
    val wh = tmp("jdbc-resume")
    // first (interrupted) attempt: rows 1..2 of TEST via a bounded scan
    val metas = JdbcSource.readTableMetadata(url, "TEST")
    val wm = JdbcSource.readWatermarkValue(url, "TEST", "ID")
    val prefix = JdbcSource.scan(spark, url, "TEST", metas, "ID", wm)
      .filter("ID <= 2")
    graft.operators.Ddl.writePartitioned(Enrich.enrich(prefix, metas),
      s"$wh/test", org.apache.spark.sql.SaveMode.Overwrite)
    // resume at offset 2: suffix appended, full-count verify passes
    val cfg = graft.sources.JdbcIngest.JdbcConfig(url, wh,
      graft.IngestJob.TableMapping.parse("TEST:test"),
      offsetRows = Map("TEST" -> 2L), replace = true) // resume forces append
    val res = graft.IngestJob.run(spark, cfg).head
    assert(res.report.get.ok)
    assert(res.report.get.sinkCount === 3)
    val ids = spark.read.parquet(s"$wh/test")
      .select("ID").collect().map(_.getInt(0)).sorted.toSeq
    assert(ids === Seq(1, 2, 3))
  }

  test("S1 at scale: range-parallel scan equals the single-stream scan on rows+hash") {
    seeded
    // a wider fixture so every stride carries real rows
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    try st.execute("CREATE TABLE WIDE (ID INT PRIMARY KEY, NAME VARCHAR(100))")
    catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () }
    val haveRows = {
      val rs = st.executeQuery("SELECT COUNT(*) FROM WIDE")
      rs.next(); rs.getLong(1) > 0
    }
    if (!haveRows) {
      conn.setAutoCommit(false)
      val ps = conn.prepareStatement("INSERT INTO WIDE VALUES (?, ?)")
      (1 to 1000).foreach { i =>
        ps.setInt(1, i); ps.setString(2, s"name_$i"); ps.addBatch()
      }
      ps.executeBatch(); conn.commit(); ps.close()
      conn.setAutoCommit(true)
    }
    st.close(); conn.close()
    val metas = JdbcSource.readTableMetadata(url, "WIDE")
    val wm = JdbcSource.readWatermarkValue(url, "WIDE", "ID")
    assert(wm === Some(1000))
    val single = JdbcSource.scan(spark, url, "WIDE", metas, "ID", wm)
    val parallel = JdbcSource.scanPartitioned(spark, url, "WIDE", metas,
      "ID", wm, numPartitions = 4, lowerBound = 1L, upperBound = 1000L)
    // the partition count is REAL (visible in the scan's RDD), and the
    // range-split union is row-for-row the single-stream snapshot —
    // same rows, same canonical hashes
    assert(parallel.rdd.getNumPartitions === 4)
    def hashes(df: org.apache.spark.sql.DataFrame): Seq[String] =
      Enrich.enrich(df, metas).select("row_hash")
        .collect().map(_.getString(0)).sorted.toSeq
    val hp = hashes(parallel)
    assert(hp.size === 1000)
    assert(hp === hashes(single))
    // the frozen watermark bounds every stride identically
    val bounded = JdbcSource.scanPartitioned(spark, url, "WIDE", metas,
      "ID", Some(500), numPartitions = 4, lowerBound = 1L, upperBound = 1000L)
    assert(bounded.count() === 500)
    // NULL watermark → empty set on the parallel path too (FB:648)
    assert(JdbcSource.scanPartitioned(spark, url, "WIDE", metas, "ID",
      None, numPartitions = 4, lowerBound = 1L, upperBound = 1000L)
      .count() === 0)
    // bounds are a PARTITIONING hint, not a filter: Spark leaves the
    // first and last strides unbounded, so bounds narrower than the
    // data still read every row (no silent truncation for a caller who
    // estimated bounds from a stale sample)
    val inner = JdbcSource.scanPartitioned(spark, url, "WIDE", metas,
      "ID", wm, numPartitions = 4, lowerBound = 200L, upperBound = 800L)
    assert(inner.rdd.getNumPartitions === 4)
    assert(hashes(inner) === hp)
    // degenerate split requests collapse to a correct single stream
    assert(JdbcSource.scanPartitioned(spark, url, "WIDE", metas, "ID",
      wm, numPartitions = 1, lowerBound = 1L, upperBound = 1000L)
      .count() === 1000)
    // the full orchestration over the parallel path: bounds discovered
    // from the database (MIN + frozen MAX), count/hash verify green
    // against the same frozen baseline as a single-stream ingest
    val wh = tmp("jdbc-parallel")
    val cfg = graft.sources.JdbcIngest.JdbcConfig(url, wh,
      graft.IngestJob.TableMapping.parse("WIDE:wide"),
      replace = true, scanPartitions = Map("WIDE" -> 4))
    val res = graft.IngestJob.run(spark, cfg).head
    assert(!res.skipped && res.report.get.ok)
    assert(res.report.get.sourceCount === 1000)
    assert(res.report.get.sinkCount === 1000)
    assert(res.report.get.hashMismatches === 0L)
  }

  test("golden: scan SQL renders the Standard and Firebird dialects") {
    import JdbcSource.ScanDialect
    val metas = Seq(
      ColumnMeta("ID", Types.INTEGER, "INTEGER", 10, 0, nullable = false),
      ColumnMeta("NAME", Types.VARCHAR, "VARCHAR", 100, 0, nullable = true))
    // Standard (Derby-verified live): ANSI OFFSET/FETCH
    assert(JdbcSource.buildScanSql("TEST", metas, "ID", Some(3)) ===
      """SELECT "ID", "NAME" FROM "TEST" WHERE "ID" <= 3 ORDER BY "ID"""")
    assert(JdbcSource.buildScanSql("TEST", metas, "ID", Some(3),
      offsetRows = 2) ===
      """SELECT "ID", "NAME" FROM "TEST" WHERE "ID" <= 3 ORDER BY "ID" OFFSET 2 ROWS""")
    assert(JdbcSource.buildScanSql("TEST", metas, "ID", Some(3),
      offsetRows = 2, limitRows = Some(5)) ===
      """SELECT "ID", "NAME" FROM "TEST" WHERE "ID" <= 3 ORDER BY "ID" OFFSET 2 ROWS FETCH FIRST 5 ROWS ONLY""")
    // Firebird (FB:1073-1084 verbatim): SELECT [FIRST n] [SKIP m] cols
    assert(JdbcSource.buildScanSql("TEST", metas, "ID", Some(3),
      offsetRows = 2, dialect = ScanDialect.Firebird) ===
      """SELECT SKIP 2 "ID", "NAME" FROM "TEST" WHERE "ID" <= 3 ORDER BY "ID"""")
    assert(JdbcSource.buildScanSql("TEST", metas, "ID", Some(3),
      offsetRows = 2, dialect = ScanDialect.Firebird, limitRows = Some(5)) ===
      """SELECT FIRST 5 SKIP 2 "ID", "NAME" FROM "TEST" WHERE "ID" <= 3 ORDER BY "ID"""")
    // NULL watermark -> empty-set predicate in BOTH dialects (FB:648)
    assert(JdbcSource.buildScanSql("TEST", metas, "ID", None,
      dialect = ScanDialect.Firebird) ===
      """SELECT "ID", "NAME" FROM "TEST" WHERE 1 = 0 ORDER BY "ID"""")
  }

  test("golden: a resume orders the scan SQL by the key, then the tie-breakers, in both dialects") {
    import JdbcSource.ScanDialect
    val metas = Seq(
      ColumnMeta("ID", Types.INTEGER, "INTEGER", 10, 0, nullable = false),
      ColumnMeta("NAME", Types.VARCHAR, "VARCHAR", 100, 0, nullable = true))
    assert(JdbcSource.buildScanSql("TEST", metas, "ID", Some(3),
      offsetRows = 2, tieBreakers = Seq("NAME")) ===
      """SELECT "ID", "NAME" FROM "TEST" WHERE "ID" <= 3 ORDER BY "ID", "NAME" OFFSET 2 ROWS""")
    assert(JdbcSource.buildScanSql("TEST", metas, "ID", Some(3),
      offsetRows = 2, dialect = ScanDialect.Firebird, tieBreakers = Seq("NAME")) ===
      """SELECT SKIP 2 "ID", "NAME" FROM "TEST" WHERE "ID" <= 3 ORDER BY "ID", "NAME"""")
    // no resume, no tie-breakers: the offset-0 scan orders by the key alone
    assert(JdbcSource.buildScanSql("TEST", metas, "ID", Some(3),
      tieBreakers = Seq("NAME")) ===
      """SELECT "ID", "NAME" FROM "TEST" WHERE "ID" <= 3 ORDER BY "ID"""")
  }

  test("JdbcIngest: a resume on a key with duplicates appends exactly the rows after the first n") {
    seeded
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    // no primary key: the order key falls back to the first column, K,
    // which repeats; within each K the rows go in out of V order
    try {
      st.execute("CREATE TABLE DUPK (K INT, V VARCHAR(10))")
      st.execute("INSERT INTO DUPK VALUES (1, 'c'), (1, 'a'), (2, 'b'), (1, 'b'), (2, 'a'), (3, 'a')")
    } catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () }
    st.close(); conn.close()
    val full = Seq((1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"), (3, "a"))
    val metas = JdbcSource.readTableMetadata(url, "DUPK")
    val wm = JdbcSource.readWatermarkValue(url, "DUPK", "K")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Int, String)] =
      df.collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    for (n <- 1 to full.length)
      assert(rows(JdbcSource.scan(spark, url, "DUPK", metas, "K", wm,
        offsetRows = n, tieBreakers = Seq("V"))) === full.drop(n), s"offset $n")
    // a first attempt that died after two rows of the total order, inside
    // the K = 1 run; the resume appends the other four, each once
    val wh = tmp("jdbc-dup-resume")
    val prefix = JdbcSource.scan(spark, url, "DUPK", metas, "K", wm)
      .filter("K = 1 AND V < 'c'")
    graft.operators.Ddl.writePartitioned(Enrich.enrich(prefix, metas),
      s"$wh/dupk", org.apache.spark.sql.SaveMode.Overwrite)
    val res = graft.IngestJob.run(spark, graft.sources.JdbcIngest.JdbcConfig(url, wh,
      graft.IngestJob.TableMapping.parse("DUPK:dupk"), offsetRows = Map("DUPK" -> 2L))).head
    assert(res.report.get.ok, res)
    assert(rows(spark.read.parquet(s"$wh/dupk").select("K", "V")).sorted === full)
  }

  test("parallel scan strides bind an aliased key: reserved-word order keys work") {
    seeded
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    // "order": reserved word AND case-sensitive (needs quoting in the
    // SELECT list) — the exact key class the raw partitionColumn option
    // could bind differently on the parallel path
    try st.execute(
      """CREATE TABLE RESERVED ("order" INT PRIMARY KEY, NAME VARCHAR(20))""")
    catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () }
    val empty = {
      val rs = st.executeQuery("SELECT COUNT(*) FROM RESERVED")
      rs.next(); rs.getLong(1) == 0
    }
    if (empty) {
      conn.setAutoCommit(false)
      val ps = conn.prepareStatement("INSERT INTO RESERVED VALUES (?, ?)")
      (1 to 100).foreach { i =>
        ps.setInt(1, i); ps.setString(2, s"n_$i"); ps.addBatch()
      }
      ps.executeBatch(); conn.commit(); ps.close()
      conn.setAutoCommit(true)
    }
    st.close(); conn.close()
    val metas = JdbcSource.readTableMetadata(url, "RESERVED")
    assert(metas.map(_.name) === Seq("order", "NAME"))
    val wm = JdbcSource.readWatermarkValue(url, "RESERVED", "order")
    assert(wm === Some(100))
    val single = JdbcSource.scan(spark, url, "RESERVED", metas, "order", wm)
    val par = JdbcSource.scanPartitioned(spark, url, "RESERVED", metas,
      "order", wm, numPartitions = 4, lowerBound = 1L, upperBound = 100L)
    assert(par.rdd.getNumPartitions === 4)
    // the internal alias never leaks into the result schema
    assert(par.columns.map(_.toLowerCase).toSeq === Seq("order", "name"))
    val sorted = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    assert(sorted(par) === sorted(single))
  }

  test("JdbcIngest warns loudly when a parallel scan request degrades to single-stream") {
    seeded
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    // VARCHAR primary key: no integral range bounds -> stride split
    // impossible, the documented fallback case
    try st.execute("CREATE TABLE SKEY (K VARCHAR(10) PRIMARY KEY, V INT)")
    catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () }
    try st.execute("INSERT INTO SKEY VALUES ('a', 1), ('b', 2)")
    catch { case e: java.sql.SQLException if e.getSQLState == "23505" => () }
    st.close(); conn.close()
    val wh = tmp("jdbc-fallback")
    val cfg = graft.sources.JdbcIngest.JdbcConfig(url, wh,
      graft.IngestJob.TableMapping.parse("SKEY:skey"),
      replace = true, scanPartitions = Map("SKEY" -> 4))
    val res = graft.IngestJob.run(spark, cfg).head
    assert(!res.skipped && res.report.get.ok) // the ingest itself succeeds
    assert(res.warnings.exists(w => w.contains("falling back") &&
      w.contains("SKEY") && w.contains("4")),
      s"expected a named fallback warning, got: ${res.warnings}")
    // the parallel path (integral key, no offset) carries NO warning
    val okCfg = graft.sources.JdbcIngest.JdbcConfig(url, wh,
      graft.IngestJob.TableMapping.parse("TEST:test2"),
      replace = true, scanPartitions = Map("TEST" -> 2))
    assert(graft.IngestJob.run(spark, okCfg).head.warnings.isEmpty)
  }

  test("typed row over JDBC: canonical tokens honor DECIMAL/CHAR/TIMESTAMP metadata") {
    seeded
    val metas = JdbcSource.readTableMetadata(url, "TYPED")
    val df = JdbcSource.scan(spark, url, "TYPED", metas, "K",
      JdbcSource.readWatermarkValue(url, "TYPED", "K"))
    val h = Enrich.enrich(df, metas).select("row_hash").head.getString(0)
    // 1.0000005 → HALF_UP 1.000001; 12.345 decimal plain; CHAR(8) padded;
    // timestamp .1230
    assert(h === CanonicalHash.md5Hex(
      "10|1.000001|12.345|ab      |2024-02-29 23:59:59.1230"))
  }
}
