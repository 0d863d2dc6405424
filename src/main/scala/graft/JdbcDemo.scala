package graft

import java.sql.DriverManager

import graft.functions.CanonicalHash
import graft.operators.Enrich
import graft.sources.JdbcSource

/** JDBC smoke flow — the Spark-native analogue of the reference's
  * `verify-pipeline.sh` (seeds TEST(ID, NAME) with (1,'row1'), runs
  * discovery → ordered snapshot scan → enrichment → hash check).
  * Usage: runMain graft.JdbcDemo */
object JdbcDemo {
  def main(args: Array[String]): Unit = {
    val url = "jdbc:derby:memory:jdbcdemo;create=true"
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.execute("CREATE TABLE TEST (ID INT PRIMARY KEY, NAME VARCHAR(100))")
    st.execute("INSERT INTO TEST VALUES (1, 'row1')")
    st.execute("INSERT INTO TEST VALUES (2, 'row2')")
    st.close(); conn.close()

    val spark = GraftSession()

    val access = JdbcSource.checkTableAccess(url, "TEST")
    val metas = JdbcSource.readTableMetadata(url, "TEST")
    val pk = JdbcSource.detectPrimaryKeyColumn(url, "TEST")
    val wm = JdbcSource.readWatermarkValue(url, "TEST", pk.get)
    println(s"[jdbc-demo] access=$access columns=" +
      metas.map(m => s"${m.name}:${m.dataType.simpleString}").mkString(",") +
      s" pk=$pk watermark=$wm")
    println("[jdbc-demo] scan sql: " +
      JdbcSource.buildScanSql("TEST", metas, pk.get, wm))

    val df = JdbcSource.scan(spark, url, "TEST", metas, pk.get, wm)
    val enriched = Enrich.enrich(df, metas)
    enriched.select("id", "name", "row_hash").show(truncate = false)
    val h1 = enriched.filter("id = 1").select("row_hash").head().getString(0)
    val golden = CanonicalHash.md5Hex("1|row1")
    println(s"[jdbc-demo] fixture hash=$h1 golden=$golden match=${h1 == golden}")
    if (h1 != golden) { spark.stop(); sys.exit(1) }

    // the full CLI path over a live connection (--jdbc-url routing):
    // IngestMain exits non-zero itself if the consistency check fails
    val cliUrl = "jdbc:derby:memory:jdbcdemo_cli;create=true"
    val c2 = DriverManager.getConnection(cliUrl)
    val s2 = c2.createStatement()
    s2.execute("CREATE TABLE TEST (ID INT PRIMARY KEY, NAME VARCHAR(100))")
    s2.execute("INSERT INTO TEST VALUES (1, 'row1')")
    s2.execute("INSERT INTO TEST VALUES (2, 'row2')")
    s2.execute("INSERT INTO TEST VALUES (3, NULL)")
    s2.close(); c2.close()
    val wh = java.nio.file.Files.createTempDirectory("jdbc-demo-wh").toString
    IngestMain.main(Array("--jdbc-url", cliUrl, "--tables", "TEST:test",
      "--warehouse", wh, "--mode", "replace"))
    println(s"[jdbc-demo] CLI --jdbc-url ingest verified into $wh/test")
  }
}
