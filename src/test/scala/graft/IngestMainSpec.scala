package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.JdbcIngest

/** The code that turns `IngestMain`'s arguments into a run. */
class IngestMainSpec extends AnyFunSuite {

  test("a mode other than append or replace is rejected, not read as append") {
    val why = IngestMain.config(Array("--warehouse", "/w", "--mode", "replce"))
    assert(why.left.exists(_.contains("replce")), why)
  }

  test("--scan-partitions without --jdbc-url is rejected, not dropped") {
    val why = IngestMain.config(Array("--warehouse", "/w", "--scan-partitions", "ORDERS=4"))
    assert(why.left.exists(_.contains("--jdbc-url")), why)
  }

  test("a malformed override is rejected with its entry") {
    val why = IngestMain.config(Array("--warehouse", "/w", "--order-by", "lineitem"))
    assert(why.left.exists(_.contains("lineitem")), why)
  }

  test("arguments become a parquet run, or with --jdbc-url a JDBC run") {
    IngestMain.config(Array("--source-dir", "/d", "--warehouse", "/w",
        "--tables", "lineitem,region:region_ice", "--mode", "replace",
        "--order-by", "lineitem=l_orderkey", "--offset", "lineitem=5",
        "--fail-on-consistency-error", "false")) match {
      case Right(c: IngestJob.IngestConfig) =>
        assert(c.sourceDir === "/d")
        assert(c.warehouseDir === "/w")
        assert(c.tables === Seq(IngestJob.TableMapping("lineitem", "lineitem"),
          IngestJob.TableMapping("region", "region_ice")))
        assert(c.replace)
        assert(!c.failOnConsistencyError)
        assert(c.orderByOverride === Map("lineitem" -> "l_orderkey"))
        assert(c.offsetRows === Map("lineitem" -> 5L))
      case other => fail(s"expected a parquet run, got $other")
    }
    IngestMain.config(Array("--jdbc-url", "jdbc:derby:memory:x", "--warehouse", "/w",
        "--tables", "orders", "--naming", "fb", "--scan-partitions", "ORDERS=4")) match {
      case Right(c: JdbcIngest.JdbcConfig) =>
        assert(c.url === "jdbc:derby:memory:x")
        assert(c.tables === Seq(IngestJob.TableMapping("ORDERS", "orders")))
        assert(!c.replace) // append is the default mode
        assert(c.scanPartitions === Map("ORDERS" -> 4))
      case other => fail(s"expected a JDBC run, got $other")
    }
  }
}
