package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Session confs of the entry points the workloads stand in for. Keep in
  * step with `graft.IngestMain.main` and `graft.Bench.main`. */
object Sessions {
  private def fresh(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** `IngestMain`'s conf at `cores` (its `SPARK_GRAFT_CPUS`). */
  def ingest(cores: Int): SparkSession = {
    fresh()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-ingest")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `Bench`'s conf at `cores`, with its environment knobs at their
    * defaults. */
  def bench(cores: Int): SparkSession = {
    fresh()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.sql.files.openCostInBytes", "512k")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
