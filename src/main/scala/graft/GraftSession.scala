package graft

import org.apache.spark.sql.SparkSession

/**
 * The one session factory every main uses, so a query runs under the
 * same conf whichever main drives it:
 *
 *   - `local[cores]` with `cores` shuffle partitions;
 *   - session time zone UTC (canonical-hash tokens depend on it);
 *   - AQE on, with its post-shuffle coalescing floor at [[AqeFloor]] —
 *     the value every query runs under unless its `Queries.Q.conf`
 *     declares another;
 *   - 2 MB file splits with a 512 KB open cost: the default 128 MB
 *     split makes every sub-128 MB multi-row-group scan a single task;
 *   - UI off, log level WARN.
 *
 * `cores` defaults to `SPARK_GRAFT_CPUS`, else the host's processor
 * count.
 */
object GraftSession {

  val AqeFloorKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** AQE coalescing floor 256 KB. With `parallelismFirst` (Spark's
    * default) the post-shuffle task count is about
    * bytes / max(bytes / cores, floor), so the floor keeps KB-scale,
    * CPU-cheap shuffles from splintering into one near-empty task per
    * core, while MB-scale funnel folds still get 4–8 tasks (under
    * Spark's 1 MB default they ran as one). Paired 12-query A/B at 32
    * cores: −1.5 s against a 64 KB floor. Production shuffles dwarf any
    * of these floors; this is small-shuffle parallelism policy, not
    * cluster tuning. */
  val AqeFloor = "256k"

  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  def apply(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config(AqeFloorKey, AqeFloor)
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.sql.files.openCostInBytes", "512k")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
