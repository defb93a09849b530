package graft.tools

import org.apache.spark.sql.SparkSession

/**
 * The one session every main builds: `local[cpus]` with cpus shuffle
 * partitions, UTC session time, `nanosAsLong` (events' TIMESTAMP(NANOS)
 * `ts` reads as the engine's epoch-ns BIGINT), AQE on, UI off, log
 * level WARN.
 *
 * `cpus` is `SPARK_GRAFT_CPUS`, else the machine's core count.
 * `SPARK_MASTER`, when set, replaces the local master (a deployment
 * override). Called inside a running application, it returns that
 * application's session with its conf untouched, so a tool run from a
 * test suite cannot change the suite's shuffle partitioning.
 */
object LocalSession {

  def apply(): SparkSession = SparkSession.getDefaultSession.getOrElse {
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$n]"))
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
