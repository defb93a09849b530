package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** One benchmark run:
 * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
 * Prints the run's figures and, as its last stdout line, the JSON
 * result. `--work` is a scratch directory the run owns and removes. */
object Main {
  val byName: Map[String, RunConfig => RunResult] = Map(
    "query_cold" -> Workloads.queryCold,
    "ingest_mixed" -> Workloads.ingestMixed)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val name = opt("workload")
    val run = byName.getOrElse(name, { System.err.println(s"unknown workload $name"); sys.exit(2) })
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    // the library's own bench session settings, sized to this machine
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val startSecs = (System.nanoTime() - t0) / 1e9
    val code = try {
      val r = run(RunConfig(spark, opt("seed").toLong, opt("seconds").toInt, opt("trace") == "1", work))
      Result.print(name, r.ops, r.metrics, f"spark start $startSecs%.2f s on local[$cpus]" +: r.notes)
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    } finally {
      spark.stop()
      Harness.deleteTree(work)
    }
    sys.exit(code)
  }
}
