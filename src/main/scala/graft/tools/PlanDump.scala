package graft.tools

import java.nio.file.{Files, Paths}

/** Writes `.explain("formatted")` for named registry queries into
  * `plans/<tag>/<query>_<suffix>.txt` — the before/after plan artifacts
  * the optimization rounds commit alongside the code.
  *
  * Usage: runMain graft.tools.PlanDump <tag> <suffix> <sfDir> <q1,q2,...|all>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(tag, suffix, sfDir) = args.take(3)
    val names: Seq[String] =
      if (args.length < 4 || args(3) == "all")
        graft.SparkEntry.queries.keys.toSeq.sorted
      else args(3).split(",").toSeq
    val spark = LocalSession()
    val outDir = Paths.get(s"plans/$tag")
    Files.createDirectories(outDir)
    names.foreach { n =>
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(outDir.resolve(s"${n}_$suffix.txt"), txt)
        println(s"[plandump] wrote ${n}_$suffix.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
