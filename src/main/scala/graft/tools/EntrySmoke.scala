package graft.tools

/** Driver-contract smoke: SparkEntry.entry must return rows > 0 on
 * sf0.001 (the driver's own check) — run it locally so a contract
 * break surfaces before the round gate does. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val n = graft.SparkEntry.entry(spark).count()
    println(s"ENTRY rows=$n")
    require(n > 0, "entry returned no rows")
    spark.stop()
  }
}
