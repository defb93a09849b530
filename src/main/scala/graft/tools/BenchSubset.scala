package graft.tools

/**
 * Scale-probe bench: time a comma-separated subset of the
 * [[graft.SparkEntry.queries]] registry against an arbitrary SF
 * directory (ScaleGen output included) — the tool behind the
 * BASELINE.md 10×/100× scaling tables, where running the full
 * headline set would take too long per data point.
 *
 * Usage: `runMain graft.tools.BenchSubset <sfDir> <name1,name2,...>`
 * Prints one `BENCHSUBSET <name> <best-of-3 sec>` line per query.
 * Every query is warmed on the `sf0.001` sibling of `<sfDir>` (or on
 * `<sfDir>` itself when there is none) before any is timed, which
 * charges codegen to the warmup, as in [[graft.Bench]].
 *
 * SAMPLE HYGIENE, automated (the r14/r15 floors were hand-filtered):
 * two contamination modes get detected and re-run in-harness —
 *  - SLOW-IO: the box's bimodal buffered-write throttling, probed
 *    next to each sample ([[IoProbe]]); samples probed slow re-run
 *    once the state reads fast (bounded passes), [[graft.Bench]]'s
 *    io_reruns discipline.
 *  - CHECKPOINT RESIDUE: earlier heavy queries' localCheckpoint
 *    blocks stay pinned until their RDD objects are GC'd and the
 *    ContextCleaner drains them; a later sample timed over hundreds
 *    of MB of standing blocks reads up to 1.5× high (BASELINE items
 *    23/29). Before each query the harness DRAINS (gc + bounded
 *    cleaner wait) until executor storage memory falls under
 *    [[SampleHygiene.ResidueBytes]]; a sample that still timed over
 *    the threshold is flagged and re-run after a final drain. The shared gate
 *    caches (clusters/verdicts frames) are deliberately small and
 *    sit below the threshold — draining never evicts them.
 *
 * The warmup, sampling and retry loop is [[SampleHygiene.sampleAll]],
 * shared with the official [[graft.Bench]] main; this tool remains
 * the arbitrary-SF / arbitrary-subset floors harness. The recorded
 * io/residue always describe whichever sample produced the STANDING
 * min (r16 ADVICE: a state field overwritten by a later, slower
 * sample stops describing the recorded time).
 */
object BenchSubset {

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: BenchSubset <sfDir> <name1,name2,...>  (names from SparkEntry.queries)")
      sys.exit(2)
    }
    val dir = args(0)
    val (names, unknown) = args(1).split(",").toSeq
      .partition(graft.SparkEntry.queries.contains)
    unknown.foreach(n => System.err.println(s"[benchsubset] unknown query: $n"))
    val spark = LocalSession()
    // warmup on the sibling sf0.001: the codegen cost (2-5×
    // steady-state) must bill the warmup pass, not the sample
    val results = SampleHygiene.sampleAll(spark, names,
      SampleHygiene.warmDir(dir), dir)
    results.foreach { r =>
      val flag = if (r.threw) " FAILED" else ""
      val slow = if (r.io >= 0 && r.io < IoProbe.SlowMbps) " SLOW-IO" else ""
      val res = if (r.residue > SampleHygiene.ResidueBytes)
        f" RESIDUE=${r.residue / (1024 * 1024)}%dMB" else ""
      val rr = if (r.reruns > 0) s" reruns=${r.reruns}" else ""
      println(f"BENCHSUBSET ${r.name} ${r.sec}%.2f io=${r.io}%.0fMB/s$flag$slow$res$rr")
    }
    // durable machine-readable record, same shape as Bench's
    // target/bench.json (per-probe history survives log truncation)
    val failed = SampleHygiene.jsonNames(results.filter(_.threw))
    val dirty = SampleHygiene.jsonNames(results.filter(_.contaminated))
    val reruns = results.map(_.reruns).sum
    val out = java.nio.file.Paths.get("target/bench-subset.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out,
      (s"""{${SampleHygiene.jsonMaps(results, _.toString)},"failed":$failed,""" +
        s""""contaminated":$dirty,"state_reruns":$reruns,"sf":"$dir"}""" +
        "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
