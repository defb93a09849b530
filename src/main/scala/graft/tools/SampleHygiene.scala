package graft.tools

import org.apache.spark.sql.SparkSession

/**
 * Shared bench-sample hygiene (BASELINE items 19/23/29/37): the two
 * contamination modes that make a timed sample read high on this box,
 * detected and drained in-harness so the recorded floor is a
 * like-for-like measurement of the PLAN, not of box state.
 *
 *  - SLOW-IO: the buffered-write path is bimodal (~28 MB/s throttled
 *    vs ~2.8 GB/s); shuffle/checkpoint writes ride it. Probed next to
 *    each sample via [[IoProbe.sampleMbps]].
 *  - CHECKPOINT RESIDUE: earlier queries' localCheckpoint blocks stay
 *    pinned until their RDDs are GC'd and the ContextCleaner drains
 *    them; a sample timed over hundreds of MB of standing blocks reads
 *    up to 1.5× high. [[drainResidue]] gc+waits (bounded) until the
 *    cached-RDD bytes fall back to the session's standing-cache floor.
 *
 * RESIDUE METRIC (r17 fix): the old metric —
 * `statusTracker.getExecutorInfos` storage memory — is a RATCHET on
 * this runtime: broadcast-block removals never decrement it, so over a
 * 190-query suite it climbs monotonically (measured 126 → 970 MB while
 * `getPersistentRDDs` was EMPTY and a 30 s gc loop reclaimed nothing,
 * ProbeResidue r17, in git at 5b09031). Under that metric the whole
 * r17 baseline run read permanently contaminated: 178/191 queries
 * flagged, every retry gated off ("state still bad"), and the drain
 * loops added ~25 min of pure sleep to the bench wall-clock. The metric is now the live
 * cached-RDD bytes (`getRDDStorageInfo`), which RDD unpersists do
 * decrement, and residue is the DELTA above the smallest level ever
 * observed this session (the intentional standing caches — shared
 * cluster/verdict frames — are a floor, not contamination).
 *
 * Both the official [[graft.Bench]] full-suite main and the
 * [[BenchSubset]] floors tool time through [[sampleAll]], so the
 * official per-round record and the BASELINE floor runs carry the
 * same discipline (the r16 official record was ~1.36× uniformly
 * inflated precisely because this lived only in BenchSubset).
 */
object SampleHygiene {

  /** Cached-RDD bytes ABOVE the session floor past which a sample is
   * residue-contaminated: the intentional cross-query caches live in
   * the floor; heavy queries leave 10²-10³ MB of dead blocks. */
  val ResidueBytes: Long = 256L * 1024 * 1024

  /** Live cached-RDD memory: counts exactly the blocks a dead
   * localCheckpoint pins and an unpersist releases — unlike the
   * executor storage-memory gauge, which never comes back down when
   * broadcast blocks are removed (see object scaladoc). */
  def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum

  /** Smallest cached-bytes level observed per SESSION — the standing
   * intentional caches. Residue is measured above this. Keyed per
   * SparkSession (weakly — ADVICE r17: an object-level var let a
   * second session in the same JVM inherit the first session's
   * floor). */
  private val floors = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Long]())

  /** gc + wait for the ContextCleaner to drop unreferenced
   * checkpoint blocks, bounded; returns the residual bytes ABOVE the
   * session floor. Exits early when a gc round reclaims nothing —
   * whatever remains is referenced (standing caches), and sleeping on
   * it again per query is how the r17 baseline lost 25 minutes.
   *
   * FIRST call for a session (floor unset): drain unconditionally
   * until a gc round stops reclaiming, and only THEN pin the floor —
   * with the floor seeded at MaxValue the old loop condition was 0 by
   * construction, so the floor pinned at whatever dead blocks the
   * ~190-query warmup left standing and the first samples ran under
   * hundreds of MB of unreported residue (ADVICE r18 medium). */
  def drainResidue(spark: SparkSession): Long = {
    val floor0 = Option(floors.get(spark)).map(_.longValue)
    var b = storageBytes(spark)
    var tries = 0
    def dirty(cur: Long): Boolean = floor0 match {
      case Some(f) => cur - math.min(f, cur) > ResidueBytes
      case None    => cur > 0 // first call: drain to the true floor
    }
    while (dirty(b) && tries < 6) {
      System.gc()
      Thread.sleep(300)
      val nb = storageBytes(spark)
      // no progress ⇒ remaining blocks are live/referenced: stop
      tries = if (nb >= b) 6 else tries + 1
      b = nb
    }
    val floor = math.min(floor0.getOrElse(Long.MaxValue), b)
    floors.put(spark, floor)
    b - floor
  }

  /** One measured sample: the best-of-`runs` seconds for the query,
   * whether any run threw, and the io/residue state it was taken
   * under. `residue`/`io` describe THIS sample — callers keeping a
   * min across samples must keep the state of whichever sample
   * produced the standing min (ADVICE r16: a state field overwritten
   * by a later, slower sample stops describing the recorded time). */
  final case class Sample(sec: Double, threw: Boolean, io: Double,
    residue: Long)

  def contaminated(io: Double, residue: Long): Boolean =
    (io >= 0 && io < IoProbe.SlowMbps) || residue > ResidueBytes

  /** Drain, probe, then time `runs` back-to-back executions of `fn`
   * (min is the estimator; a thrown run is tracked separately so an
   * intermittent crash can't read as healthy).
   *
   * The io state is probed on BOTH sides of the timed runs and the
   * sample carries the MINIMUM: a writeback-throttle window opening
   * mid-sample was invisible to the pre-probe alone (r17 measured
   * back-to-back full suites 90.9 vs 107.7 s from exactly this — the
   * VERDICT r17 "mid-sample blind spot"), while a window that opens
   * and fully closes between the probes still biases the recorded
   * time only UP, which the caller's bounded retry machinery already
   * treats correctly (min across samples stands). */
  def measure(spark: SparkSession, runs: Int)(fn: => Unit): Sample = {
    val residue = drainResidue(spark)
    val ioPre = IoProbe.sampleMbps()
    var threw = false
    val times = (1 to runs).flatMap { _ =>
      val t0 = System.nanoTime()
      try { fn; Some((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        System.err.println(s"[bench] run failed: ${e.getMessage}")
        threw = true
        None
      }
    }
    val ioPost = IoProbe.sampleMbps()
    // -1 means "probe failed", not "slow": prefer the valid reading
    val io =
      if (ioPre < 0) ioPost
      else if (ioPost < 0) ioPre
      else math.min(ioPre, ioPost)
    Sample(if (times.nonEmpty) times.min else 999.0, threw, io, residue)
  }

  /** A query's standing sample: its min seconds, whether any run threw,
   * the io/residue state of the sample that produced the min, and how
   * many contaminated-sample re-runs it got. */
  final case class Result(name: String, sec: Double, threw: Boolean,
      io: Double, residue: Long, reruns: Int) {
    def contaminated: Boolean = SampleHygiene.contaminated(io, residue)
  }

  /** The warmup directory for a run measured on `sfDir`: its sibling
   * `sf0.001` when that exists, else `sfDir` itself. */
  def warmDir(sfDir: String): String = {
    val tiny = new java.io.File(
      new java.io.File(sfDir).getAbsoluteFile.getParentFile, "sf0.001")
    if (tiny.isDirectory) tiny.toString else sfDir
  }

  /** The bench sampling loop. Untimed warmup first: every query runs
   * once on `warmDir` (the smallest SF), which charges Janino
   * whole-stage-codegen compilation (2-5x a query's steady-state cost)
   * and JIT warmup to the warmup, not the measurement. Then each query,
   * in order, is timed on `dataDir` by [[measure]] (best of 3 `count()`
   * runs). Last comes the bounded contaminated-sample retry: up to 2
   * passes over queries whose sample was taken slow-io or
   * residue-laden. A re-run only counts when the fresh state reads
   * clean, the min across samples stands (contamination only ever
   * reads HIGH), and io/residue follow the standing-min sample so the
   * JSON stays self-describing. */
  def sampleAll(spark: SparkSession, names: Seq[String], warmDir: String,
      dataDir: String): Seq[Result] = {
    def run(name: String, dir: String): Unit = {
      graft.SparkEntry.queries(name)(spark, dir).count(); ()
    }
    try spark.range(1000000).selectExpr("sum(id)").collect()
    catch { case _: Throwable => () }
    names.foreach { name =>
      try run(name, warmDir)
      catch { case _: Throwable => () }
    }
    var results = names.map { name =>
      val s = measure(spark, 3)(run(name, dataDir))
      Result(name, s.sec, s.threw, s.io, s.residue, 0)
    }
    var pass = 0
    while (pass < 2 && results.exists(_.contaminated)) {
      results = results.map { r =>
        if (!r.contaminated) r
        else {
          val residue2 = drainResidue(spark)
          val io2 = IoProbe.sampleMbps()
          if (contaminated(io2, residue2)) r // state still bad
          else {
            val s2 = measure(spark, 3)(run(r.name, dataDir))
            if (s2.sec <= r.sec)
              Result(r.name, s2.sec, r.threw || s2.threw, s2.io, s2.residue,
                r.reruns + 1)
            else // old (contaminated) sample stands: keep ITS state
              r.copy(threw = r.threw || s2.threw, reruns = r.reruns + 1)
          }
        }
      }
      pass += 1
    }
    results
  }

  /** `"queries":{..},"io_mbps":{..},"residue_mb":{..}` over `results`,
   * seconds written by `fmt`: the per-query maps of both benches' JSON
   * records. */
  def jsonMaps(results: Seq[Result], fmt: Double => String): String = {
    def map(value: Result => Any): String =
      results.map(r => "\"" + r.name + "\":" + value(r)).mkString("{", ",", "}")
    val io = map(r => BigDecimal(r.io).setScale(1, BigDecimal.RoundingMode.HALF_UP))
    val residue = map(r => r.residue / (1024 * 1024))
    s""""queries":${map(r => fmt(r.sec))},"io_mbps":$io,"residue_mb":$residue"""
  }

  /** JSON array of the quoted names of `results`, in order. */
  def jsonNames(results: Seq[Result]): String =
    results.map(r => "\"" + r.name + "\"").mkString("[", ",", "]")
}
