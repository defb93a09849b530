package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** What one run is given: the seed its inputs come from, how long it
 * measures, whether it is the traced run, and where it may write. */
final case class RunConfig(spark: SparkSession, seed: Long, seconds: Int,
    traced: Boolean, work: Path)

/** What one run reports. */
final case class RunResult(ops: Ops, metrics: Seq[Metric], notes: Seq[String])

/** The two workloads. Both serve the same seeded series: ~100k events
 * over 30 days (the size of the library's sf0.1 events table), plus a
 * 31st day that only writes use. */
object Workloads {
  import Harness.Db

  val Days = 31
  val EventCount = 103333
  val SetUps = 3
  val QueryClients = 2
  val BatchDocs = 20
  /** `POST /{db}/_compact` after this many commits. */
  val CompactEvery = 10
  val PostProbes = 8
  val BatchProbes = 8

  private def secs(ns: Long): Double = ns / 1e9

  private def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
    t
  }

  private def read(layers: Option[Layers], rid: Int, r: Either[QuerySpec, ScanSpec], http: Http): Reply =
    (layers, r) match {
      case (Some(l), Left(q)) => l.query(rid, q, http)
      case (Some(l), Right(s)) => l.scan(rid, s, http)
      case (None, _) => http.get(pathOf(r))
    }

  private def post(layers: Option[Layers], rid: Int, d: Doc, http: Http, startNs: Long): Reply =
    layers.fold(http.call("POST", s"/$Db?ts=${d.key}", d.json, startNs))(_.post(rid, d, http, startNs))

  private def batch(layers: Option[Layers], rid: Int, docs: Seq[Doc], mc: Mc, startNs: Long): Reply =
    layers.fold(mc.batch(docs.map(d => (d.key, d.json)), startNs))(_.batch(rid, docs, mc, startNs))

  private def kind(r: Either[QuerySpec, ScanSpec]): String = if (r.isLeft) "query" else "scan"

  private def pathOf(r: Either[QuerySpec, ScanSpec]): String = r.fold(_.path(Db), _.path(Db))

  private def checkExact(ev: Events, r: Either[QuerySpec, ScanSpec], body: String): Option[String] =
    r.fold(Reference.checkQuery(ev, _, body), Reference.checkScan(ev, _, body))

  /** The figures every workload reports, from its latency sets. A
   * latency figure is the median of its kind, or, for a kind split into
   * request classes, the geometric mean of the class medians. */
  private def endToEnd(setUp: Seq[Double], lat: Latencies, readSecs: Double,
      spaceAmp: Double, queries: Int): Seq[Metric] = {
    def p50(kind: String) = {
      val n = lat(kind).size
      require(n > 0, s"the run produced no $kind samples")
      (Stats.classMedian(lat.classes(kind)), n)
    }
    def ms(name: String, kind: String) = {
      val (v, n) = p50(kind)
      Metric(name, v, "ms", n)
    }
    val (batchMs, batches) = p50("batch")
    Seq(
      Metric("setup_s", Stats.median(setUp), "s", setUp.size),
      ms("query_p50_ms", "query"),
      Metric("query_qps", queries / readSecs, "1/s", queries),
      ms("scan_p50_ms", "scan"),
      ms("write_p50_ms", "post"),
      ms("visible_p50_ms", "visible"),
      Metric("ingest_docs_per_s", BatchDocs / (batchMs / 1000), "docs/s", batches),
      Metric("space_amp", spaceAmp, "ratio", 1))
  }

  /** For each latency set, the highest whole percentile with at least
   * ten samples beyond it (too few samples to gate on in one run). */
  private def tails(lat: Latencies): String =
    Seq("query", "scan", "post", "batch", "visible", "compact").flatMap { k =>
      val xs = lat(k)
      val p = math.floor(100 * (1 - 10.0 / xs.size)).toInt
      if (p < 50) None else Some(f"$k p$p ${Stats.quantile(xs, p / 100.0)}%.1f ms (n=${xs.size})")
    }.mkString("latency tails (highest percentile with 10 samples beyond): ", ", ", "")

  /** A traced run's window is three equal phases that make the same
   * calls: 0 warms the JVM, 1 is untraced, 2 is traced. Comparing 1
   * with 2 gives the tracing overhead; the warm phase keeps the JVM's
   * own speed-up over the first seconds out of that comparison. */
  private def phaseOf(t0: Long, seconds: Int): Int =
    math.min(2, ((System.nanoTime() - t0) * 3 / (seconds * 1000000000L)).toInt)

  /** Traced over untraced `_query` median, in %. Both phases walk the
   * same shape cycle from its start, so only their common prefix is
   * compared: the n-th query of each phase has the same shape. */
  private def overheadPct(untraced: Seq[Double], traced: Seq[Double]): Double = {
    val n = math.min(untraced.size, traced.size)
    if (n == 0) 0.0
    else (Stats.median(traced.take(n)) / Stats.median(untraced.take(n)) - 1) * 100
  }

  /** query_cold: 4 closed-loop clients send distinct requests (~80%
   * `_query`, ~20% `_all` with limit 500) over the compacted 30-day
   * series. No request repeats, so the query cache never hits. Every
   * reply is compared with the reference. After the read window, a
   * short write probe on the now idle server times sequential `POST`s
   * and memcached batches, each followed by a read-back. */
  def queryCold(c: RunConfig): RunResult = {
    val ops = new Ops
    val lat = new Latencies
    val ev = Events.generate(c.seed, EventCount, Days)
    val cut = ev.lowerBound(Events.BaseNs + 30 * Events.DayNs)
    val preload = Harness.docs(ev, 0, cut)
    val served = ev.select(Array.range(0, cut))
    val warm = Requests.mix(c.seed ^ 0x5eed, 5, 30)
    val (srv, setUp) = Harness.repeatSetUp(c.work, if (c.traced) 1 else SetUps) { root =>
      val s = Harness.load(c.spark, root, preload)
      val http = new Http(s.httpPort)
      warm.foreach(r => ops.check(checkExact(served, r, http.get(pathOf(r)).body), s"warm-up ${kind(r)}"))
      Harness.warmWrites(s, preload.take(8))
      s
    }
    val reqs = Requests.mix(c.seed, 40 * c.seconds + 200, 30).filterNot(warm.toSet)
    val replies = new Array[Reply](reqs.size)
    val done = mutable.ArrayBuffer.empty[(Either[QuerySpec, ScanSpec], Reply)]
    val next = new AtomicInteger
    val t0 = System.nanoTime()
    val deadline = t0 + c.seconds * 1000000000L
    // the untraced phases make the same direct layer calls through a
    // tracer that records nothing; the recording tracer, and with it
    // the listener, starts with the traced phase
    lazy val plainLayers = new Layers(srv, new Tracer(c.spark.sparkContext, record = false))
    lazy val tracer = new Tracer(c.spark.sparkContext)
    lazy val traceLayers = new Layers(srv, tracer)
    def layers = if (c.traced) Some(traceLayers) else None
    val untracedQuery = mutable.ArrayBuffer.empty[Double]
    val tracedQuery = mutable.ArrayBuffer.empty[Double]
    if (c.traced) {
      // one client. Each phase sends its own distinct sequence from
      // the start of the shape cycle, so the untraced and traced
      // `_query` medians compare like with like
      val http = new Http(srv.httpPort)
      val second = Requests.mix(c.seed ^ 0x7ace, 40 * c.seconds + 200, 30)
        .filterNot((warm ++ reqs).toSet)
      val third = Requests.mix(c.seed ^ 0x3ace, 40 * c.seconds + 200, 30)
        .filterNot((warm ++ reqs ++ second).toSet)
      val phases = IndexedSeq(reqs, second, third)
      val sent = Array(0, 0, 0)
      while (System.nanoTime() < deadline) {
        val phase = phaseOf(t0, c.seconds)
        val r = phases(phase)(sent(phase))
        val reply = read(Some(if (phase == 2) traceLayers else plainLayers), sent.sum + 1, r, http)
        done += ((r, reply))
        if (r.isLeft && phase > 0) (if (phase == 2) tracedQuery else untracedQuery) += reply.latencyNs / 1e6
        sent(phase) += 1
      }
      // the workload's premise: distinct requests never hit the cache
      val hits = plainLayers.httpCacheHits + traceLayers.httpCacheHits
      ops.check(if (hits == 0) None else Some(s"$hits hits"), "query cache bypassed")
    } else {
      val clients = (0 until QueryClients).map(n => thread(s"client-$n") {
        val http = new Http(srv.httpPort)
        var i = next.getAndIncrement()
        while (System.nanoTime() < deadline && i < reqs.size) {
          replies(i) = http.get(pathOf(reqs(i)))
          i = next.getAndIncrement()
        }
      })
      clients.foreach(_.join())
      done ++= reqs.indices.filter(replies(_) != null).map(i => (reqs(i), replies(i)))
    }
    val readSecs = secs(System.nanoTime() - t0)
    for ((req, r) <- done) {
      lat.add(s"${kind(req)}/${req.fold(_.shape, _.shape)}", r.latencyNs)
      val bad = if (!r.ok) Some(s"failed: ${r.body.take(200)}") else checkExact(served, req, r.body)
      ops.check(bad, s"${kind(req)} ${pathOf(req)}")
    }

    // the idle-server write probe: keys from the 31st day
    val http = new Http(srv.httpPort)
    val mc = new Mc(srv.mcPort, Db)
    val probe = Harness.docs(ev, cut, cut + PostProbes + BatchProbes * BatchDocs)
    val acked = mutable.ArrayBuffer.empty[Doc]
    for (j <- 0 until PostProbes) {
      val d = probe(j)
      val start = System.nanoTime()
      val r = post(layers, 1000000 + j, d, http, start)
      ops.record(r.ok, s"POST ${d.key}: ${r.body.take(200)}")
      lat.add("post", r.latencyNs)
      if (r.ok) acked += d
      val v = Harness.awaitVisible(http, d, start)
      ops.record(v.ok, s"read-back of ${d.key}")
      lat.add("visible/post", v.latencyNs)
    }
    for (b <- 0 until BatchProbes) {
      val docs = probe.slice(PostProbes + b * BatchDocs, PostProbes + (b + 1) * BatchDocs)
      val start = System.nanoTime()
      val r = batch(layers, 2000000 + b, docs, mc, start)
      ops.record(r.ok, s"memcached batch $b: ${r.body.take(200)}")
      lat.add("batch", r.latencyNs)
      if (r.ok) acked ++= docs
      val v = Harness.awaitVisible(http, docs.last, start)
      ops.record(v.ok, s"read-back of ${docs.last.key}")
      lat.add("visible/batch", v.latencyNs)
    }
    mc.close()
    val amp = Harness.spaceAmp(http, Harness.jsonBytes(preload) + Harness.jsonBytes(acked.toSeq))
    Harness.checkDurable(srv, http, cut, acked.toSeq, ops)
    srv.stop()

    val notes = Seq(
      f"read window ${readSecs}%.1f s, ${lat("query").size} _query + ${lat("scan").size} _all replies",
      tails(lat),
      s"set-up runs (s): ${setUp.map(x => f"$x%.2f").mkString(" ")}")
    if (c.traced) {
      val m = traceLayers.metrics(overheadPct(untracedQuery.toSeq, tracedQuery.toSeq))
      tracer.stop()
      tracer.write(c.work.getParent.resolve("traces").resolve(s"query_cold-${c.seed}.jsonl"))
      RunResult(ops, m, notes)
    } else RunResult(ops, endToEnd(setUp, lat, readSecs, amp, lat("query").size), notes)
  }

  /** The 8 dashboard panels ingest_mixed's readers refresh: four
   * `_query`s over the last hours to days, four recent-rows `_all`s. */
  def panels: IndexedSeq[Either[QuerySpec, ScanSpec]] = {
    def day(d: Double) = Events.BaseNs + (d * Events.DayNs).toLong
    val h = Events.HourMs
    val d = Events.DayMs
    IndexedSeq(
      Left(QuerySpec(h, Seq(("/value", "count")), None, day(28), day(30))),
      Right(ScanSpec(day(29), day(30), 100)),
      Left(QuerySpec(d, Seq(("/value", "sum"), ("/value", "max")), None, day(0), day(30))),
      Right(ScanSpec(day(28.5), day(30), 500)),
      Left(QuerySpec(h, Seq(("/k", "min"), ("/k", "max")), Some("purchase"), day(29), day(30))),
      Right(ScanSpec(day(29.5), day(30), 250)),
      Left(QuerySpec(d, Seq(("/user", "count")), Some("error"), day(23), day(30))),
      Right(ScanSpec(day(27), day(30), 500)))
  }

  /** ingest_mixed: writes beside reads on one db, from one closed-loop
   * client that repeats a fixed cycle. The db holds the first 29 days,
   * compacted; the 30th day is the feed, replayed in key order. A cycle
   * sends one `POST` and one memcached batch of [[BatchDocs]], reads
   * each back by key, then refreshes one `_query` panel and one `_all`
   * panel of the dashboard. Two viewers read the `_query` panel: the
   * first read follows the cycle's commits and misses the query cache,
   * the second hits it. `POST /{db}/_compact` follows every
   * [[CompactEvery]] commits. */
  def ingestMixed(c: RunConfig): RunResult = {
    val ops = new Ops
    val lat = new Latencies
    val ev = Events.generate(c.seed, EventCount, Days)
    val cut = ev.lowerBound(Events.BaseNs + 29 * Events.DayNs)
    val preload = Harness.docs(ev, 0, cut)
    val feed = Harness.docs(ev, cut, ev.lowerBound(Events.BaseNs + 30 * Events.DayNs))
    val board = panels
    val queryPanels = board.indices.filter(board(_).isLeft)
    val scanPanels = board.indices.filter(board(_).isRight)
    val (srv, setUp) = Harness.repeatSetUp(c.work, if (c.traced) 1 else SetUps) { root =>
      val s = Harness.load(c.spark, root, preload)
      val http = new Http(s.httpPort)
      val before = ev.select(Array.range(0, cut))
      board.foreach(r => ops.check(checkExact(before, r, http.get(pathOf(r)).body), s"warm-up ${kind(r)}"))
      Harness.warmWrites(s, preload.take(8))
      s
    }
    val acked = mutable.ArrayBuffer.empty[Doc]
    val panelReplies = mutable.ArrayBuffer.empty[(Int, Reply)]
    val http = new Http(srv.httpPort)
    val mc = new Mc(srv.mcPort, Db)
    val hits0 = srv.cache.hits
    val misses0 = srv.cache.misses
    var commits = 0
    var compactions = 0

    def written(r: Reply, docs: Seq[Doc], what: String): Unit = {
      ops.record(r.ok, s"$what: ${r.body.take(200)}")
      if (r.ok) { acked ++= docs; commits += 1 }
    }
    def readBack(d: Doc, startNs: Long, what: String): Unit = {
      val v = Harness.awaitVisible(http, d, startNs)
      ops.record(v.ok, s"read-back of ${d.key}")
      lat.add(s"visible/$what", v.latencyNs)
    }
    def panel(layers: Option[Layers], rid: Int, p: Int, what: String): Reply = {
      val r = read(layers, rid, board(p), http)
      panelReplies += ((p, r))
      lat.add(what, r.latencyNs)
      r
    }
    /** Cycle `j`; `n` counts the cycles since the panel rotation last
     * restarted. Returns the first viewer's `_query` latency in ms. */
    def cycle(layers: Option[Layers], j: Int, n: Int): Double = {
      val d = feed(j * (BatchDocs + 1))
      val docs = feed.slice(j * (BatchDocs + 1) + 1, (j + 1) * (BatchDocs + 1))
      val s1 = System.nanoTime()
      val pr = post(layers, 4 * j + 1, d, http, s1)
      lat.add("post", pr.latencyNs)
      written(pr, Seq(d), s"POST ${d.key}")
      readBack(d, s1, "post")
      val s2 = System.nanoTime()
      val br = batch(layers, 4 * j + 2, docs, mc, s2)
      lat.add("batch", br.latencyNs)
      written(br, docs, s"memcached batch $j")
      readBack(docs.last, s2, "batch")
      val qp = queryPanels(n % queryPanels.size)
      val first = panel(layers, 4 * j + 3, qp, s"query/$qp")
      panel(layers, 4 * j + 3, qp, "hit")
      val sp = scanPanels(n % scanPanels.size)
      panel(layers, 4 * j + 4, sp, s"scan/$sp")
      first.latencyNs / 1e6
    }

    val feedCycles = feed.size / (BatchDocs + 1)
    lazy val plainLayers = new Layers(srv, new Tracer(c.spark.sparkContext, record = false))
    lazy val tracer = new Tracer(c.spark.sparkContext)
    lazy val traceLayers = new Layers(srv, tracer)
    val untracedQuery = mutable.ArrayBuffer.empty[Double]
    val tracedQuery = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val deadline = t0 + c.seconds * 1000000000L
    var j = 0
    if (c.traced) {
      // the same cycle, in three phases: only the last is traced. Each
      // later phase starts with a compaction and restarts the panel
      // rotation, so the untraced and traced phases read the same
      // panels through the same number of commits, and their `_query`
      // medians compare
      var phase = 0
      var phaseFrom = 0
      while (System.nanoTime() < deadline && j < feedCycles) {
        val current = phaseOf(t0, c.seconds)
        val layers = Some(if (current == 2) traceLayers else plainLayers)
        if (current > phase) {
          phase = current
          phaseFrom = j
          layers.get.compact(4 * j)
          compactions += 1
        }
        val q = cycle(layers, j, j - phaseFrom)
        if (phase == 1) untracedQuery += q else if (phase == 2) tracedQuery += q
        j += 1
      }
    } else {
      var nextCompact = CompactEvery
      while (System.nanoTime() < deadline && j < feedCycles) {
        cycle(None, j, j)
        if (commits >= nextCompact) {
          nextCompact += CompactEvery
          val r = http.call("POST", s"/$Db/_compact")
          ops.record(r.ok, s"compaction: ${r.body.take(200)}")
          lat.add("compact", r.latencyNs)
          compactions += 1
        }
        j += 1
      }
    }
    mc.close()
    val readSecs = secs(System.nanoTime() - t0)
    val hitRatio = {
      val h = srv.cache.hits - hits0
      val n = h + srv.cache.misses - misses0
      if (n == 0) 0.0 else h.toDouble / n
    }
    for ((p, r) <- panelReplies) {
      val bad = if (!r.ok) Some(s"failed: ${r.body.take(200)}")
        else board(p).fold(Reference.checkQueryShape(_, r.body), Reference.checkScanShape(_, r.body))
      ops.check(bad, s"panel $p")
    }

    // the end state is the preload plus every acked write: each panel
    // must now equal the reference over exactly those events
    val ackedDocs = acked.toSeq
    val after = ev.select((Array.range(0, cut) ++ ackedDocs.map(_.i)).distinct.sorted)
    board.foreach(r => ops.check(checkExact(after, r, http.get(pathOf(r)).body), s"final ${kind(r)}"))
    val amp = Harness.spaceAmp(http, Harness.jsonBytes(preload) + Harness.jsonBytes(ackedDocs))
    Harness.checkDurable(srv, http, cut, ackedDocs, ops)
    srv.stop()

    val notes = Seq(
      f"window ${readSecs}%.1f s: $j cycles of one client, ${lat("query").size} + ${lat("hit").size} " +
        s"_query (first and second viewer) + ${lat("scan").size} _all panel replies, " +
        s"${lat("post").size} POSTs, ${lat("batch").size} memcached batches, $compactions compactions",
      f"query cache over HTTP during the window: hit ratio $hitRatio%.3f",
      "per-class medians (ms): " + lat.classNames.map(k => f"$k ${Stats.median(lat(k))}%.1f").mkString(", "),
      tails(lat),
      s"set-up runs (s): ${setUp.map(x => f"$x%.2f").mkString(" ")}")
    if (c.traced) {
      val m = traceLayers.metrics(overheadPct(untracedQuery.toSeq, tracedQuery.toSeq))
      tracer.stop()
      tracer.write(c.work.getParent.resolve("traces").resolve(s"ingest_mixed-${c.seed}.jsonl"))
      RunResult(ops, m, notes)
    } else RunResult(ops, endToEnd(setUp, lat, readSecs, amp, lat("query").size + lat("hit").size), notes)
  }
}
