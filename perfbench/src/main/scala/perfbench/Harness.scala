package perfbench

import graft.http.{SeriesHttp, SeriesMc}
import graft.operators.SeriesEngine
import graft.sources.{QueryCache, SeriesStore}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** The system under test: a store with a query cache, served over HTTP
 * and memcached on loopback ports, in this process. */
final class Server(val spark: SparkSession, val root: Path) {
  val store = new SeriesStore(spark, root.toString)
  val cache = new QueryCache(store)
  private val http = new SeriesHttp(store, cache = Some(cache))
  private val mc = new SeriesMc(store, cache = Some(cache))
  val httpPort: Int = http.start()
  val mcPort: Int = mc.start()

  def stop(): Unit = { http.stop(); mc.stop() }
}

/** An event as the workload writes it: its index in the generated
 * events, key time, canonical key and document. */
final case class Doc(i: Int, ns: Long, key: String, json: String)

object Harness {
  val Db = "events"

  def docs(ev: Events, from: Int, until: Int): IndexedSeq[Doc] =
    (from until until).map(i => Doc(i, ev.ts(i), Reference.key(ev.ts(i)), ev.doc(i)))

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    finally all.close()
  }

  /** Loads `docs` into a fresh store under `root`, compacts it (so the
   * snapshot is clean) and starts the servers. */
  def load(spark: SparkSession, root: Path, docs: Seq[Doc]): Server = {
    val srv = new Server(spark, root)
    import spark.implicits._
    srv.store.create(Db)
    val df = spark.sparkContext
      .parallelize(docs.map(d => (d.ns, d.json)), spark.sparkContext.defaultParallelism)
      .toDF("ts", "doc")
    srv.store.storeBatch(Db, df)
    srv.store.compact(Db)
    srv
  }

  /** Warms the write paths the run will time — `POST`, a memcached
   * batch and a read-back — on a db of their own, so the measured db
   * keeps exactly the documents the checks expect. */
  def warmWrites(srv: Server, docs: Seq[Doc]): Unit = {
    val http = new Http(srv.httpPort)
    require(http.call("PUT", "/warmup").ok, "cannot create the warm-up db")
    val mc = new Mc(srv.mcPort, "warmup")
    try docs.grouped(4).foreach { g =>
      require(http.call("POST", s"/warmup?ts=${g.head.key}", g.head.json).ok, "warm-up POST failed")
      require(mc.batch(g.tail.map(d => (d.key, d.json))).ok, "warm-up batch failed")
      require(http.get(s"/warmup/${g.head.key}").ok, "warm-up read-back failed")
    } finally mc.close()
  }

  /** Runs `setUp` `reps` times, each on a fresh store root, and keeps
   * the last; set-up time is the median. */
  def repeatSetUp(work: Path, reps: Int)(setUp: Path => Server): (Server, Seq[Double]) = {
    var srv: Server = null
    val secs = (1 to reps).map { i =>
      if (srv != null) { srv.stop(); deleteTree(srv.root) }
      val t0 = System.nanoTime()
      srv = setUp(work.resolve(s"store-$i"))
      (System.nanoTime() - t0) / 1e9
    }
    (srv, secs)
  }

  /** Polls `GET /{db}/{key}` until it returns `doc`; the latency runs
   * from `startNs`. Gives up after 10 s. */
  def awaitVisible(http: Http, d: Doc, startNs: Long): Reply = {
    val deadline = System.nanoTime() + 10000000000L
    def found(r: Reply) = r.ok && Reference.parse(r.body) == Reference.parse(d.json)
    var r = http.get(s"/$Db/${d.key}")
    while (!found(r) && System.nanoTime() < deadline) {
      Thread.sleep(20)
      r = http.get(s"/$Db/${d.key}")
    }
    Reply(found(r), System.nanoTime() - startNs, r.body, r.bytes)
  }

  /** End-of-run durability and accounting checks: every acked write is
   * readable with its document, and `doc_count` is the preload plus
   * the acked writes — through the serving store, and again through a
   * fresh store opened on the same root, as after a restart. */
  def checkDurable(srv: Server, http: Http, preload: Int, acked: Seq[Doc], ops: Ops): Unit = {
    val info = Reference.parse(http.get(s"/$Db").body)
    val count = if (info == null || info.get("doc_count") == null) -1L else info.get("doc_count").asLong()
    val want = preload + acked.map(_.ns).distinct.size
    ops.check(if (count == want) None else Some(s"doc_count $count, want $want"), "doc_count over HTTP")
    for ((store, name) <- Seq((srv.store, "serving store"),
        (new SeriesStore(srv.spark, srv.root.toString), "reopened store"))) {
      val byNs = acked.map(d => d.ns -> d.json).toMap
      val found = if (byNs.isEmpty) Map.empty[Long, String] else store.frame(Db)
        .filter(col("ts").isin(byNs.keys.toSeq: _*)).select("ts", "doc").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val missing = byNs.count { case (ns, json) =>
        !found.get(ns).exists(f => Reference.parse(f) == Reference.parse(json)) }
      ops.check(if (missing == 0) None else Some(s"$missing of ${byNs.size} acked writes unreadable"),
        s"acked writes in the $name")
      val n = store.info(Db).docCount
      ops.check(if (n == want) None else Some(s"doc_count $n, want $want"), s"doc_count in the $name")
    }
  }

  /** `space_used` of the db ÷ the user JSON bytes it holds. */
  def spaceAmp(http: Http, userBytes: Long): Double = {
    val info = Reference.parse(http.get(s"/$Db").body)
    info.get("space_used").asLong().toDouble / userBytes
  }

  def jsonBytes(docs: Seq[Doc]): Long = docs.map(_.json.getBytes("UTF-8").length.toLong).sum
}

/** Per-layer samples from the traced run: each call into a layer runs
 * inside a span, and the figures are read from the spans and from the
 * Spark jobs the listener attributed to them. A figure whose call the
 * workload never makes reads 0. */
final class Layers(srv: Server, tr: Tracer) {
  import Harness.Db
  private val samples = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val spansOf = mutable.HashMap.empty[String, mutable.ArrayBuffer[Span]]
  private var hits = 0L
  private var misses = 0L
  private var rowsOut = 0L

  private def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  private def keep(s: Span): Unit = spansOf.getOrElseUpdate(s.name, mutable.ArrayBuffer.empty) += s
  private def ms(ns: Long): Double = ns / 1e6

  private def drain(it: Iterator[String]): Unit = it.foreach(_ => ())

  /** One `_query` over HTTP, then each layer called directly on the
   * same request: the store's chunked query, a cache hit, and the
   * snapshot → build → plan → execute steps it consists of. */
  def query(rid: Int, q: QuerySpec, http: Http): Reply = tr.span("request", rid) {
    val h0 = srv.cache.hits
    val m0 = srv.cache.misses
    val (reply, hs) = tr.span("http.query", rid)(http.get(q.path(Db)))
    hits += srv.cache.hits - h0
    misses += srv.cache.misses - m0
    val missed = srv.cache.misses > m0
    add("http.response_bytes", reply.bytes.toDouble)
    val sq = q.toQuery
    var firstNs = 0L
    val (_, qs) = tr.span("sources.query", rid) {
      val t0 = System.nanoTime()
      val it = srv.store.queryJsonChunks(Db, sq)
      it.next() // the opening brace, emitted before any row
      if (it.hasNext) it.next()
      firstNs = System.nanoTime() - t0
      drain(it)
    }
    val h1 = srv.cache.hits
    val (_, cs) = tr.span("sources.cache_hit", rid)(
      drain(srv.cache.queryJsonChunks(Db, sq, SeriesEngine.PostProcess())))
    val (frame, sn) = tr.span("sources.snapshot", rid, tagJobs = true)(
      srv.store.frame(Db, Some(q.fromNs), Some(q.toNs)))
    val (df, bd) = tr.span("operators.build", rid, tagJobs = true)(
      SeriesEngine.query(frame, sq, jsonEncoded = true))
    val (_, pl) = tr.span("spark.plan", rid, tagJobs = true)(df.queryExecution.executedPlan)
    val (rows, ex) = tr.span("spark.exec", rid, tagJobs = true)(df.collect().length)
    // a cache hit never reaches the store, so only a miss has an
    // HTTP share to isolate
    if (missed) add("http.query_self_ms", ms(hs.ns - qs.ns))
    add("sources.query_ms", ms(qs.ns))
    add("sources.first_chunk_ms", ms(firstNs))
    if (srv.cache.hits > h1) add("sources.cache_hit_ms", ms(cs.ns))
    add("sources.snapshot_ms", ms(sn.ns))
    add("sources.files_read", frame.inputFiles.length.toDouble)
    add("sources.files_live", srv.store.frame(Db).inputFiles.length.toDouble)
    add("operators.build_ms", ms(bd.ns))
    add("spark.plan_ms", ms(pl.ns))
    add("spark.exec_ms", ms(ex.ns))
    keep(bd); keep(ex)
    rowsOut += rows
    reply
  }._1

  /** One `_all` over HTTP, then the store's scan drained directly. */
  def scan(rid: Int, s: ScanSpec, http: Http): Reply = tr.span("request", rid) {
    val (reply, hs) = tr.span("http.scan", rid)(http.get(s.path(Db)))
    add("http.response_bytes", reply.bytes.toDouble)
    val (_, ss) = tr.span("sources.scan", rid) {
      val it = srv.store.all(Db, Some(Reference.key(s.fromNs)), Some(Reference.key(s.toNs)), s.limit)
        .select("key", "doc").toLocalIterator()
      while (it.hasNext) it.next()
    }
    add("http.scan_self_ms", ms(hs.ns - ss.ns))
    reply
  }._1

  /** One `POST`, then the same document stored directly: an overwrite
   * with identical content, so the db's contents do not change. */
  def post(rid: Int, d: Doc, http: Http, startNs: Long): Reply = tr.span("request", rid) {
    val (reply, hs) = tr.span("http.post", rid)(
      http.call("POST", s"/$Db?ts=${d.key}", d.json, startNs))
    val (_, as) = tr.span("sources.append", rid, tagJobs = true)(
      srv.store.store(Db, Some(d.key), d.json))
    add("http.post_self_ms", ms(hs.ns - as.ns))
    add("sources.append_ms", ms(as.ns))
    keep(as)
    reply
  }._1

  /** One memcached batch, then the same batch stored directly. */
  def batch(rid: Int, docs: Seq[Doc], mc: Mc, startNs: Long): Reply = tr.span("request", rid) {
    val (reply, fs) = tr.span("http.mc_flush", rid)(mc.batch(docs.map(d => (d.key, d.json)), startNs))
    val spark = srv.spark
    import spark.implicits._
    val df = docs.map(d => (d.ns, d.json)).toDF("ts", "doc")
    val (_, bs) = tr.span("sources.batch_append", rid, tagJobs = true)(srv.store.storeBatch(Db, df))
    add("http.mc_flush_ms", ms(fs.ns))
    add("sources.batch_append_ms", ms(bs.ns))
    reply
  }._1

  /** Query-cache hits among the HTTP `_query`s sent so far. */
  def httpCacheHits: Long = hits

  def compact(rid: Int): Unit = {
    val (_, cs) = tr.span("sources.compact", rid, tagJobs = true)(srv.store.compact(Db))
    add("sources.compact_ms", ms(cs.ns))
  }

  /** The per-layer metrics. Times are medians over calls; counts and
   * bytes are means per call. */
  def metrics(overheadPct: Double): Seq[Metric] = {
    tr.settle()
    def med(n: String) = samples.get(n).filter(_.nonEmpty).fold(0.0)(xs => Stats.median(xs.toSeq))
    def avg(n: String) = samples.get(n).fold(0.0)(xs => Stats.mean(xs.toSeq))
    def cnt(n: String) = samples.get(n).fold(0)(_.size)
    def spans(n: String): Seq[Span] = spansOf.getOrElse(n, mutable.ArrayBuffer.empty[Span]).toSeq
    val execs = spans("spark.exec")
    val stages = execs.map(tr.stagesOf)
    def perExec(f: Seq[StageFigures] => Double) = Stats.mean(stages.map(f))
    val allStages = stages.flatten
    val inputRecords = allStages.map(_.inputRecords).sum
    val skew = (1.0 +: allStages.filter(_.taskMs.size >= 2).map { s =>
      val med = Stats.median(s.taskMs.map(_.toDouble).toSeq)
      s.taskMs.max / math.max(med, 1.0)
    }).max
    def m(name: String, v: Double, unit: String, n: Int) = Metric(name, v, unit, n)
    Seq(
      m("http.query_self_ms", med("http.query_self_ms"), "ms", cnt("http.query_self_ms")),
      m("http.scan_self_ms", med("http.scan_self_ms"), "ms", cnt("http.scan_self_ms")),
      m("http.post_self_ms", med("http.post_self_ms"), "ms", cnt("http.post_self_ms")),
      m("http.mc_flush_ms", med("http.mc_flush_ms"), "ms", cnt("http.mc_flush_ms")),
      m("http.response_bytes", avg("http.response_bytes"), "bytes", cnt("http.response_bytes")),
      m("sources.snapshot_ms", med("sources.snapshot_ms"), "ms", cnt("sources.snapshot_ms")),
      m("sources.files_live", avg("sources.files_live"), "count", cnt("sources.files_live")),
      m("sources.files_read", avg("sources.files_read"), "count", cnt("sources.files_read")),
      m("sources.rows_read_per_row_out", if (rowsOut == 0) 0.0 else inputRecords.toDouble / rowsOut,
        "ratio", execs.size),
      m("sources.first_chunk_ms", med("sources.first_chunk_ms"), "ms", cnt("sources.first_chunk_ms")),
      m("sources.query_ms", med("sources.query_ms"), "ms", cnt("sources.query_ms")),
      m("sources.cache_hit_ratio", if (hits + misses == 0) 0.0 else hits.toDouble / (hits + misses),
        "ratio", (hits + misses).toInt),
      m("sources.cache_hit_ms", med("sources.cache_hit_ms"), "ms", cnt("sources.cache_hit_ms")),
      m("sources.append_ms", med("sources.append_ms"), "ms", cnt("sources.append_ms")),
      m("sources.append_jobs", Stats.mean(spans("sources.append").map(tr.jobs(_).toDouble)),
        "count", spans("sources.append").size),
      m("sources.batch_append_ms", med("sources.batch_append_ms"), "ms", cnt("sources.batch_append_ms")),
      m("sources.compact_ms", med("sources.compact_ms"), "ms", cnt("sources.compact_ms")),
      m("sources.compacts", cnt("sources.compact_ms").toDouble, "count", cnt("sources.compact_ms")),
      m("operators.build_ms", med("operators.build_ms"), "ms", cnt("operators.build_ms")),
      m("operators.build_jobs", Stats.mean(spans("operators.build").map(tr.jobs(_).toDouble)),
        "count", spans("operators.build").size),
      m("spark.plan_ms", med("spark.plan_ms"), "ms", cnt("spark.plan_ms")),
      m("spark.exec_ms", med("spark.exec_ms"), "ms", cnt("spark.exec_ms")),
      m("spark.jobs", Stats.mean(execs.map(tr.jobs(_).toDouble)), "count", execs.size),
      m("spark.stages", perExec(_.size.toDouble), "count", execs.size),
      m("spark.tasks", perExec(_.map(_.tasks).sum.toDouble), "count", execs.size),
      m("spark.tasks_per_stage",
        if (allStages.isEmpty) 0.0 else allStages.map(_.tasks).sum.toDouble / allStages.size,
        "count", allStages.size),
      m("spark.task_ms", perExec(_.map(_.taskMs.sum).sum.toDouble), "ms", execs.size),
      m("spark.stage_wait_ms", perExec(_.map(s => s.wallMs - (0L +: s.taskMs.toSeq).max).sum.toDouble),
        "ms", execs.size),
      m("spark.gc_ms", perExec(_.map(_.gcMs).sum.toDouble), "ms", execs.size),
      m("spark.input_records", perExec(_.map(_.inputRecords).sum.toDouble), "count", execs.size),
      m("spark.shuffle_read_bytes", perExec(_.map(_.shuffleRead).sum.toDouble), "bytes", execs.size),
      m("spark.shuffle_write_bytes", perExec(_.map(_.shuffleWrite).sum.toDouble), "bytes", execs.size),
      m("spark.spill_bytes", perExec(_.map(_.spill).sum.toDouble), "bytes", execs.size),
      m("spark.task_skew", skew, "ratio", allStages.size),
      m("trace.overhead_pct", overheadPct, "%", execs.size))
  }
}
