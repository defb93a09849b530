package graft.tools

import graft.functions.JsonPointersExpr
import graft.sources.SeriesStore

import java.nio.file.{Files, Paths}

/*
 * CLI equivalents of the reference's `tools/` directory (SURVEY §2.1
 * S12): dump = `tools/dump` (JSON-lines per database), load =
 * `tools/load` (replay a dump, optional `-min` ts filter), compact =
 * `tools/compact`, info = `tools/serieslyinfo`. All are thin wrappers
 * over the store API the batch gates verify, on a LocalSession —
 * run via `runMain graft.tools.<Tool> <store-root> <db> [...]`.
 */

/** `Dump <root> <db> [outFile]` — stream the database as JSON lines
 * (`{"<canonical key>": <doc>}` per line, ts-ascending). The outFile
 * is a `%`-template (see [[Dump.formatName]]). */
object Dump {

  /** Output-filename templating (tools/dump/format.go:18-52):
   * `%n` db name, `%Y`/`%y` year, `%m` month, `%d` day (both
   * UNPADDED, as in the reference), `%H`/`%M`/`%S` two-digit
   * hour/minute/second, `%%` a literal `%`. Unknown verbs emit
   * nothing (the reference's switch has no default case); a trailing
   * lone `%` is dropped the same way. */
  def formatName(template: String, dbname: String,
      t: java.time.LocalDateTime): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < template.length) {
      val c = template.charAt(i)
      if (c != '%' || i == template.length - 1) { if (c != '%') sb.append(c) }
      else {
        i += 1
        template.charAt(i) match {
          case '%' => sb.append('%')
          case 'n' => sb.append(dbname)
          case 'Y' | 'y' => sb.append(t.getYear)
          case 'm' => sb.append(t.getMonthValue)
          case 'd' => sb.append(t.getDayOfMonth)
          case 'H' => sb.append(f"${t.getHour}%02d")
          case 'M' => sb.append(f"${t.getMinute}%02d")
          case 'S' => sb.append(f"${t.getSecond}%02d")
          case _ => ()
        }
      }
      i += 1
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val store = new SeriesStore(LocalSession(), args(0))
    val lines = store.dump(args(1))
    if (args.length > 2) {
      val out = formatName(args(2), args(1), java.time.LocalDateTime.now())
      // the reference's dump tool always gzips (dump.go:46-63); here a
      // .gz suffix opts in, so plain-text dumps stay possible
      val raw = Files.newOutputStream(Paths.get(out))
      val os = if (out.endsWith(".gz"))
        new java.util.zip.GZIPOutputStream(raw) { `def`.setLevel(9) }
      else raw
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(os, java.nio.charset.StandardCharsets.UTF_8))
      try lines.foreach { l => w.write(l); w.newLine() } finally w.close()
    } else lines.foreach(println)
  }
}

/** `Sample <fromurl> <tourl> [freqMs]` — the poll-copy sampler
 * (tools/sample/sample.go:56-104): GET `fromurl`, POST the body
 * unchanged to `tourl?ts=<poll-time ns>` (a seriesly/graft
 * `POST /{db}` endpoint), repeating every `freqMs` (0 = one-shot;
 * the reference's `-freq` default is 5000). Pure HTTP — no Spark
 * session; errors are logged and polling continues, as in the
 * reference. */
object Sample {
  private lazy val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(5)).build()

  /** One copy: returns Left(message) on any HTTP failure. The dest
   * query string is REPLACED by `ts=<tNanos>` (sample.go:62-67). */
  def copyOnce(fromUrl: String, toUrl: String, tNanos: Long): Either[String, Unit] = {
    import java.net.http.{HttpRequest, HttpResponse}
    val src = client.send(
      HttpRequest.newBuilder(java.net.URI.create(fromUrl)).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    if (src.statusCode() != 200)
      Left(s"HTTP error getting src data from $fromUrl: ${src.statusCode()}")
    else {
      val b = java.net.URI.create(toUrl)
      val dest = new java.net.URI(b.getScheme, b.getAuthority, b.getPath,
        s"ts=$tNanos", b.getFragment)
      val ct = src.headers().firstValue("Content-Type")
        .orElse("application/octet-stream")
      val dres = client.send(
        HttpRequest.newBuilder(dest).header("Content-Type", ct)
          .POST(HttpRequest.BodyPublishers.ofByteArray(src.body())).build(),
        HttpResponse.BodyHandlers.ofString())
      if (dres.statusCode() != 201)
        Left(s"HTTP error posting result to $toUrl: ${dres.statusCode()} " +
          dres.body().take(512))
      else Right(())
    }
  }

  def main(args: Array[String]): Unit = {
    val (from, to) = (args(0), args(1))
    val freqMs = if (args.length > 2) args(2).toLong else 5000L
    def poll(): Unit =
      copyOnce(from, to, System.currentTimeMillis() * 1000000L)
        .left.foreach(e => System.err.println(s"Error copying data: $e"))
    poll()
    while (freqMs > 0) { Thread.sleep(freqMs); poll() }
  }
}

/** `Load <root> <db> <dumpFile> [minTs]` — replay a dump; lines with
 * keys below `minTs` are skipped (the reference's `-min` flag). Docs
 * land in batched writes (the reference replays one HTTP PUT per
 * line; a batch append is the same visible end state). */
object Load {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val store = new SeriesStore(spark, args(0))
    store.create(args(1))
    val minNs = if (args.length > 3)
      graft.timelib.TimeLib.parseTime(args(3)).getOrElse(Long.MinValue)
    else Long.MinValue
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    // auto-detect gzip dumps by magic bytes (reference dumps are
    // always gzipped; ours opt in via .gz)
    val path = Paths.get(args(2))
    val head = {
      val in = Files.newInputStream(path)
      try { val b = new Array[Byte](2); in.read(b); b } finally in.close()
    }
    val gz = (head(0) & 0xff) == 0x1f && (head(1) & 0xff) == 0x8b
    val reader = new java.io.BufferedReader(new java.io.InputStreamReader(
      if (gz) new java.util.zip.GZIPInputStream(Files.newInputStream(path))
      else Files.newInputStream(path),
      java.nio.charset.StandardCharsets.UTF_8))
    var n = 0L
    try {
      // bounded driver memory: batches of 100k docs, not the whole file
      reader.lines().iterator().asScala
        .filter(_.nonEmpty)
        .flatMap { line =>
          val node = JsonPointersExpr.mapper.readTree(line)
          val names = node.fieldNames()
          if (!names.hasNext) None
          else {
            val key = names.next()
            val ns = graft.timelib.TimeLib.parseKey(key)
            if (ns >= minNs && ns >= 0) Some((ns, node.get(key).toString)) else None
          }
        }
        .grouped(100000)
        .foreach { batch =>
          store.storeBatch(args(1), batch.toDF("ts", "doc"))
          n += batch.size
        }
    } finally reader.close()
    println(s"loaded $n documents into ${args(1)}")
  }
}

/** `Compact <root> <db> [graceMs]` — physically drop overwritten
 * versions, merge small files, and vacuum files no reader within the
 * grace window can still reference. */
object Compact {
  def main(args: Array[String]): Unit = {
    val store = new SeriesStore(LocalSession(), args(0))
    store.compact(args(1))
    val removed = vacuumWithGrace(store, args)
    println(s"compacted ${args(1)}; vacuumed $removed stale files")
  }
}

/** `CompactSmall <root> <db> [smallBytes] [graceMs]` — incremental
 * bin-packing compaction: merge only the live files below
 * `smallBytes` (default 32 MiB), keep the rest untouched
 * ([[SeriesStore.compactSmall]] — the steady-state OPTIMIZE whose
 * cost tracks small-file volume, not table size). */
object CompactSmall {
  def main(args: Array[String]): Unit = {
    val store = new SeriesStore(LocalSession(), args(0))
    val small = args.lift(2).map(_.toLong).getOrElse(32L << 20)
    val (merged, kept) = store.compactSmall(args(1), small)
    val removed = args.lift(3).map(_.toLong)
      .fold(store.vacuum(args(1)))(store.vacuum(args(1), _))
    println(s"merged $merged small files into right-sized ones, " +
      s"kept $kept; vacuumed $removed stale files")
  }
}

/** Shared `<root> <db> [graceMs]` vacuum invocation. */
private object vacuumWithGrace {
  def apply(store: SeriesStore, args: Array[String]): Int =
    args.lift(2).map(_.toLong)
      .fold(store.vacuum(args(1)))(store.vacuum(args(1), _))
}

/** `Vacuum <root> <db> [graceMs]` — delete data files no snapshot
 * references and stale staging dirs, sparing anything younger than
 * the grace window (in-flight readers may still hold older
 * snapshots). */
object Vacuum {
  def main(args: Array[String]): Unit = {
    val store = new SeriesStore(LocalSession(), args(0))
    println(s"vacuumed ${vacuumWithGrace(store, args)} stale files from ${args(1)}")
  }
}

/** `Info <root> [db...]` — print `{doc_count, space_used, last_seq}`
 * per database (all databases when none named). */
object Info {
  def main(args: Array[String]): Unit = {
    val store = new SeriesStore(LocalSession(), args(0))
    val dbs = if (args.length > 1) args.drop(1).toSeq else store.list()
    dbs.foreach { db =>
      val i = store.info(db)
      println(s"""$db: {"doc_count":${i.docCount},"space_used":${i.spaceUsed},"last_seq":${i.lastSeq}}""")
    }
  }
}
