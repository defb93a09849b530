package graft.tools

import graft.SparkSpec
import graft.sources.SeriesStore
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class ToolsSpec extends SparkSpec {
  import spark.implicits._

  test("dump/load round-trip preserves keys and documents (S12)") {
    val rootA = Files.createTempDirectory("graft-tools-a").toString
    val rootB = Files.createTempDirectory("graft-tools-b").toString
    val a = new SeriesStore(spark, rootA)
    a.create("db")
    val docs = (0 until 5).map(i =>
      ((1346189000L + i * 10) * 1000000000L + 123456789L, s"""{"i": $i}"""))
    a.storeBatch("db", docs.toDF("ts", "doc"))

    val dumpFile = Files.createTempFile("graft-dump", ".jsonl").toString
    Dump.main(Array(rootA, "db", dumpFile))
    val lines = Files.readAllLines(java.nio.file.Paths.get(dumpFile))
    assert(lines.size == 5)
    assert(lines.get(0).startsWith("""{"2012-08-28T21:23:20.123456789Z": """))

    // full load
    Load.main(Array(rootB, "db2", dumpFile))
    val b = new SeriesStore(spark, rootB)
    assert(b.info("db2").docCount == 5)
    assert(b.get("db2", "2012-08-28T21:23:40.123456789Z").contains("""{"i":2}"""))

    // -min filter skips older keys
    Load.main(Array(rootB, "db3", dumpFile, "2012-08-28T21:23:40Z"))
    assert(b.info("db3").docCount == 3)
  }

  test("compact + vacuum tools reclaim replaced files past the grace") {
    val root = Files.createTempDirectory("graft-tools-v").toString
    val s = new SeriesStore(spark, root)
    s.create("db")
    s.storeBatch("db", Seq((1346189000L * 1000000000L, """{"v": 1}"""),
      (1346189010L * 1000000000L, """{"v": 2}""")).toDF("ts", "doc"))
    Compact.main(Array(root, "db", "-1000")) // negative grace: sweep now
    def dataFiles: Set[String] = {
      val dir = java.nio.file.Paths.get(root, "db" + SeriesStore.dbExt)
      val st = Files.list(dir)
      try st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSet
      finally st.close()
    }
    val compacted = dataFiles
    assert(compacted.size == 1) // exactly the compacted file survives
    assert(s.info("db").docCount == 2)
    Vacuum.main(Array(root, "db", "-1000")) // idempotent: nothing left to sweep
    assert(dataFiles == compacted)
    assert(s.info("db").docCount == 2)
  }

  test("gzipped dump round-trips through load (reference dumps always gzip)") {
    val root = Files.createTempDirectory("graft-tools-gz").toString
    val a = new SeriesStore(spark, root)
    a.create("db")
    a.storeBatch("db", Seq((1346189000L * 1000000000L, """{"z": 1}"""))
      .toDF("ts", "doc"))
    val gzFile = Files.createTempFile("graft-dump", ".jsonl.gz").toString
    Dump.main(Array(root, "db", gzFile))
    // really gzip on disk
    val head = Files.readAllBytes(java.nio.file.Paths.get(gzFile)).take(2)
    assert((head(0) & 0xff) == 0x1f && (head(1) & 0xff) == 0x8b)
    Load.main(Array(root, "db2", gzFile))
    assert(a.get("db2", "2012-08-28T21:23:20Z").contains("""{"z":1}"""))
  }

  test("dump filename %-templating matches the reference's verbs") {
    val t = java.time.LocalDateTime.of(2012, 8, 2, 9, 5, 7)
    // %Y/%y year, %m/%d unpadded, %H/%M/%S two-digit — format.go:18-52
    assert(Dump.formatName("%n-%Y%m%d-%H%M%S.json", "mydb", t) ==
      "mydb-201282-090507.json")
    assert(Dump.formatName("a%%b", "db", t) == "a%b")
    assert(Dump.formatName("x%qy%", "db", t) == "xy") // unknown/lone % vanish
    assert(Dump.formatName("plain.json", "db", t) == "plain.json")
  }

  test("sample tool poll-copies an HTTP source into a database (S12)") {
    import com.sun.net.httpserver.HttpServer
    import java.net.InetSocketAddress
    // a tiny source endpoint serving one JSON snapshot
    val src = HttpServer.create(new InetSocketAddress(0), 0)
    src.createContext("/stats", ex => {
      val body = """{"temp": 21.5}""".getBytes("UTF-8")
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    src.start()
    val store = new SeriesStore(spark,
      Files.createTempDirectory("graft-sample").toString)
    store.create("samples")
    val api = new graft.http.SeriesHttp(store)
    val port = api.start()
    try {
      val tNs = 1346189000123456789L
      val r = Sample.copyOnce(
        s"http://127.0.0.1:${src.getAddress.getPort}/stats",
        s"http://127.0.0.1:$port/samples", tNs)
      assert(r.isRight, r)
      assert(store.get("samples", "2012-08-28T21:23:20.123456789Z")
        .contains("""{"temp": 21.5}"""))
      // a failing source is reported, not thrown (poll loop continues)
      val bad = Sample.copyOnce(
        s"http://127.0.0.1:${src.getAddress.getPort}/missing",
        s"http://127.0.0.1:$port/samples", tNs)
      assert(bad.isLeft)
    } finally { api.stop(); src.stop(0) }
  }
}
