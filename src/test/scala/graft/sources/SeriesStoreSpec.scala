package graft.sources

import graft.SparkSpec
import graft.operators.SeriesEngine.SeriesQuery
import java.nio.file.Files

class SeriesStoreSpec extends SparkSpec {
  import spark.implicits._

  def newStore(): SeriesStore =
    new SeriesStore(spark, Files.createTempDirectory("graft-store").toString)

  test("db lifecycle: create, list, info, drop (S10)") {
    val s = newStore()
    s.create("db1"); s.create("db2")
    assert(s.list() == Seq("db1", "db2"))
    assert(s.info("db1").docCount == 0)
    s.drop("db1")
    assert(s.list() == Seq("db2"))
  }

  test("store validates JSON and assigns canonical keys (S1, S2)") {
    val s = newStore()
    s.create("db")
    val k = s.store("db", Some("2012-08-28T21:24:35.37465188Z"), """{"v": 1}""")
    assert(k == "2012-08-28T21:24:35.37465188Z")
    assertThrows[IllegalArgumentException](s.store("db", None, "not json"))
    assert(s.get("db", k).contains("""{"v": 1}"""))
    assert(s.get("db", "2000-01-01T00:00:00Z").isEmpty)
    // lenient ts formats work as keys too
    val k2 = s.store("db", Some("1346189075"), """{"v": 2}""")
    assert(k2 == "2012-08-28T21:24:35Z")
  }

  test("same-key overwrite: latest write wins (couchstore Set)") {
    val s = newStore()
    s.create("db")
    s.store("db", Some("2012-08-28T21:24:35Z"), """{"v": 1}""")
    s.store("db", Some("2012-08-28T21:24:35Z"), """{"v": 2}""")
    assert(s.get("db", "2012-08-28T21:24:35Z").contains("""{"v": 2}"""))
    assert(s.info("db").docCount == 1)
    s.compact("db")
    assert(s.get("db", "2012-08-28T21:24:35Z").contains("""{"v": 2}"""))
  }

  test("_all range scan with limit, _dump lines (S6, S7)") {
    val s = newStore()
    s.create("db")
    val docs = (0 until 10).map(i =>
      ((1346189000L + i * 10) * 1000000000L, s"""{"i": $i}"""))
    s.storeBatch("db", docs.toDF("ts", "doc"))
    val all = s.all("db", from = Some("1346189020"), to = Some("1346189080"))
    assert(all.select("doc").as[String].collect().toSeq ==
      (2 until 8).map(i => s"""{"i": $i}"""))
    assert(s.all("db", limit = 3).count() == 3)
    val lines = s.dump("db", limit = 2).toSeq
    assert(lines == Seq(
      """{"2012-08-28T21:23:20Z": {"i": 0}}""",
      """{"2012-08-28T21:23:30Z": {"i": 1}}"""))
  }

  test("bulk range delete + compact (S8, S9)") {
    val s = newStore()
    s.create("db")
    val docs = (0 until 10).map(i =>
      ((1346189000L + i * 10) * 1000000000L, s"""{"i": $i}"""))
    s.storeBatch("db", docs.toDF("ts", "doc"))
    val deleted = s.deleteRange("db", Some("1346189020"), Some("1346189080"))
    assert(deleted == 6)
    assert(s.info("db").docCount == 4)
    assert(s.all("db").select("doc").as[String].collect().toSeq ==
      Seq("""{"i": 0}""", """{"i": 1}""", """{"i": 8}""", """{"i": 9}"""))
  }

  test("overwrite ordering survives a process restart (seq from persisted max)") {
    val root = Files.createTempDirectory("graft-store").toString
    val s1 = new SeriesStore(spark, root)
    s1.create("db")
    s1.store("db", Some("2012-08-28T21:24:35Z"), """{"v": "old"}""")
    // a fresh instance = a restarted process; its writes must still
    // beat the earlier session's docs in last-write-wins dedup
    val s2 = new SeriesStore(spark, root)
    s2.store("db", Some("2012-08-28T21:24:35Z"), """{"v": "new"}""")
    assert(s2.get("db", "2012-08-28T21:24:35Z").contains("""{"v": "new"}"""))
    val s3 = new SeriesStore(spark, root)
    s3.storeBatch("db",
      Seq((1346189075000000000L, """{"v": "newer"}""")).toDF("ts", "doc"))
    assert(s3.get("db", "2012-08-28T21:24:35Z").contains("""{"v": "newer"}"""))
  }

  test("queryJson encodes by value kind: scalars starting with '{'/'[' stay quoted") {
    val s = newStore()
    s.create("db")
    s.store("db", Some("2012-08-28T21:24:00Z"), """{"v": "[note"}""")
    s.store("db", Some("2012-08-28T21:24:10Z"), """{"v": "tab\tchar"}""")
    s.store("db", Some("2012-08-28T21:24:20Z"), """{"v": {"a": 1}}""")
    val json = s.queryJson("db", SeriesQuery(60000, Seq("/v"), Seq("identity")))
    assert(json == """{"1346189040000":[["[note","tab\tchar",{"a":1}]]}""")
    val any = s.queryJson("db", SeriesQuery(60000, Seq("/v"), Seq("any")))
    assert(any == """{"1346189040000":["[note"]}""")
  }

  test("compacted stores read without the dedup shuffle; appends re-dirty") {
    val s = newStore()
    s.create("db")
    s.store("db", Some("2012-08-28T21:24:35Z"), """{"v": 1}""")
    s.store("db", Some("2012-08-28T21:24:35Z"), """{"v": 2}""")
    def hasAgg = s.frame("db").queryExecution.optimizedPlan.toString
      .contains("Aggregate")
    assert(hasAgg) // dirty: last-write-wins dedup present
    s.compact("db")
    assert(!hasAgg) // clean: plain scan
    assert(s.get("db", "2012-08-28T21:24:35Z").contains("""{"v": 2}"""))
    s.store("db", Some("2012-08-28T21:24:36Z"), """{"v": 3}""")
    assert(hasAgg) // append re-dirties
    assert(s.info("db").docCount == 2)
  }

  test("query + JSON emit over the store (minimum E2E slice, SURVEY §7.2)") {
    val s = newStore()
    s.create("db")
    s.store("db", Some("2012-08-28T21:24:00Z"), """{"v": 10}""")
    s.store("db", Some("2012-08-28T21:24:20Z"), """{"v": 20, "sub": {"x": "a"}}""")
    s.store("db", Some("2012-08-28T21:24:40Z"), """{"v": 25}""")
    val json = s.queryJson("db", SeriesQuery(60000, Seq("/v"), Seq("avg"),
      filters = Seq("/sub/x" -> "a")))
    assert(json == """{"1346189040000":[20]}""")
  }

  test("concurrent reads, writes, and compacts never abort (recover/rewrite race)") {
    // regression for the frame()-recover vs rewrite() two-rename race:
    // an unlocked read landing mid-swap could roll .old back and fail
    // the in-flight compact. Hammer all three paths concurrently.
    val s = newStore()
    s.create("db")
    (0 until 20).foreach(i =>
      s.store("db", Some(s"2012-08-28T21:24:${10 + i}Z"), s"""{"v": $i}"""))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    def spawn(f: => Unit): Thread = {
      val t = new Thread(() =>
        while (!stop.get()) try f catch { case e: Throwable => errs.add(e) })
      t.start(); t
    }
    val threads = Seq(
      spawn { s.info("db"); () },
      spawn { s.get("db", "2012-08-28T21:24:15Z"); () },
      spawn { s.compact("db") },
      spawn { s.compactSmall("db", smallBytes = 1L << 20); () },
      spawn { s.store("db", None, """{"v": 99}"""); () })
    Thread.sleep(4000)
    stop.set(true)
    // a compact mid-flight can outlive a short join under suite-wide
    // contention on the shared session; wait it out properly
    threads.foreach(_.join(600000))
    assert(threads.forall(!_.isAlive), "hammer threads still running")
    assert(errs.isEmpty, s"concurrent ops failed: ${errs.peek()}")
    assert(s.info("db").docCount >= 20)
  }

  test("two independent store instances interleave writers safely (commit log)") {
    // cross-SESSION safety: two SeriesStore instances share no in-JVM
    // locks, so every interleaving below is serialized only by the
    // commit log's atomic create + optimistic retry — the same
    // protocol two separate JVMs on one filesystem would use
    val root = java.nio.file.Files.createTempDirectory("graft-2w").toString
    val a = new SeriesStore(spark, root)
    val b = new SeriesStore(spark, root)
    a.create("db")
    assert(b.exists("db")) // b discovers a's create through the log

    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def spawn(f: => Unit): Thread = {
      val t = new Thread(() => try f catch { case e: Throwable => errs.add(e) })
      t.start(); t
    }
    // two writers with disjoint keys, one per instance, racing a
    // compactor on the second instance
    val w1 = spawn((0 until 12).foreach(i =>
      a.store("db", Some(f"2012-08-28T21:24:${10 + i}%02dZ"), s"""{"v": $i}""")))
    val w2 = spawn((0 until 12).foreach(i =>
      b.store("db", Some(f"2012-08-28T21:24:${40 + i}%02dZ"), s"""{"v": ${100 + i}}""")))
    val c = spawn((0 until 3).foreach { _ => b.compact("db"); Thread.sleep(50) })
    // generous cap: under full-suite load the shared local[4] session
    // serializes many suites' jobs — an expired join here leaves the
    // writers mid-flight and fails the count below as a phantom flake
    Seq(w1, w2, c).foreach(_.join(600000))
    assert(Seq(w1, w2, c).forall(!_.isAlive), "writers still running")
    assert(errs.isEmpty, s"cross-instance ops failed: ${errs.peek()}")

    // nothing lost, nothing duplicated, both instances agree
    assert(a.info("db").docCount == 24)
    assert(b.info("db").docCount == 24)
    assert(a.get("db", "2012-08-28T21:24:45Z") == Some("""{"v": 105}"""))
    assert(b.get("db", "2012-08-28T21:24:11Z") == Some("""{"v": 1}"""))

    // an overwrite through one instance is the winner in the other:
    // seq allocation is transactional across instances
    a.store("db", Some("2012-08-28T21:24:45Z"), """{"v": -1}""")
    assert(b.get("db", "2012-08-28T21:24:45Z") == Some("""{"v": -1}"""))
    assert(b.info("db").docCount == 24)
  }

  test("time travel: frameAt reads committed versions; history audits them") {
    val s = newStore()
    s.create("tt")                                              // v1
    s.store("tt", Some("2012-08-28T21:24:00Z"), """{"v": 1}""") // v2
    s.store("tt", Some("2012-08-28T21:24:01Z"), """{"v": 2}""") // v3
    s.compact("tt")                                             // v4
    s.store("tt", Some("2012-08-28T21:24:00Z"), """{"v": 9}""") // v5 overwrite

    def docsAt(v: Long) = s.frameAt("tt", v).orderBy("ts")
      .select("doc").collect().map(_.getString(0)).toSeq
    assert(docsAt(1).isEmpty)
    assert(docsAt(2) == Seq("""{"v": 1}"""))
    assert(docsAt(3) == Seq("""{"v": 1}""", """{"v": 2}"""))
    assert(docsAt(4) == docsAt(3)) // compaction: same logical state
    assert(docsAt(5) == Seq("""{"v": 9}""", """{"v": 2}"""))
    assertThrows[IllegalArgumentException](s.frameAt("tt", 6))

    assert(s.history("tt").map(_.kind) ==
      Seq("create", "append", "append", "replace", "append"))
    assert(s.history("tt").map(_.v) == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("legacy pre-commit-log directories are adopted, data intact") {
    // old layout: parquet part files directly in the db dir + the
    // _graft_clean marker; no _log. First access must adopt the data
    // into a synthesized commit, not error with 'no such database'
    val root = Files.createTempDirectory("graft-legacy").toString
    val p = java.nio.file.Paths.get(root, "old" + SeriesStore.dbExt)
    Seq((1346189040000000000L, 1L, """{"v": 1}"""),
        (1346189050000000000L, 2L, """{"v": 2}"""))
      .toDF("ts", "seq", "doc").write.parquet(p.toString)
    Files.createFile(p.resolve("_graft_clean"))

    val s = new SeriesStore(spark, root)
    assert(s.exists("old"))
    assert(s.info("old").docCount == 2)
    assert(s.get("old", "2012-08-28T21:24:00Z").contains("""{"v": 1}"""))
    // the adopted state is clean (marker honored) and versioned
    assert(s.history("old").map(_.kind) == Seq("create", "replace"))
    // new writes allocate seqs ABOVE the legacy maximum: an overwrite
    // must beat the adopted row in last-write-wins dedup
    s.store("old", Some("2012-08-28T21:24:00Z"), """{"v": 9}""")
    assert(s.get("old", "2012-08-28T21:24:00Z").contains("""{"v": 9}"""))
    assert(s.info("old").docCount == 2)

    // dirty legacy dir (no marker): same-ts rows dedup on read
    val p2 = java.nio.file.Paths.get(root, "dirty" + SeriesStore.dbExt)
    Seq((1346189040000000000L, 1L, """{"v": 1}"""),
        (1346189040000000000L, 2L, """{"v": 2}"""))
      .toDF("ts", "seq", "doc").write.parquet(p2.toString)
    assert(s.info("dirty").docCount == 1)
    assert(s.get("dirty", "2012-08-28T21:24:00Z").contains("""{"v": 2}"""))

    // crashed adoption (log initialized, no adoption commit landed):
    // healed on next access — the legacy files are referenced by no
    // manifest yet, so a FRESH store retries the adoption
    val p3 = java.nio.file.Paths.get(root, "crashed" + SeriesStore.dbExt)
    Seq((1346189040000000000L, 1L, """{"v": 7}"""))
      .toDF("ts", "seq", "doc").write.parquet(p3.toString)
    new CommitLog(p3).init() // ≈ crash between init and adoption
    val s2 = new SeriesStore(spark, root) // fresh migrated-set
    assert(s2.info("crashed").docCount == 1)
    assert(s2.history("crashed").map(_.kind) == Seq("create", "append"))

    // NO resurrection: after a compact retires the adopted part-
    // files, a fresh store must not re-adopt them (their adoption
    // manifest is still in the history)
    s2.compact("crashed")
    val s3 = new SeriesStore(spark, root)
    assert(s3.info("crashed").docCount == 1)
    assert(s3.history("crashed").map(_.kind) == Seq("create", "append", "replace"))
  }

  test("vacuum sweeps orphans and replaced files after grace, never live ones") {
    val s = newStore()
    s.create("vx")
    s.store("vx", Some("2012-08-28T21:24:00Z"), """{"v": 1}""")
    s.store("vx", Some("2012-08-28T21:24:01Z"), """{"v": 2}""")
    s.compact("vx") // the two append files become unreferenced
    // a crash between staging and commit leaves an orphan data file
    val dbDir = java.nio.file.Paths.get(s.rootDir, "vx" + SeriesStore.dbExt)
    Files.write(dbDir.resolve("deadbeef-00000.parquet"), Array[Byte](1, 2, 3))

    // inside the grace window nothing is deleted
    assert(s.vacuum("vx", graceMs = 60000) == 0)
    // past it, exactly the orphan + the two replaced files go
    assert(s.vacuum("vx", graceMs = -1000) == 3)
    // the live state is untouched and still reads
    assert(s.info("vx").docCount == 2)
    assert(s.vacuum("vx", graceMs = -1000) == 0) // idempotent
  }

  test("vacuum never deletes files while an in-process stage is active") {
    // a write between stage() and its commit has files in NO snapshot;
    // vacuum must floor its cutoff below the oldest active stage, so
    // even an aggressive (sub-write-duration) grace cannot delete the
    // files the landing commit is about to reference
    val s = newStore()
    s.create("vg")
    s.store("vg", Some("2012-08-28T21:24:00Z"), """{"v": 1}""")
    val dbDir = java.nio.file.Paths.get(s.rootDir, "vg" + SeriesStore.dbExt)
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() => s.withStageGuard("vg") {
      started.countDown(); release.await()
    })
    t.start(); started.await()
    Thread.sleep(5) // file mtime strictly after the stage registered
    // ≈ a file just moved into place by the in-flight write
    Files.write(dbDir.resolve("cafebabe-00000.parquet"), Array[Byte](1))
    // negative grace = cutoff in the future: would sweep everything
    // unreferenced — the active stage must still protect it
    assert(s.vacuum("vg", graceMs = -60000) == 0)
    release.countDown(); t.join(10000)
    // stage closed (committed or unstaged): the same vacuum reclaims
    assert(s.vacuum("vg", graceMs = -60000) == 1)
  }

  test("concurrent adopters of one legacy directory never duplicate entries") {
    val root = Files.createTempDirectory("graft-race").toString
    val p = java.nio.file.Paths.get(root, "race" + SeriesStore.dbExt)
    (0 until 4).map(i =>
        (1346189000000000000L + i * 1000000000L, (i + 1).toLong, s"""{"i": $i}"""))
      .toDF("ts", "seq", "doc").repartition(2).write.parquet(p.toString)
    // two store instances ≈ two JVMs: separate migrated-sets and
    // write locks, so their adoption commits genuinely race
    val stores = (0 until 2).map(_ => new SeriesStore(spark, root))
    val threads = stores.map(st => new Thread(() => st.create("race")))
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    val s = new SeriesStore(spark, root)
    assert(s.info("race").docCount == 4)
    // the critical invariant: each legacy file referenced exactly once
    // across the whole history (a stale-entry re-commit would list the
    // winner's files again → double scan, doubled space accounting)
    val refs = s.history("race").flatMap(_.files.map(_.name))
    assert(refs.distinct.size == refs.size)
  }

  test("adoptable recheck drops already-adopted names and vanished files") {
    val dir = Files.createTempDirectory("graft-adopt")
    Files.write(dir.resolve("part-0.parquet"), Array[Byte](1))
    Files.write(dir.resolve("part-1.parquet"), Array[Byte](1))
    val entries = Seq(CommitLog.FileEntry("part-0.parquet", 1),
      CommitLog.FileEntry("part-1.parquet", 1),
      CommitLog.FileEntry("part-2.parquet", 1)) // deleted mid-adoption
    val snap0 = CommitLog.Snapshot(2, Vector(), clean = false, 0, "u")
    assert(SeriesStore.adoptable(dir, entries, snap0).map(_.name) ==
      Seq("part-0.parquet", "part-1.parquet"))
    // a concurrent adopter's commit already references part-0
    val snap1 = snap0.copy(adopted = Vector("part-0.parquet"))
    assert(SeriesStore.adoptable(dir, entries, snap1).map(_.name) ==
      Seq("part-1.parquet"))
    // everything referenced → nothing left to commit (attempt aborts
    // instead of landing a duplicate adoption manifest)
    val snap2 = snap0.copy(adopted = Vector("part-0.parquet", "part-1.parquet"))
    assert(SeriesStore.adoptable(dir, entries, snap2).isEmpty)
  }

  // The shared commit loop's outcomes, each forced by a second store
  // instance on the same root committing between an attempt's staging
  // and its commit. The attempts keep the snapshot's files as their
  // replace (a no-op compaction), so every row stays checkable.
  private def twoStores(db: String): (SeriesStore, SeriesStore, CommitLog) = {
    val root = Files.createTempDirectory("graft-loop").toString
    val a = new SeriesStore(spark, root)
    val b = new SeriesStore(spark, root)
    a.create(db)
    a.store(db, Some("2012-08-28T21:24:00Z"), """{"v": 1}""")
    a.compact(db)
    (a, b, new CommitLog(java.nio.file.Paths.get(root, db + SeriesStore.dbExt)))
  }

  test("commit loop: a replace that loses to an append keeps its rows, dirty") {
    val (a, b, log) = twoStores("rb")
    var attempts = 0
    log.commit("test") { snap =>
      attempts += 1
      b.store("rb", Some("2012-08-28T21:24:01Z"), """{"v": 2}""")
      CommitLog.Staged("replace", Seq(), snap.lastSeq, clean = true, (),
        keep = snap.files)
    }
    assert(attempts == 1) // rebased, not staged again
    assert(log.readManifest(log.latestVersion()).kind == "replace")
    assert(!log.snapshot().clean)
    assert(a.all("rb").select("doc").as[String].collect().toSeq ==
      Seq("""{"v": 1}""", """{"v": 2}"""))
  }

  test("commit loop: a replace that loses to a replace computes again, commits once") {
    val (a, b, log) = twoStores("rr")
    val v0 = log.latestVersion()
    var attempts = 0
    var cleanups = 0
    log.commit("test") { snap =>
      attempts += 1
      if (attempts == 1) b.compact("rr")
      CommitLog.Staged("replace", Seq(), snap.lastSeq, clean = true, (),
        keep = snap.files, cleanup = () => cleanups += 1)
    }
    assert(attempts == 2 && cleanups == 1)
    assert(a.history("rr").filter(_.v > v0).map(_.kind) == Seq("replace", "replace"))
    assert(log.snapshot().clean)
    assert(a.info("rr").docCount == 1)
  }

  test("commit loop: a lost adoption attempt leaves every legacy part file on disk") {
    val root = Files.createTempDirectory("graft-adopt-loss").toString
    val p = java.nio.file.Paths.get(root, "lg" + SeriesStore.dbExt)
    (0 until 4).map(i =>
        (1346189000000000000L + i * 1000000000L, (i + 1).toLong, s"""{"i": $i}"""))
      .toDF("ts", "seq", "doc").repartition(2).write.parquet(p.toString)
    Files.createFile(p.resolve("_graft_clean"))
    def parts = {
      val s = Files.list(p)
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(f => f.getFileName.toString.startsWith("part-")).toSeq
        .sortBy(_.toString)
      finally s.close()
    }
    val legacy = parts
    assert(legacy.size == 2)
    val entries = legacy.map(SeriesStore.fileEntry)
    val log = new CommitLog(p)
    assert(log.init())
    var attempts = 0
    log.commit("test") { snap =>
      attempts += 1
      val attempt = SeriesStore.adoption(p, entries, 4L, markerClean = true)(snap)
      // a second store adopts the same files before this attempt lands
      if (attempts == 1) assert(new SeriesStore(spark, root).info("lg").docCount == 4)
      attempt
    }
    assert(attempts == 2) // lost, then nothing left to adopt
    assert(parts == legacy)
    val s = new SeriesStore(spark, root)
    assert(s.info("lg").docCount == 4)
    val refs = s.history("lg").flatMap(_.files.map(_.name))
    assert(refs.distinct.size == refs.size)
  }

  test("compact writes one ts-range file per core once a table is large enough") {
    import org.apache.spark.sql.functions.{col, concat, lit, pmod}
    val s = newStore()
    s.create("db")
    val cores = spark.sparkContext.defaultParallelism
    val n = math.max(4, cores) * SeriesStore.MinRowsPerCoreFile
    val day = 86400L * 1000000000L
    val base = 1346189040L * 1000000000L
    val step = 30 * day / n
    def docs(rows: Long, salt: String) = spark.range(rows).select(
      (lit(base) + col("id") * step).as("ts"),
      concat(lit("""{"v": """), pmod(col("id"), lit(97)).cast("string"),
        lit(s""", "k": "$salt"""), pmod(col("id"), lit(5)).cast("string"),
        lit("\"}")).as("doc"))
    s.storeBatch("db", docs(n, "a"))
    s.storeBatch("db", docs(n / 8, "b")) // overwrites: dirty until compact
    def sec(ns: Long) = (ns / 1000000000L).toString
    val (d10, d11) = (sec(base + 10 * day), sec(base + 11 * day))
    val queries = Seq(
      SeriesQuery(3600000L, Seq("/v", "/v", "/k", "/v"),
        Seq("count", "sum", "distinct", "avg"), from = Some(d10), to = Some(d11)),
      SeriesQuery(86400000L, Seq("/v", "/v", "/v"), Seq("count", "min", "max")))
    def answers = (queries.map(s.queryJson("db", _)),
      s.all("db", Some(d10), Some(d11)).select("doc").as[String].collect().toSeq,
      s.all("db", limit = 500).select("doc").as[String].collect().toSeq)
    val before = answers
    s.compact("db")
    assert(answers == before)
    val files = s.scanFiles("db")
    assert(files.size >= cores, s"${files.size} files on $cores cores")
    assert(files.map(_.rows).sum == n)
    files.sliding(2).foreach { case Seq(a, b) =>
      assert(a.minTs <= a.maxTs && a.maxTs < b.minTs,
        s"overlapping or unordered files: $a, $b")
    }
    val oneDay = s.scanFiles("db", Some(base + 10 * day), Some(base + 11 * day))
    assert(oneDay.nonEmpty && oneDay.size <= 2, s"1-day read scans $oneDay")
  }
}
