package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

/** Direct protocol-level tests of the commit log (no Spark): atomic
 * version races, snapshot replay vs checkpoint equivalence, and the
 * crash shapes the design claims to survive. */
class CommitLogSpec extends AnyFunSuite {
  import CommitLog._

  private def fresh(): (Path, CommitLog) = {
    val dir = Files.createTempDirectory("graft-log")
    val log = new CommitLog(dir)
    assert(log.init())
    (dir, log)
  }

  private def fe(n: String) = FileEntry(n, 10)

  test("exactly one writer wins a version; losers see the new state") {
    val (_, log) = fresh()
    val a = Manifest(2, "append", Seq(fe("a.parquet")), seqHi = 1, clean = false)
    val b = Manifest(2, "append", Seq(fe("b.parquet")), seqHi = 1, clean = false)
    assert(log.tryCommit(a))
    assert(!log.tryCommit(b)) // atomic create: second writer loses
    val s = log.snapshot()
    assert(s.version == 2 && s.files.map(_.name) == Vector("a.parquet"))
    // loser retries at the next version with a re-read seq base
    assert(log.tryCommit(Manifest(3, "append", Seq(fe("b.parquet")),
      seqHi = 2, clean = false)))
    assert(log.snapshot().files.map(_.name) == Vector("a.parquet", "b.parquet"))
  }

  test("many concurrent committers: versions stay dense, nothing lost") {
    val (_, log) = fresh()
    val threads = (0 until 8).map { t =>
      new Thread(() => {
        var committed = 0
        while (committed < 5) {
          val v = log.latestVersion() + 1
          if (log.tryCommit(Manifest(v, "append",
              Seq(fe(s"t$t-$committed.parquet")), seqHi = v, clean = false)))
            committed += 1
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    val s = log.snapshot()
    assert(s.version == 41) // 1 create + 40 appends, no gaps
    assert(s.files.size == 40)
    assert(s.files.map(_.name).distinct.size == 40)
  }

  test("replace swaps the live set; append marks it dirty again") {
    val (_, log) = fresh()
    assert(log.tryCommit(Manifest(2, "append", Seq(fe("a.parquet")), 5, clean = false)))
    assert(log.tryCommit(Manifest(3, "replace", Seq(fe("c.parquet")), 5, clean = true)))
    val s = log.snapshot()
    assert(s.files.map(_.name) == Vector("c.parquet") && s.clean && s.lastSeq == 5)
    assert(log.tryCommit(Manifest(4, "append", Seq(fe("d.parquet")), 7, clean = false)))
    val s2 = log.snapshot()
    assert(!s2.clean && s2.lastSeq == 7)
  }

  test("snapshot via checkpoint equals snapshot via full replay") {
    // stays below the prune floor (2 checkpoints) so every manifest is
    // still on disk and a from-scratch replay is possible
    val (dir, log) = fresh()
    (2 to 19).foreach { v =>
      assert(log.tryCommit(Manifest(v, "append", Seq(fe(s"f$v.parquet")),
        seqHi = v, clean = false)))
      log.checkpointMaybe(log.snapshot())
    }
    val withCkpt = log.snapshot()
    // deleting the checkpoints forces a from-scratch replay
    val s = Files.list(dir.resolve("_log"))
    try s.forEach(p =>
      if (p.getFileName.toString.endsWith(".ckpt.json")) Files.delete(p))
    finally s.close()
    val replayed = new CommitLog(dir).snapshot()
    assert(withCkpt == replayed)
    assert(replayed.version == 19 && replayed.files.size == 18)
  }

  test("old manifests and checkpoints are pruned past the floor") {
    val (dir, log) = fresh()
    (2 to 35).foreach { v =>
      assert(log.tryCommit(Manifest(v, "append", Seq(fe(s"f$v.parquet")),
        seqHi = v, clean = false)))
      log.checkpointMaybe(log.snapshot())
    }
    // checkpoints landed at 10/20/30; the floor after the 30-ckpt is
    // 20 — manifests 2..19 and the 10-ckpt are gone, v1 stays (uid)
    val names = {
      val s = Files.list(dir.resolve("_log"))
      try {
        val it = s.iterator(); val b = Seq.newBuilder[String]
        while (it.hasNext) b += it.next().getFileName.toString
        b.result().sorted
      } finally s.close()
    }
    assert(names.contains(f"${1L}%020d.json"))
    assert(!names.contains(f"${2L}%020d.json"))
    assert(!names.contains(f"${19L}%020d.json"))
    assert(names.contains(f"${20L}%020d.json"))
    assert(!names.contains(f"${10L}%020d.ckpt.json"))
    assert(names.contains(f"${20L}%020d.ckpt.json"))
    assert(names.contains(f"${30L}%020d.ckpt.json"))
    // bounded: ≤ v1 + ~2 windows of manifests + 2 checkpoints
    assert(names.size <= 20)
    // state is unaffected: full file set, version, uid all intact
    val snap = log.snapshot()
    assert(snap.version == 35 && snap.files.size == 34)
    assert(log.tableId() == snap.uid && snap.uid.nonEmpty)
    // time travel above the floor works; below it fails loudly
    assert(log.snapshotAt(25).files.size == 24)
    intercept[IllegalArgumentException](log.snapshotAt(5))
    // rebase windows: exact succeeds when nothing was pruned out of
    // the window, refuses (None) when the gap would drop commits
    assert(log.commitsSinceExact(25).map(_.map(_.v)) == Some((26L to 35L)))
    assert(log.commitsSinceExact(5).isEmpty)
    // the lenient audit listing still returns what is retained
    assert(log.commitsSince(0).map(_.v) == 1L +: (20L to 35L))
  }

  test("stray .ckpt.json files are ignored, not parsed") {
    val (dir, log) = fresh()
    assert(log.tryCommit(Manifest(2, "append", Seq(fe("a.parquet")), 1, clean = false)))
    // an editor backup / copied checkpoint with a non-numeric name
    // must not brick snapshot() with a NumberFormatException
    Files.write(dir.resolve("_log").resolve("backup.ckpt.json"),
      "not a checkpoint".getBytes("UTF-8"))
    Files.write(dir.resolve("_log").resolve("123.ckpt.json"),
      "short name".getBytes("UTF-8"))
    assert(log.snapshot().files.map(_.name) == Vector("a.parquet"))
    assert(log.latestVersion() == 2)
  }

  test("adopted legacy names accumulate, survive replace and checkpoints") {
    val (dir, log) = fresh()
    assert(log.tryCommit(Manifest(2, "append",
      Seq(fe("part-00000-abc.parquet"), fe("u1.parquet")), 5, clean = false)))
    assert(log.snapshot().adopted == Vector("part-00000-abc.parquet"))
    // compaction replaces the legacy file with a uuid-named rewrite:
    // the name must STAY adopted or a fresh store would re-adopt the
    // original from disk while it awaits vacuum
    assert(log.tryCommit(Manifest(3, "replace", Seq(fe("u2.parquet")), 5, clean = true)))
    assert(log.snapshot().adopted == Vector("part-00000-abc.parquet"))
    // and it round-trips through checkpoint JSON
    (4 to 10).foreach(v => assert(log.tryCommit(
      Manifest(v, "append", Seq(fe(s"u$v.parquet")), v, clean = false))))
    log.checkpointMaybe(log.snapshot())
    val viaCkpt = new CommitLog(dir).snapshot()
    assert(viaCkpt.adopted == Vector("part-00000-abc.parquet"))
  }

  test("stray .json files in _log are ignored, not parsed") {
    val (dir, log) = fresh()
    assert(log.tryCommit(Manifest(2, "append", Seq(fe("a.parquet")), 1, clean = false)))
    // foreign files whose names end in .json but are not 20-digit
    // versions: editor backups, copied manifests, rsync temps
    Files.write(dir.resolve("_log").resolve("manifest.json"),
      "not a manifest".getBytes("UTF-8"))
    Files.write(dir.resolve("_log").resolve("123.json"),
      "short name".getBytes("UTF-8"))
    assert(log.latestVersion() == 2)
    assert(log.snapshot().files.map(_.name) == Vector("a.parquet"))
    assert(log.tryCommit(Manifest(3, "append", Seq(fe("b.parquet")), 2, clean = false)))
  }

  test("create manifests carry a fresh incarnation UID") {
    val dir = Files.createTempDirectory("graft-uid")
    val log1 = new CommitLog(dir)
    assert(log1.init())
    val uid1 = log1.snapshot().uid
    assert(uid1.nonEmpty)
    // wipe and re-init (≈ drop + recreate): new incarnation, new UID
    val s = Files.walk(dir)
    try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .filter(_ != dir).forEach(Files.delete(_))
    finally s.close()
    val log2 = new CommitLog(dir)
    assert(log2.init())
    assert(log2.snapshot().uid != uid1)
  }

  test("manifests round-trip through JSON exactly") {
    val m = Manifest(7, "replace",
      Seq(FileEntry("x\"y.parquet", 123), FileEntry("z.parquet", 0)),
      seqHi = 99, clean = true)
    assert(Manifest.fromJson(m.toJson) == m)
    val s = Snapshot(9, Vector(FileEntry("a.parquet", 5)), clean = false, 42)
    assert(Snapshot.fromJson(s.toJson) == s)
  }

  test("commitsSince returns the rebase window in order") {
    val (_, log) = fresh()
    (2 to 5).foreach(v => assert(log.tryCommit(
      Manifest(v, "append", Seq(fe(s"f$v.parquet")), v, clean = false))))
    assert(log.commitsSince(3).map(_.v) == Seq(4, 5))
    assert(log.commitsSince(5).isEmpty)
  }

  test("readers never see a partly written manifest while a writer commits") {
    val (_, log) = fresh()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reads = new java.util.concurrent.atomic.AtomicLong()
    val readers = (0 until 3).map(_ => new Thread(() =>
      while (!stop.get()) {
        try { log.snapshot(); reads.incrementAndGet() }
        catch { case e: Throwable => errs.add(e) }
      }))
    readers.foreach(_.start())
    try (2 to 501).foreach { v =>
      assert(log.tryCommit(Manifest(v, "append", Seq(fe(s"f$v.parquet")),
        seqHi = v, clean = false)))
      log.checkpointMaybe(log.snapshot())
    } finally { stop.set(true); readers.foreach(_.join(60000)) }
    val failed = errs.size
    assert(failed == 0, s"$failed of ${reads.get + failed} reads threw: ${errs.peek()}")
    assert(reads.get > 0)
    assert(log.snapshot().files.size == 500)
  }

  private def logNames(dir: Path): Seq[String] = {
    val s = Files.list(dir.resolve("_log"))
    try {
      val it = s.iterator(); val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next().getFileName.toString
      b.result().sorted
    } finally s.close()
  }

  test("publishing leaves no temp files; prune sweeps stale leftovers") {
    val (dir, log) = fresh()
    assert(!log.tryCommit(Manifest(1, "append", Seq(), 0, clean = false)))
    // a writer that died between writing and linking its manifest
    val stale = dir.resolve("_log").resolve(".commit-dead")
    val young = dir.resolve("_log").resolve(".commit-live")
    Seq(stale, young).foreach(Files.write(_, "{".getBytes("UTF-8")))
    Files.setLastModifiedTime(stale, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - TmpGraceMs - 60000))
    assert(log.latestVersion() == 1 && log.snapshot().version == 1)
    (2 to 10).foreach { v =>
      assert(log.tryCommit(Manifest(v, "append", Seq(fe(s"f$v.parquet")),
        seqHi = v, clean = false)))
      log.checkpointMaybe(log.snapshot())
    }
    assert(logNames(dir).filter(_.startsWith(".")) == Seq(".commit-live"))
  }

  private def append(log: CommitLog, files: String*): Unit = {
    val snap = log.snapshot()
    assert(log.tryCommit(Manifest(snap.version + 1, "append",
      files.map(fe), seqHi = snap.lastSeq + 7, clean = false)))
  }

  test("commit: a replace that loses to appends rebases them, dirty") {
    val (_, log) = fresh()
    append(log, "a.parquet")
    var attempts = 0
    val r = log.commit("test") { snap =>
      attempts += 1
      append(log, "b.parquet") // lands between staging and commit
      Staged("replace", Seq(fe("c.parquet")), snap.lastSeq, clean = true,
        "done", keep = snap.files)
    }
    assert(r == "done" && attempts == 1)
    val s = log.snapshot()
    assert(s.files.map(_.name) == Vector("a.parquet", "c.parquet", "b.parquet"))
    assert(!s.clean && s.lastSeq == 14)
    assert(log.readManifest(s.version).kind == "replace")
  }

  test("commit: a replace that meets a replace, or its own files, recomputes") {
    val (_, log) = fresh()
    var cleanups = 0
    var attempts = 0
    log.commit("test") { snap =>
      attempts += 1
      if (attempts == 1) assert(log.tryCommit(Manifest(snap.version + 1,
        "replace", Seq(fe("x.parquet")), 0, clean = true)))
      Staged("replace", Seq(fe(s"r$attempts.parquet")), 0, clean = true, (),
        cleanup = () => cleanups += 1)
    }
    assert(attempts == 2 && cleanups == 1)
    assert(log.snapshot().files.map(_.name) == Vector("r2.parquet"))
    // an append that already lists the replace's file (a concurrent
    // adopter of the same legacy file) must not be rebased into it
    attempts = 0
    log.commit("test") { snap =>
      attempts += 1
      if (snap.adopted.contains("part-0.parquet")) NoChange(())
      else {
        append(log, "part-0.parquet")
        Staged("replace", Seq(fe("part-0.parquet")), 0, clean = true, ())
      }
    }
    assert(attempts == 2)
    val refs = log.commitsSince(0).flatMap(_.files.map(_.name))
    assert(refs.count(_ == "part-0.parquet") == 1)
  }

  test("commit: lost races hit the append and replace caps") {
    val (_, log) = fresh()
    for ((kind, cap) <- Seq("append" -> AppendAttempts,
        "replace" -> ReplaceAttempts)) {
      var attempts = 0
      val e = intercept[IllegalStateException](log.commit(s"$kind test") { snap =>
        attempts += 1
        assert(log.tryCommit(Manifest(snap.version + 1, "replace", Seq(),
          0, clean = true))) // a rival replace wins every race
        Staged(kind, Seq(fe("z.parquet")), 0, clean = false, ())
      })
      assert(attempts == cap)
      assert(e.getMessage == s"$kind test lost $cap commit races")
    }
  }
}
