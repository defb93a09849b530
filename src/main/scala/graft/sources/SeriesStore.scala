package graft.sources

import graft.functions.JsonPointersExpr
import graft.operators.{SeriesEngine, SeriesStats}
import graft.operators.SeriesEngine.SeriesQuery
import graft.timelib.TimeLib
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

/**
 * Multi-tenant series storage: one parquet directory per named
 * database under a root, schema `(ts LONG epoch-ns, seq LONG, doc
 * STRING)` — the Spark-native shape of the reference's one-couchstore-
 * file-per-database layout (reference: database.go:25,57-59,76-93).
 *
 * The reference's B-tree key is the canonical timestamp string; here
 * the key is the ns timestamp itself, ordered by parquet min/max
 * statistics instead of a B-tree (range queries prune row groups).
 * Same-key overwrites (PUT twice) are resolved read-side by highest
 * `seq` wins, and rewritten physically by `compact()`.
 *
 * Storage is transactional: every mutation is a [[CommitLog]] commit
 * over immutable, uniquely-named parquet files, so CONCURRENT WRITERS
 * — other threads, other SeriesStore instances, other JVMs on the
 * same filesystem — are safe: the log's atomic create-if-absent
 * serializes commits, losers restage and retry, and readers scan the
 * exact file list of the snapshot they opened (the couchstore MVCC
 * property, database.go:275-302, re-expressed as a table format).
 * The in-JVM per-db lock below is only a fast path that keeps
 * co-located writers from burning restage work on lost races.
 */
class SeriesStore(spark: SparkSession, root: String) {
  import SeriesStore._

  private[graft] def session: SparkSession = spark
  private[graft] def rootDir: String = root

  Files.createDirectories(Paths.get(root))

  /** Per-db operation counters for the `/_debug/vars` surface (the
   * reference publishes `dbs` expvar stats — debug.go:69-112; its
   * `written`/`qlen`/`opens`/`closes` map here to the operations a
   * Spark-backed store actually performs). */
  final class DbStat {
    val written = new java.util.concurrent.atomic.LongAdder
    val queries = new java.util.concurrent.atomic.LongAdder
    val deletes = new java.util.concurrent.atomic.LongAdder
    val compacts = new java.util.concurrent.atomic.LongAdder
    // manifest-stats jobs that failed and degraded to stat-less
    // (unpruned) entries — a persistently nonzero count means every
    // future read of those files full-scans instead of pruning
    val statErrors = new java.util.concurrent.atomic.LongAdder
  }
  private val dbStats =
    new java.util.concurrent.ConcurrentHashMap[String, DbStat]()
  private def stat(db: String): DbStat =
    dbStats.computeIfAbsent(db, _ => new DbStat)

  /** Snapshot of every db's counters, JSON-shaped for /_debug/vars. */
  def statsJson: String = {
    val sb = new StringBuilder("{")
    var first = true
    dbStats.forEach { (db, s) =>
      if (!first) sb.append(',')
      first = false
      sb.append(jsonQuote(db)).append(s""":{"written":${s.written.sum()},""" +
        s""""queries":${s.queries.sum()},"deletes":${s.deletes.sum()},""" +
        s""""compacts":${s.compacts.sum()},""" +
        s""""stat_errors":${s.statErrors.sum()}}""")
    }
    sb.append('}').toString
  }

  private def dbPath(db: String): Path = {
    require(db.nonEmpty && db.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
      s"invalid database name: $db")
    Paths.get(root, db + dbExt)
  }

  // one CommitLog per db — stateless over the filesystem, so the map
  // is only an allocation cache (two stores on one root interoperate)
  private val logs =
    new java.util.concurrent.ConcurrentHashMap[String, CommitLog]()
  private def logOf(db: String): CommitLog =
    logs.computeIfAbsent(db, _ => new CommitLog(dbPath(db)))

  /** PUT /{db} (handlers.go:36-43). Races between creators are decided
   * by the log's atomic v1 commit — both callers see a created db. */
  def create(db: String): Unit = {
    val p = dbPath(db)
    Files.createDirectories(p)
    ensureMigrated(db) // a legacy dir must adopt its data, not lose it
    val log = logOf(db)
    if (!log.initialized) log.init()
  }

  /** Adoption of a pre-commit-log database directory (plain Spark
   * `part-*.parquet` files + `_graft_clean` marker): synthesize the
   * create manifest and one commit covering the legacy files, so
   * upgraded stores read their old data instead of erroring.
   *
   * Crash/race safety: a legacy file needs adopting iff no manifest
   * has ever referenced it — tracked as the snapshot's `adopted` set
   * (replay-accumulated, checkpoint-persisted, so log pruning cannot
   * forget it). A crashed or race-lost adoption is retried on the
   * next access (the legacy files are untouched until a manifest
   * lands), while files a later compact replaced stay retired (their
   * names stay in `adopted`, so they are never re-adopted and vacuum
   * may sweep them). The adoption commit goes through the normal
   * optimistic retry with the adoptable set RE-DERIVED per attempt
   * (and file existence re-checked), so concurrent adopters never
   * duplicate entries and a stalled adopter never commits references
   * to files a concurrent compact+vacuum already deleted. Legacy
   * names (`part-` prefix) can never collide with this layout's
   * uuid-named data files. */
  private val migrated = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def ensureMigrated(db: String): Unit = {
    if (migrated.contains(db)) return
    withWriteLock(db) {
      if (!migrated.contains(db)) {
        val p = dbPath(db)
        val log = logOf(db)
        if (Files.isDirectory(p)) {
          // the snapshot's `adopted` set is the ever-referenced record
          // for legacy names (accumulated in replay, persisted through
          // checkpoints — so it survives log pruning)
          val adopted0: Set[String] =
            if (log.initialized) log.snapshot().adopted.toSet else Set.empty
          val s = Files.list(p)
          val parts =
            try {
              val it = s.iterator()
              val b = Seq.newBuilder[Path]
              while (it.hasNext) {
                val f = it.next()
                val n = f.getFileName.toString
                if (n.startsWith("part-") && n.endsWith(".parquet") &&
                    !adopted0.contains(n) && Files.isRegularFile(f)) b += f
              }
              b.result()
            } finally s.close()
          if (parts.nonEmpty || !log.initialized) {
            // everything expensive happens BEFORE any commit: a crash
            // in the Spark read leaves the log untouched and adoption
            // simply retries on the next access
            val entries = parts.map(SeriesStore.fileEntry)
            val maxSeq =
              if (parts.isEmpty) 0L
              else spark.read.schema(schema).parquet(parts.map(_.toString): _*)
                .agg(coalesce(max(col("seq")), lit(0L))).head().getLong(0)
            val markerClean = Files.exists(p.resolve("_graft_clean"))
            if (!log.initialized) log.init()
            if (parts.nonEmpty) {
              // not through commitWrite: a lost attempt must not delete
              // its "staged" files, which are the user's legacy data
              log.commit(s"adoption of $db")(
                SeriesStore.adoption(p, entries, maxSeq, markerClean))
              Files.deleteIfExists(p.resolve("_graft_clean"))
            }
          }
        }
        migrated.add(db)
      }
    }
  }

  // Files.walk streams hold directory handles until closed
  private def walked[T](p: Path)(f: java.util.stream.Stream[Path] => T): T = {
    val s = Files.walk(p)
    try f(s) finally s.close()
  }

  // In-JVM per-database write serialization — an OPTIMIZATION, not the
  // correctness mechanism: cross-process safety comes from the commit
  // log's optimistic protocol. Serializing co-located writers (the
  // HTTP and memcached facades spawn many) just avoids restaging work
  // that intra-JVM races would otherwise lose.
  private val writeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def withWriteLock[T](db: String)(f: => T): T =
    writeLocks.computeIfAbsent(db, _ => new Object).synchronized(f)

  /** Every store write's commit: [[CommitLog.commit]] under the write
   * lock and the stage guard, on an adopted, existing db. An abandoned
   * attempt's staged files are deleted. */
  private def commitWrite[R](db: String, what: String)(
      attempt: CommitLog.Snapshot => CommitLog.Attempt[R]): R =
    withWriteLock(db)(withStageGuard(db) {
      ensureMigrated(db)
      logOf(db).commit(s"$what of $db") { snap =>
        require(snap.version >= 1, s"no such database: $db")
        attempt(snap) match {
          case s: CommitLog.Staged[R @unchecked] => s.copy(cleanup = () =>
            s.files.foreach(e => Files.deleteIfExists(dbPath(db).resolve(e.name))))
          case none => none
        }
      }
    })

  // In-flight stage registry: between stage() and its commit the moved
  // files are in NO snapshot, so a concurrent vacuum whose grace is
  // shorter than the write would sweep them and the landing commit
  // would reference missing files. vacuum() floors its cutoff below
  // the oldest stage registered here, making in-process writes immune
  // to any grace setting; writers in OTHER JVMs remain protected only
  // by the grace window itself (document at the vacuum call site).
  private val activeStages = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]]()
  private[sources] def withStageGuard[T](db: String)(f: => T): T = {
    val id = java.util.UUID.randomUUID().toString
    val m = activeStages.computeIfAbsent(db,
      _ => new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long])
    // Register the guard with a FILE-clock stamp, not
    // System.currentTimeMillis: vacuum compares the floor against
    // parquet mtimes, which come from the kernel's coarse clock and
    // can lag the precise clock by a tick. A marker file touched here
    // reads its stamp from the same clock as the files it protects,
    // so a data file moved into place any time after this point is
    // guaranteed mtime >= stamp. Falls back to a 2 s precise-clock
    // margin only if the db dir is missing (nothing to protect yet).
    val marker = dbPath(db).resolve(s"_stageguard-$id")
    val stamp =
      try {
        Files.write(marker, Array.emptyByteArray)
        Files.getLastModifiedTime(marker).toMillis
      } catch { case _: java.io.IOException =>
        System.currentTimeMillis() - 2000L
      }
    m.put(id, java.lang.Long.valueOf(stamp))
    try f finally {
      m.remove(id)
      try Files.deleteIfExists(marker)
      catch { case _: java.io.IOException => () }
    }
  }
  private[sources] def oldestActiveStageMs(db: String): Long = {
    val m = activeStages.get(db)
    if (m == null) Long.MaxValue
    else {
      var min = Long.MaxValue
      m.values.forEach(v => if (v.longValue < min) min = v.longValue)
      min
    }
  }

  /** Stage a dataframe's parquet output as immutable uniquely-named
   * files inside the db dir (not yet visible — only a committed
   * manifest publishes them). Staging through a private temp dir per
   * write job removes the shared `_temporary/0` that makes concurrent
   * appends to one directory mutually destructive. */
  private def stage(db: String, data: DataFrame,
      catPtrs: Seq[String] = Nil,
      numPtrs: Seq[String] = Nil): Seq[CommitLog.FileEntry] = {
    val p = dbPath(db)
    val id = java.util.UUID.randomUUID().toString
    val tmp = p.resolve(s"_stage-$id")
    data.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val parts = walked(tmp)(s => s
      .filter((f: Path) => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet"))
      .sorted(Comparator.comparing[Path, String]((f: Path) => f.getFileName.toString))
      .toArray((n: Int) => new Array[Path](n)))
    val entries = parts.zipWithIndex.map { case (part, i) =>
      val name = f"$id-$i%05d.parquet"
      Files.move(part, p.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      // footer stats → manifest, so time-bounded reads prune files
      // without listing or footer-reading them (one local small read
      // per freshly written file, amortized into the commit)
      SeriesStore.fileEntry(p.resolve(name))
    }.toSeq
    walked(tmp)(_.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_)))
    withPtrStats(db, entries, catPtrs, numPtrs)
  }

  /** Record each staged file's manifest stats for EVERY declared
   * pointer in ONE batch-scale job per commit: per-file bounded
   * distinct sets for the categorical pointers (the per-source /
   * per-domain pruning axis) and per-file min/max for the numeric
   * pointers (the quality-band axis), all computed in a single
   * grouped pass over the just-written files. A categorical set over
   * [[SeriesStore.CatsMax]] records nothing for that pointer (the
   * file is simply never pruned on it); a numeric pointer with no
   * parsable value records the empty vector (prunes soundly — nulls
   * never match a range); any failure degrades to stat-less
   * (unpruned) entries — pruning stays an optimization, never a
   * correctness dependency. The FIRST pointer of each kind also
   * mirrors into the legacy `cats`/`num` single-axis fields. */
  private def withPtrStats(db: String, entries: Seq[CommitLog.FileEntry],
      catPtrs: Seq[String], numPtrs: Seq[String]): Seq[CommitLog.FileEntry] =
    if ((catPtrs.isEmpty && numPtrs.isEmpty) || entries.isEmpty) entries
    else try {
      val p = dbPath(db)
      val paths = entries.map(e => p.resolve(e.name).toString)
      val catCols = catPtrs.zipWithIndex.map { case (ptr, i) =>
        SeriesStore.catValueCol(ptr).as(s"__c$i") }
      val numCols = numPtrs.zipWithIndex.map { case (ptr, i) =>
        SeriesStore.numValueCol(ptr).as(s"__n$i") }
      val aggs: Seq[Column] =
        catPtrs.indices.map(i =>
          slice(sort_array(collect_set(col(s"__c$i"))), 1,
            SeriesStore.CatsMax + 1).as(s"cs$i")) ++
        numPtrs.indices.flatMap(i => Seq(
          min(col(s"__n$i")).as(s"lo$i"), max(col(s"__n$i")).as(s"hi$i")))
      val byFile = spark.read.schema(schema).parquet(paths: _*)
        .select(Seq(input_file_name().as("__f")) ++ catCols ++ numCols: _*)
        .groupBy(col("__f"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map(r => r.getString(0).substring(
          r.getString(0).lastIndexOf('/') + 1) -> r)
        .toMap
      entries.map { e =>
        val row = byFile.get(e.name)
        val catsBy = catPtrs.zipWithIndex.flatMap { case (ptr, i) =>
          row match {
            // no rows in the file at all: empty sets are sound
            case None => Some(ptr -> Vector.empty[String])
            case Some(r) =>
              val cs = r.getSeq[String](r.fieldIndex(s"cs$i")).toVector
              if (cs.size <= SeriesStore.CatsMax) Some(ptr -> cs)
              else None // over the cap: record nothing for this pointer
          }
        }.toMap
        val numBy = numPtrs.zipWithIndex.map { case (ptr, i) =>
          row match {
            case None => ptr -> Vector.empty[Double]
            case Some(r) =>
              if (r.isNullAt(r.fieldIndex(s"lo$i")))
                ptr -> Vector.empty[Double] // all-null: prunes soundly
              else ptr -> Vector(r.getDouble(r.fieldIndex(s"lo$i")),
                r.getDouble(r.fieldIndex(s"hi$i")))
          }
        }.toMap
        e.copy(
          cats = catPtrs.headOption.flatMap(catsBy.get).orElse(e.cats),
          num = numPtrs.headOption.flatMap(numBy.get).orElse(e.num),
          catsBy = if (catPtrs.nonEmpty) Some(catsBy) else e.catsBy,
          numBy = if (numPtrs.nonEmpty) Some(numBy) else e.numBy)
      }
    } catch { case e: Exception =>
      // degrade to stat-less (unpruned) entries, but OBSERVABLY: a
      // systematic failure (e.g. a bad pointer expression for a
      // declared axis) would otherwise silently disable compound
      // pruning for every future read of these files
      stat(db).statErrors.increment()
      System.err.println(
        s"seriesly: manifest-stats job failed for db '$db' " +
        s"(${entries.size} files degrade to unpruned): $e")
      entries
    }

  /** Remove data files no longer referenced by the current snapshot
   * and stale staging dirs, keeping anything younger than `graceMs`.
   * The grace window protects TWO in-flight populations: readers
   * still scanning files an older snapshot listed, AND writers
   * between [[stage]] and their commit, whose files are not yet in
   * any snapshot — so `graceMs` must exceed the longest running
   * read or write. Shorten it below that (the CLI accepts explicit
   * values down to 0) only when the store is known quiescent.
   *
   * Writes staged IN THIS PROCESS are additionally immune regardless
   * of `graceMs`: the cutoff is floored below the oldest in-flight
   * stage ([[withStageGuard]]), so an aggressive ride-along vacuum
   * can never delete files a local commit is about to reference.
   * Stages in other JVMs have no such registry — cross-process, the
   * grace window is the only protection and must exceed the longest
   * concurrent write.
   *
   * Concurrent vacuums/unstages may race deletions; each entry is
   * handled independently and already-gone files are skipped. */
  def vacuum(db: String, graceMs: Long = 10 * 60 * 1000L): Int = {
    val p = dbPath(db)
    if (!Files.isDirectory(p)) return 0
    ensureMigrated(db)
    val live = logOf(db).snapshot().files.map(_.name).toSet
    val cutoff = math.min(System.currentTimeMillis() - graceMs,
      oldestActiveStageMs(db) - 1)
    var removed = 0
    val s = Files.list(p)
    try {
      val it = s.iterator()
      while (it.hasNext) {
        val f = it.next()
        val name = f.getFileName.toString
        try {
          def old = Files.getLastModifiedTime(f).toMillis < cutoff
          if (name.endsWith(".parquet") && !live.contains(name) && old) {
            if (Files.deleteIfExists(f)) removed += 1
          } else if (name.startsWith("_stage-") && Files.isDirectory(f) && old) {
            walked(f)(_.sorted(Comparator.reverseOrder[Path]()).forEach(p =>
              Files.deleteIfExists(p)))
            removed += 1
          } else if (name.startsWith("_stageguard-") && old) {
            // crash-leftover guard marker from a dead JVM; reclaim but
            // don't count — markers are bookkeeping, not data files
            Files.deleteIfExists(f)
          }
        } catch { // a racing vacuum/unstage finished first: not an error
          case _: java.nio.file.NoSuchFileException => ()
          // Files.walk wraps mid-iteration disappearances
          case e: java.io.UncheckedIOException
            if e.getCause.isInstanceOf[java.nio.file.NoSuchFileException] => ()
        }
      }
    } finally s.close()
    removed
  }

  /** DELETE /{db} (handlers.go:282-289). */
  def drop(db: String): Unit = {
    val p = dbPath(db)
    if (Files.exists(p))
      walked(p)(_.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f)))
    logs.remove(db)
  }

  /** GET /_all_dbs (database.go:121-134). */
  def list(): Seq[String] =
    Option(Paths.get(root).toFile.listFiles()).getOrElse(Array())
      .filter(f => f.isDirectory && f.getName.endsWith(dbExt))
      .map(_.getName.stripSuffix(dbExt)).sorted.toSeq

  def exists(db: String): Boolean = Files.exists(dbPath(db))

  /** GET /{db} info: doc_count/space_used/last_seq (handlers.go:431-451).
   * Space is the LIVE snapshot's bytes (manifest-recorded sizes — no
   * directory walk), so compaction shrinks it even while replaced
   * files await vacuum. */
  def info(db: String): DbInfo = {
    val snap = snapshotOf(db)
    val r = frameOf(db, snap)
      .agg(count(lit(1)), coalesce(max(col("seq")), lit(0L))).head()
    DbInfo(r.getLong(0), snap.files.map(_.bytes).sum, r.getLong(1))
  }

  /** POST /{db} / PUT /{db}/{key}: validate JSON, key = parsed ts or
   * now, append (handlers.go:56-100). Returns the canonical key. For
   * bulk loads use [[storeBatch]] — per-doc parquet appends are the
   * write-behind queue's job in the reference (database.go:175-254);
   * here `graft.streaming.SeriesStream` is that path. */
  def store(db: String, ts: Option[String], json: String): String = {
    require(validJson(json), "invalid JSON document")
    val ns = ts match {
      case Some(s) => TimeLib.parseTime(s).getOrElse(
        throw new IllegalArgumentException(s"unparsable timestamp: $s"))
      case None => System.currentTimeMillis() * 1000000L
    }
    import spark.implicits._
    appendCommit(db) { seqBase =>
      (Seq((ns, seqBase, json)).toDF("ts", "seq", "doc"), seqBase)
    }
    stat(db).written.increment()
    TimeLib.formatCanonical(ns)
  }

  /** Optimistic append: stage data with seqs from the snapshot's
   * `lastSeq`, then race for the next log version. A lost race means
   * another writer consumed our seq range — restage against the new
   * snapshot and try again. `mk` receives the first free seq and
   * returns (frame to stage, highest seq reserved). */
  private def appendCommit(db: String, catPtrs: Seq[String] = Nil,
      numPtrs: Seq[String] = Nil)(
      mk: Long => (DataFrame, Long)): Unit = commitWrite(db, "append") { snap =>
    val (data, seqHi) = mk(snap.lastSeq + 1)
    CommitLog.Staged("append", stage(db, data, catPtrs, numPtrs), seqHi,
      clean = false, ())
  }

  /** Batched ingest of a `(ts LONG ns, doc STRING)` frame. The batch
   * reserves a seq range above every seq any PREVIOUS COMMIT reserved
   * (the manifest's `seqHi`) — later commits always win read-side
   * dedup against earlier ones, across restarts and across JVMs,
   * because allocation itself is part of the atomic commit. Within
   * the batch, rows are numbered by `monotonically_increasing_id`
   * (partition index · 2³³ + row), so the reserved range is
   * `numPartitions · 2³³` wide; a partition would need > 8.6 B rows
   * to overflow its slot. */
  def storeBatch(db: String, docs: DataFrame): Unit =
    storeBatch(db, docs, None)

  /** [[storeBatch]] with a DECLARED categorical column (`catPtr`, a
   * JSON pointer like `/source`): each staged file additionally
   * records its bounded distinct set of that column in the manifest,
   * so [[frame]]'s categorical overload can prune files the way time
   * stats already do. Declaration is per write — batches written
   * without it (or with a different pointer) simply never prune. */
  def storeBatch(db: String, docs: DataFrame,
      catPtr: Option[String]): Unit =
    storeBatch(db, docs, catPtr, None)

  /** [[storeBatch]] with a declared categorical column AND/OR a
   * declared NUMERIC column (`numPtr`, a JSON pointer like
   * `/quality`): each staged file additionally records the min/max of
   * that column's parsed values, so [[frame]]'s numeric overload can
   * prune a quality-band read the way time stats prune a range. */
  def storeBatch(db: String, docs: DataFrame, catPtr: Option[String],
      numPtr: Option[String]): Unit =
    storeBatch(db, docs, catPtr.toSeq, numPtr.toSeq)

  /** [[storeBatch]] with a DECLARED SET of pointers — the
   * multi-pointer manifest axis: each staged file records the bounded
   * distinct set of EVERY `catPtrs` pointer and the min/max of every
   * `numPtrs` pointer (one combined stats job per commit), so
   * compound reads ([[frameMulti]]: source AND quality AND ts) prune
   * on all axes at once. The per-file manifest footprint stays
   * bounded: ≤ [[SeriesStore.PtrsMax]] pointers, ≤
   * [[SeriesStore.CatsMax]] values per categorical pointer. The
   * FIRST pointer of each kind also populates the legacy single-axis
   * fields, so pre-r14 readers keep pruning. */
  def storeBatch(db: String, docs: DataFrame, catPtrs: Seq[String],
      numPtrs: Seq[String]): Unit = {
    require(catPtrs.size + numPtrs.size <= SeriesStore.PtrsMax,
      s"at most ${SeriesStore.PtrsMax} declared pointers per table")
    val selected = docs.select(col("ts").cast(LongType).as("ts"),
      col("doc").cast(StringType).as("doc"))
    val parts = math.max(1, selected.rdd.getNumPartitions)
    appendCommit(db, catPtrs, numPtrs) { seqBase =>
      (selected.select(col("ts"),
        (monotonically_increasing_id() + lit(seqBase)).as("seq"), col("doc")),
        seqBase + (parts.toLong << 33) - 1)
    }
    stat(db).written.increment()
  }

  /** The queryable view: latest write per key wins (couchstore Set
   * overwrite semantics, database.go:293-302).
   *
   * Scale note: the last-write-wins dedup is a full shuffle, so it
   * runs only while the snapshot is possibly-dirty (manifest `clean`
   * flag: replace commits set it, appends clear it). Reads of a
   * compacted store are plain partition-pruned scans with no
   * exchange — the usual read path for analytical workloads that
   * compact on a schedule. */
  def frame(db: String): DataFrame = frameOf(db, snapshotOf(db))

  /** Time-bounded queryable view over [fromNs, toNs): files whose
   * manifest-recorded (minTs, maxTs) miss the range are dropped before
   * Spark ever lists or footer-reads them — at 100 TB the difference
   * between O(files-in-range) and O(all-files) per narrow query (the
   * reference's B-tree subrange walk, database.go:339-364). The
   * [fromNs, toNs) row filter is ALSO applied, before the dirty-dedup
   * — which is what makes dedup exact: last-write-wins groups by `ts`,
   * every row of an in-range `ts` lives in a file whose [minTs, maxTs]
   * intersects the range, so in-range groups are complete, while an
   * out-of-range ts could dedup over a PARTIAL group (its newest copy
   * pruned) and yield a stale row — such rows are excluded, not
   * returned. Files from pre-stats manifests (no recorded rows) are
   * always scanned. */
  def frame(db: String, fromNs: Option[Long], toNs: Option[Long]): DataFrame =
    frameOf(db, snapshotOf(db), fromNs, toNs)

  /** Queryable view restricted to rows whose declared categorical
   * column (`catPtr`, the pointer [[storeBatch]]/[[compact]] recorded
   * stats for) equals `catValue` — time bounds optional. On a CLEAN
   * snapshot, files whose recorded category set lacks the value are
   * dropped before Spark lists them (the per-source/per-domain analog
   * of time pruning; [[compact]]'s `catPtr` clustering is what makes
   * the file sets narrow). On a dirty snapshot no categorical file
   * pruning happens and the filter applies AFTER last-write-wins
   * dedup — an overwrite can CHANGE a row's category, so both
   * pre-dedup filtering and pruning could resurrect a superseded
   * version; time pruning has no such hazard because ts IS the dedup
   * key. */
  def frame(db: String, fromNs: Option[Long], toNs: Option[Long],
      catPtr: String, catValue: String): DataFrame =
    frameOf(db, snapshotOf(db), fromNs, toNs, Seq((catPtr, catValue)))

  /** Queryable view restricted to rows whose declared NUMERIC column
   * (`numPtr`, the pointer [[storeBatch]]/[[compact]] recorded
   * min/max stats for) lands in `[lo, hi)` — the quality-band read.
   * On a CLEAN snapshot, files whose recorded range misses the band
   * are dropped before Spark lists them ([[compact]]'s `numPtr`
   * clustering is what makes per-file ranges narrow). Same dirty-
   * snapshot rule as the categorical overload: an overwrite can
   * CHANGE a row's value, so on dirty snapshots no numeric file
   * pruning happens and the filter applies AFTER last-write-wins
   * dedup. Legacy manifests (no recorded range) always scan. */
  def frameNum(db: String, fromNs: Option[Long], toNs: Option[Long],
      numPtr: String, lo: Option[Double], hi: Option[Double]): DataFrame =
    frameOf(db, snapshotOf(db), fromNs, toNs,
      numRanges = Seq((numPtr, lo, hi)))

  /** COMPOUND queryable view — the multi-pointer read real curation
   * tables run: rows matching EVERY categorical equality and EVERY
   * numeric band (AND semantics), time bounds optional. On a clean
   * snapshot every declared axis prunes files at the manifest level
   * at once (pointer-keyed stats, [[storeBatch]]'s multi-pointer
   * overload; [[compact]]'s multi-pointer clustering is what makes
   * the per-file sets/bands narrow on every axis), so a
   * (source AND quality-band AND ts) read touches the files of the
   * intersection, not of any single axis. Same dirty-snapshot rule
   * as the single-axis overloads. */
  def frameMulti(db: String, fromNs: Option[Long], toNs: Option[Long],
      catEqs: Seq[(String, String)],
      numBands: Seq[(String, Option[Double], Option[Double])] = Nil)
      : DataFrame =
    frameOf(db, snapshotOf(db), fromNs, toNs, catEqs, numBands)

  /** The live files a [fromNs, toNs) scan touches after manifest-stat
   * pruning — the spec/diagnostic surface for the file-skipping path. */
  private[graft] def scanFiles(db: String, fromNs: Option[Long] = None,
      toNs: Option[Long] = None, cat: Option[String] = None,
      numBand: Option[(Option[Double], Option[Double])] = None,
      catEqs: Seq[(String, String)] = Nil,
      numBands: Seq[(String, Option[Double], Option[Double])] = Nil)
      : Seq[CommitLog.FileEntry] = {
    val snap = snapshotOf(db)
    val base = cat match {
      // same clean-only rule as frameOf — the diagnostic must mirror
      // exactly what a read would scan
      case Some(v) if snap.clean => snap.files.filter(_.mayContainCat(v))
      case _ => snap.files
    }
    val banded = numBand match {
      case Some((lo, hi)) if snap.clean =>
        base.filter(_.mayContainNum(lo, hi))
      case _ => base
    }
    val multi =
      if (snap.clean)
        banded.filter(f =>
          catEqs.forall { case (p, v) => f.mayContainCatAt(p, v) } &&
          numBands.forall { case (p, lo, hi) => f.mayContainNumAt(p, lo, hi) })
      else banded
    multi.filter(_.mayOverlap(fromNs, toNs))
  }

  /** Time travel: the queryable view as of committed `version`
   * ([[history]] lists them). Exact while the version's files
   * survive — a replace (compact/delete) keeps its predecessors'
   * files on disk until [[vacuum]]'s grace expires, so recent
   * versions stay readable; vacuumed versions fail at scan time. */
  def frameAt(db: String, version: Long, fromNs: Option[Long] = None,
      toNs: Option[Long] = None): DataFrame = {
    require(exists(db), s"no such database: $db")
    ensureMigrated(db)
    frameOf(db, logOf(db).snapshotAt(version), fromNs, toNs)
  }

  /** The db's commit history, ascending (create/append/replace with
   * file counts and seq watermarks) — the audit surface a table
   * format gets for free from its log. On long-lived dbs the log is
   * pruned past a checkpoint floor (CommitLog.prune), so the listing
   * is the create manifest plus the most recent ~2 checkpoint windows,
   * not the table's whole life. */
  def history(db: String): Seq[CommitLog.Manifest] = {
    require(exists(db), s"no such database: $db")
    ensureMigrated(db)
    logOf(db).commitsSince(0)
  }

  private def snapshotOf(db: String): CommitLog.Snapshot = {
    require(exists(db), s"no such database: $db")
    ensureMigrated(db)
    val snap = logOf(db).snapshot()
    require(snap.version >= 1, s"no such database: $db")
    snap
  }

  private def frameOf(db: String, snap: CommitLog.Snapshot,
      fromNs: Option[Long] = None, toNs: Option[Long] = None,
      catEqs: Seq[(String, String)] = Nil,
      numRanges: Seq[(String, Option[Double], Option[Double])] = Nil)
      : DataFrame = {
    // categorical/numeric pruning ONLY on clean snapshots: dirty, a
    // pruned file could hold the NEWEST version of a ts whose older
    // copy (different category/value) survives — see the overloads.
    // COMPOUND predicates prune on every declared axis at once
    // (pointer-keyed stats; AND semantics, so filters compose)
    val catFiles =
      if (catEqs.nonEmpty && snap.clean)
        snap.files.filter(f => catEqs.forall { case (ptr, v) =>
          f.mayContainCatAt(ptr, v) })
      else snap.files
    val numFiles =
      if (numRanges.nonEmpty && snap.clean)
        catFiles.filter(f => numRanges.forall { case (ptr, lo, hi) =>
          f.mayContainNumAt(ptr, lo, hi) })
      else catFiles
    val files = numFiles.filter(_.mayOverlap(fromNs, toNs))
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else {
      val paths = files.map(f => dbPath(db).resolve(f.name).toString)
      val raw0 = spark.read.schema(schema).parquet(paths: _*)
      // bounds given → apply the row filter HERE, before the dirty
      // dedup: an out-of-range ts whose newest copy lives in a pruned
      // file would otherwise dedup over a partial group and emit a
      // STALE row. In-range groups are complete by construction, so
      // filter-then-dedup is exact — and the callers' re-filter
      // becomes a redundant (harmless) predicate.
      var raw = raw0
      fromNs.foreach(n => raw = raw.filter(col("ts") >= n))
      toNs.foreach(n => raw = raw.filter(col("ts") < n))
      val resolved =
        if (snap.clean) raw
        else raw.groupBy(col("ts"))
          .agg(max(col("seq")).as("seq"), max_by(col("doc"), col("seq")).as("doc"))
      // the categorical/numeric row filters run AFTER dedup (an
      // overwrite can change the value; ts cannot change — that
      // asymmetry is why the time filter may run before and these
      // must not)
      val catDone = catEqs.foldLeft(resolved) { case (d, (ptr, v)) =>
        d.filter(SeriesStore.catValueCol(ptr) === lit(v))
      }
      numRanges.foldLeft(catDone) { case (d, (ptr, lo, hi)) =>
        var f = d.filter(SeriesStore.numValueCol(ptr).isNotNull)
        lo.foreach(v => f = f.filter(SeriesStore.numValueCol(ptr) >= v))
        hi.foreach(v => f = f.filter(SeriesStore.numValueCol(ptr) < v))
        f
      }
    }
  }

  /** The db's committed log version — every mutation is exactly one
   * commit, so version advancement tracks table-state change
   * regardless of filesystem timestamp granularity. */
  private[sources] def currentVersion(db: String): Long =
    logOf(db).latestVersion()

  /** (table incarnation UID, committed version) — the query cache's
   * storage identity, computed on EVERY cache key: the UID comes
   * from one small manifest read and the version from one directory
   * listing, never a full snapshot reconstruction. The UID
   * distinguishes a dropped-and-recreated db whose fresh log replays
   * the same version NUMBERS; version equality alone would alias the
   * two incarnations and serve stale results across a drop. */
  private[sources] def tableState(db: String): (String, Long) = {
    if (!exists(db)) return ("", 0L)
    ensureMigrated(db)
    val log = logOf(db)
    (log.tableId(), log.latestVersion())
  }

  /** GET /{db}/{key} point get (handlers.go:422-429). */
  def get(db: String, key: String): Option[String] = {
    val ns = TimeLib.parseKey(key)
    if (ns < 0) None
    else frame(db, Some(ns), if (ns == Long.MaxValue) None else Some(ns + 1))
      .filter(col("ts") === lit(ns)).select("doc")
      .collect().headOption.map(_.getString(0))
  }

  /** GET /{db}/_all range scan → (key STRING, ts LONG, doc STRING)
   * ascending, `limit` rows (handlers.go:331-379). Range is [from, to).
   * `version` reads an older committed snapshot (time travel). */
  def all(db: String, from: Option[String] = None, to: Option[String] = None,
      limit: Int = Int.MaxValue, version: Option[Long] = None): DataFrame = {
    val fromNs = from.map(parseBound)
    val toNs = to.map(parseBound)
    var f = version.fold(frame(db, fromNs, toNs))(frameAt(db, _, fromNs, toNs))
    fromNs.foreach(n => f = f.filter(col("ts") >= n))
    toNs.foreach(n => f = f.filter(col("ts") < n))
    f.orderBy(col("ts")).limit(limit)
      .select(SeriesEngine.canonicalKeyCol(col("ts")).as("key"),
        col("ts"), col("doc"))
  }

  /** GET /{db}/_dump: JSON-lines, one `{"key": doc}` per line, streamed
   * without collecting the frame (handlers.go:381-420). */
  def dump(db: String, from: Option[String] = None, to: Option[String] = None,
      limit: Int = Int.MaxValue, version: Option[Long] = None): Iterator[String] =
    all(db, from, to, limit, version).select("key", "doc").toLocalIterator()
      .asScala.map(r => s"""{"${r.getString(0)}": ${r.getString(1)}}""")

  /** DELETE /{db}/_bulk range delete; returns deleted count
   * (handlers.go:230-281). Copy-rewrite + atomic swap — the delete
   * inherently compacts, so the reference's optional `?compact=true`
   * follow-up (handlers.go:269-276) is always-on here. */
  def deleteRange(db: String, from: Option[String], to: Option[String]): Long = {
    var cond = lit(true)
    from.foreach(s => cond = cond && col("ts") >= parseBound(s))
    to.foreach(s => cond = cond && col("ts") < parseBound(s))
    val (before, written) = rewrite(db, _.filter(!cond), countBase = true)
    stat(db).deletes.increment()
    before - written
  }

  private def parseBound(s: String): Long =
    TimeLib.parseTime(s).getOrElse(
      throw new IllegalArgumentException(s"unparsable timestamp: $s"))

  /**
   * ID-KEYED delete — the takedown primitive: remove exactly the
   * documents whose keys (timestamps, the store's doc ids —
   * handlers.go's `{db}/{key}` addressing) are listed, and return how
   * many rows were removed (all copies of a key on dirty snapshots).
   *
   * Unlike [[deleteRange]]'s whole-table copy-rewrite, this rewrites
   * ONLY the files whose manifest ts-range covers a target key — at
   * 100 TB a takedown of a handful of documents touches a handful of
   * files, not the table. Kept files are untouched (verbatim, stats
   * preserved), so a clean snapshot stays clean: removing rows can
   * never introduce duplicate keys. Concurrent appends rebase into
   * the replace commit like every rewrite here — but note an append
   * that re-inserts a deleted key AFTER the delete's snapshot is a
   * new write and survives (delete-then-write ordering is the
   * caller's contract, same as the reference's DELETE-then-PUT).
   *
   * Standing artifacts derived from the corpus (gram/corpus/IVF/PQ
   * indexes, sketches) do NOT update here — propagate with their own
   * delete operators ([[graft.operators.Dedup.corpusIndexDelete]],
   * `gramIndexDelete`, [[graft.operators.Similarity.ivfIndexDelete]],
   * `pqDelete`) or rebuild where deletion is non-invertible (KMV/MG
   * sketches, Bloom filters — see those operators' scaladoc).
   */
  def deleteKeys(db: String, keys: Seq[String],
      catPtrs: Seq[String] = Nil, numPtrs: Seq[String] = Nil): Long = {
    if (keys.isEmpty) return 0L
    // driver-side parse keeps the Seq form's exact error contract
    // (throw naming the bad string before any job runs)
    val ks = keys.map(parseBound).distinct
    import spark.implicits._
    deleteKeys(db, ks.toDF("key"), catPtrs, numPtrs)
  }

  /** [[deleteKeys]] for MASS takedown batches (GDPR / opt-out lists of
   * 10⁵–10⁷ keys) — the keys arrive as a DataFrame and never collapse
   * to driver-side literals: the Seq form's `isin(ks: _*)` predicate
   * is a codegen/driver blowup at that size, and its per-file
   * `ks.exists` selection loop is O(|files|·|keys|). Here file
   * selection is a SORTED-INTERVAL probe (the manifest's [minTs,
   * maxTs] ranges broadcast as three sorted arrays; each key
   * binary-searches its stabbed files — O(|keys|·log |files|) spread
   * across the cluster, driver collects only affected file ordinals,
   * bounded by |files|) and the rewrite is a key-frame ANTI-JOIN
   * (broadcast under [[SeriesStore.DeleteKeysBroadcastMax]], shuffle
   * hash above — AQE's planning domain). Cost tracks AFFECTED files,
   * not |files|·|keys| (BASELINE.md's mass-takedown item; the probe
   * that measured it, ProbeMassDelete, is in git at f070dfa).
   *
   * `keys`' first column is the key: LONG = epoch-ns as stored,
   * STRING = parsed by the store's lenient parser with a loud
   * per-value failure on unparsable input ([[parseBound]]'s contract,
   * distributed). Null keys are ignored (a null names no document).
   * Returns rows removed (all copies of a key on dirty snapshots),
   * like the Seq form.
   *
   * When `catPtrs`/`numPtrs` are empty the declared pointer axes are
   * RECOVERED from the affected files' own manifest entries (their
   * `catsBy`/`numBy` record the pointer expressions), so a takedown
   * does not silently degrade the touched files to ts-only pruning
   * when the caller forgets to re-declare them.
   */
  def deleteKeys(db: String, keys: DataFrame): Long =
    deleteKeys(db, keys, Nil, Nil)

  def deleteKeys(db: String, keys: DataFrame, catPtrs: Seq[String],
      numPtrs: Seq[String]): Long = {
    val kname = keys.columns.headOption.getOrElse(
      throw new IllegalArgumentException("deleteKeys: keys frame has no columns"))
    val parsed = keys.schema.head.dataType match {
      case LongType => keys.select(col(kname).as("__k"))
      case StringType => keys
        .select(graft.functions.TimeParseExpr.timeParse(col(kname)).as("__k"),
          col(kname).as("__raw"))
        // parseBound's throw-on-unparsable, distributed: fail the job
        // naming the value rather than silently skipping a takedown
        .where(assert_true(col("__k").isNotNull || col("__raw").isNull,
          concat(lit("unparsable timestamp: "), col("__raw"))).isNull)
        .select(col("__k"))
      case dt => throw new IllegalArgumentException(
        s"deleteKeys: key column must be LONG ns or STRING, got $dt")
    }
    val ks = parsed.filter(col("__k").isNotNull).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nKeys = ks.count()
      if (nKeys == 0) return 0L
      deleteKeyFrame(db, ks, nKeys, catPtrs, numPtrs)
    } finally ks.unpersist()
  }

  private def deleteKeyFrame(db: String, ks: DataFrame, nKeys: Long,
      catPtrs: Seq[String], numPtrs: Seq[String]): Long = {
    val deleted = commitWrite(db, "deleteKeys") { snap =>
      // sorted-interval stab: stats files sorted by minTs broadcast
      // as (mins, maxs, prefix-max-of-maxs); per key, binary-search
      // the last minTs <= k and walk left while the prefix max still
      // reaches k — O(log F + stabbed + overlap-depth) per key, the
      // interval-tree walk without the tree. Stat-less files (legacy
      // manifests) are always affected, as everywhere.
      val statFiles = snap.files.filter(f => f.hasStats && f.rows > 0)
        .sortBy(_.minTs).toArray
      val mins = statFiles.map(_.minTs)
      val maxs = statFiles.map(_.maxTs)
      val pmax = maxs.scanLeft(Long.MinValue)(math.max).tail
      val bc = spark.sparkContext.broadcast((mins, maxs, pmax))
      val stabbed = try {
        val probe = udf((k: Long) =>
          SeriesStore.stabIntervals(bc.value._1, bc.value._2, bc.value._3, k))
        ks.select(explode(probe(col("__k"))).as("__i")).distinct()
          .collect().map(_.getInt(0))
      } finally bc.unpersist()
      val affected =
        stabbed.toSeq.sorted.map(statFiles) ++ snap.files.filter(!_.hasStats)
      if (affected.isEmpty) CommitLog.NoChange(0L)
      else {
        val affectedNames = affected.map(_.name).toSet
        val kept = snap.files.filterNot(f => affectedNames(f.name))
        // pointer-axis recovery: the affected files' own manifest
        // entries know which pointers were declared — without this,
        // a takedown with defaulted ptrs would quietly weaken the
        // touched files to ts-only pruning until the next declared
        // compact (the kept files keep their stats either way)
        val effCat =
          if (catPtrs.nonEmpty) catPtrs
          else affected.flatMap(_.catsBy).flatMap(_.keys).distinct
        val effNum =
          if (numPtrs.nonEmpty) numPtrs
          else affected.flatMap(_.numBy).flatMap(_.keys).distinct
        val paths = affected.map(f => dbPath(db).resolve(f.name).toString)
        val rows = spark.read.schema(schema).parquet(paths: _*)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // anti-join rewrite: broadcast the key frame when it is
          // small (the common takedown), shuffle-hash when a mass
          // batch would not fit an executor broadcast
          val keyJoin =
            if (nKeys <= SeriesStore.DeleteKeysBroadcastMax) broadcast(ks)
            else ks
          val hit = rows.join(keyJoin, col("ts") === col("__k"),
            "left_semi").count()
          val survivors = rows.join(keyJoin, col("ts") === col("__k"),
            "left_anti")
          val n = survivors.count()
          val staged =
            if (n == 0) Seq.empty[CommitLog.FileEntry]
            else {
              val parts = math.max(1, affected.size)
              // declared pointers re-record the rewritten files'
              // stats (kept files keep theirs) — without them the
              // survivors' files carry ts stats only until the next
              // declared compact, compactSmall's documented rule
              stage(db, (if (parts == 1) survivors.coalesce(1)
                else survivors.repartitionByRange(parts, col("ts")))
                .sortWithinPartitions("ts"), effCat, effNum)
            }
          // kept + rewritten files are duplicate-free iff the
          // snapshot was; rebased appends dirty as usual
          CommitLog.Staged("replace", staged, snap.lastSeq, snap.clean, hit,
            keep = kept)
        } finally rows.unpersist()
      }
    }
    stat(db).deletes.increment()
    deleted
  }

  /** POST /{db}/_compact: physically drop overwritten versions and
   * merge small files (database.go:136-171 — the table-format
   * OPTIMIZE). Replaced files stay on disk for in-flight readers
   * until [[vacuum]]. */
  def compact(db: String): Unit = compact(db, None)

  /** [[compact]] with a DECLARED categorical column: the rewrite
   * range-partitions by (category, ts) instead of ts alone and
   * records each output file's category set in the manifest — after
   * this, a per-source/per-domain read ([[frame]]'s `catPtr`
   * overload) touches only that category's files, the curation-table
   * analog of the time-subrange walk. Tradeoff made explicit: ts
   * ranges then interleave ACROSS categories, so pure-time pruning
   * coarsens to per-category file runs — declare the column the
   * table is actually read by. `rowsPerFile` caps the rows per output
   * file (default 4M rows ≈ a 128 MB-class file). Below the cap the
   * count has a per-core floor: a table of at least
   * [[SeriesStore.MinRowsPerCoreFile]] rows per core is written as at
   * least one file per core (`defaultParallelism`), so a whole-series
   * read keeps every core busy; smaller tables stay one file. */
  def compact(db: String, catPtr: Option[String],
      rowsPerFile: Long = 4000000L): Unit =
    compact(db, catPtr, rowsPerFile, None)

  /** [[compact]] with a DECLARED SET of pointers: the rewrite
   * range-partitions by (cat₁..catₙ, num₁..numₘ, ts) and records
   * each output file's stats on EVERY declared axis — after this a
   * compound read ([[frameMulti]]) touches only files narrow on all
   * of them. The single-axis tradeoff compounds too: each later axis
   * subdivides within the earlier ones, so declare pointers in the
   * table's dominant read order. */
  def compactMulti(db: String, catPtrs: Seq[String], numPtrs: Seq[String],
      rowsPerFile: Long = 4000000L): Unit = {
    require(rowsPerFile > 0, "rowsPerFile must be positive")
    require(catPtrs.size + numPtrs.size <= SeriesStore.PtrsMax,
      s"at most ${SeriesStore.PtrsMax} declared pointers per table")
    rewrite(db, identity, countBase = false, catPtrs, rowsPerFile, numPtrs)
    stat(db).compacts.increment()
  }

  /** [[compact]] with a DECLARED NUMERIC column (`numPtr`, a JSON
   * pointer like `/quality`): without a categorical declaration the
   * rewrite range-partitions by (value, ts) and records each output
   * file's value min/max in the manifest — after this, a
   * quality-band read ([[frame]]'s numeric overload) touches only
   * the band's files. The same tradeoff as categorical clustering:
   * ts ranges interleave across bands, so declare the axis the table
   * is actually read by. */
  def compact(db: String, catPtr: Option[String], rowsPerFile: Long,
      numPtr: Option[String]): Unit = {
    require(rowsPerFile > 0, "rowsPerFile must be positive")
    rewrite(db, identity, countBase = false, catPtr.toSeq, rowsPerFile,
      numPtr.toSeq)
    stat(db).compacts.increment()
  }

  /** Incremental (bin-packing) compaction: rewrite ONLY the live
   * files smaller than `smallBytes`, merging them into range-
   * partitioned right-sized files, and keep every already-sized file
   * untouched — the table-format OPTIMIZE a 100 TB table actually
   * runs. A steady-state ingest accretes one small file per commit;
   * [[compact]]'s full-table rewrite would move petabytes to fix
   * kilobytes, while this path's cost tracks the small-file volume
   * alone. Rows are copied VERBATIM (no last-write-wins resolution —
   * that requires reading every file a key appears in, exactly what
   * this avoids), so the snapshot's `clean` flag is preserved: a
   * clean table stays clean (no duplicate keys existed), a dirty one
   * stays dirty and read-side dedup keeps applying. Concurrent
   * appends rebase into the kept set, like [[compact]]. Output is
   * sized by bytes alone (one file per 128 MB), with no per-core floor
   * as [[compact]] has: per-core files of a small table would all be
   * under `smallBytes`, so every call would merge and split them
   * again. Returns (files merged, files kept). */
  def compactSmall(db: String, smallBytes: Long = 32L << 20): (Int, Int) =
    compactSmall(db, smallBytes, None, None)

  /** [[compactSmall]] with declared categorical/numeric columns: the
   * merged output files re-record their stats (an undeclared
   * incremental compact would otherwise write stat-less files and
   * silently degrade category/band pruning until the next full
   * compact — kept files keep whatever stats they had). */
  def compactSmall(db: String, smallBytes: Long,
      catPtr: Option[String], numPtr: Option[String]): (Int, Int) = {
    val merged = commitWrite(db, "compactSmall") { snap =>
      val (small, big) = snap.files.partition(_.bytes < smallBytes)
      if (small.size < 2) CommitLog.NoChange((0, snap.files.size)) // nothing to merge
      else {
        val paths = small.map(f => dbPath(db).resolve(f.name).toString)
        val rows = spark.read.schema(schema).parquet(paths: _*)
        val totalBytes = small.map(_.bytes).sum
        val partitions = math.max(1, (totalBytes / (128L << 20)).toInt)
        val sized =
          if (partitions == 1) rows.coalesce(1)
          else rows.repartitionByRange(partitions, col("ts"))
        val staged = stage(db, sized.sortWithinPartitions("ts"),
          catPtr.toSeq, numPtr.toSeq)
        // verbatim copy: cleanliness is whatever it was, and any
        // rebased append dirties it as usual
        CommitLog.Staged("replace", staged, snap.lastSeq, snap.clean,
          (small.size, big.size), keep = big)
      }
    }
    stat(db).compacts.increment()
    merged
  }

  /** Copy-compact as a `replace` commit; returns (rows read, rows
   * written). The transformed input is cached across its two passes
   * (sizing count + write). Range partitioning by ts keeps per-file
   * min/max tight so file-level statistics prune narrow time ranges;
   * hash partitioning would spread every file across the whole
   * series. The file count is capped by `rowsPerFile` and floored at
   * one file per core for large tables
   * ([[SeriesStore.MinRowsPerCoreFile]]).
   *
   * Concurrency: the rewrite is computed against one snapshot and
   * committed through [[CommitLog.commit]]: appends that land in
   * between are rebased into it, a concurrent replace makes it
   * recompute from the new state. */
  private def rewrite(db: String, xform: DataFrame => DataFrame,
      countBase: Boolean, catPtrs: Seq[String] = Nil,
      rowsPerFile: Long = 4000000L,
      numPtrs: Seq[String] = Nil): (Long, Long) = commitWrite(db, "rewrite") { snap =>
    val base = frameOf(db, snap)
    // the base count is an extra full-table pass (incl. the dedup
    // shuffle on dirty snapshots): only deleteRange's deleted-row
    // arithmetic needs it, compaction must not pay for it
    val before = if (countBase) base.count() else -1L
    val cached = xform(base)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = cached.count()
      val partitions = math.max(1L, math.max(n / rowsPerFile,
        math.min(spark.sparkContext.defaultParallelism.toLong,
          n / SeriesStore.MinRowsPerCoreFile))).toInt
      // declared category → cluster files by (category, ts) so the
      // manifest's per-file category sets come out narrow; declared
      // numeric column → cluster by (value, ts) so per-file min/max
      // bands come out tight (the quality-band read's layout); plain
      // compact keeps the ts-only layout (tight time pruning)
      // COMPOUND clustering: every declared categorical pointer,
      // then every numeric pointer, then ts — files come out narrow
      // on ALL declared axes at once, which is what makes the
      // multi-pointer manifest prune ([[frameMulti]]) effective
      val rangeCols =
        catPtrs.map(SeriesStore.catValueCol) ++
        numPtrs.map(SeriesStore.numValueCol) ++ Seq(col("ts"))
      val sized =
        if (partitions == 1) cached.coalesce(1)
        else cached.repartitionByRange(partitions, rangeCols: _*)
      val staged = stage(db,
        sized.sortWithinPartitions(rangeCols: _*), catPtrs, numPtrs)
      // the rewrite is duplicate-free; rebased appends dirty it
      CommitLog.Staged("replace", staged, snap.lastSeq, clean = true,
        (before, n))
    } finally cached.unpersist()
  }

  /** GET /{db}/_query — the analytical path (SeriesEngine). */
  def query(db: String, q: SeriesQuery): DataFrame =
    SeriesEngine.query(boundedFrame(db, q), q)

  /** The query's view after manifest-stat file pruning. Unparsable
   * bounds prune nothing here — [[SeriesEngine.query]] raises its own
   * error for them, keeping the error surface in one place. The engine
   * re-applies the same bounds row-level (pruning is file-granular). */
  private def boundedFrame(db: String, q: SeriesQuery): DataFrame =
    frame(db, q.from.flatMap(TimeLib.parseTime), q.to.flatMap(TimeLib.parseTime))

  /** The reference's response shape: one JSON object keyed by
   * bucket-start ms, each value the array of reducer results
   * (handlers.go:170-227). Buckets emitted in ascending order (the
   * reference emits in completion order; SURVEY.md §7.5). Encoding is
   * kind-aware, not sniffed: identity/any values arrive from the
   * engine already JSON-encoded (a scalar string starting with '{' or
   * '[' stays quoted), key/distinct sets are quoted with full control-
   * char escaping, numerics go through Go's %v surface form. */
  def queryJson(db: String, q: SeriesQuery): String =
    queryJsonChunks(db, q).mkString

  /** Streaming form of [[queryJson]]: one chunk per bucket as rows
   * arrive from the cluster, for chunked HTTP emit without buffering
   * the response (the reference streams buckets the same way,
   * handlers.go:170-227). */
  def queryJsonChunks(db: String, q: SeriesQuery): Iterator[String] =
    queryJsonChunks(db, q, SeriesEngine.PostProcess())

  /** [[queryJsonChunks]] with derived-series post-processing
   * ([[SeriesEngine.PostProcess]]): gap-filled buckets emit null
   * reducer values; smooth/anomaly results are APPENDED to each
   * bucket's array after the reducer values, in [[SeriesEngine
   * .PostProcess.derived]] order — array arity is `#reducers +
   * #derived`, constant across the response. */
  def queryJsonChunks(db: String, q: SeriesQuery,
      post: SeriesEngine.PostProcess): Iterator[String] = {
    stat(db).queries.increment()
    var df = SeriesEngine.query(boundedFrame(db, q), q, jsonEncoded = true)
    if (!post.isNoop) {
      val base = df.columns.toSeq // bucket_ms +: one col per reducer
      if (post.needsNumeric) {
        require(post.valueIndex >= 0 && post.valueIndex < q.reducers.length,
          s"post_col ${post.valueIndex} out of range")
        require(SeriesEngine.numericReducers.contains(q.reducers(post.valueIndex)),
          s"smooth/seasonal/anomaly/changepoint need a numeric reducer " +
            s"at post_col, got '${q.reducers(post.valueIndex)}'")
      }
      // lazy: only the numeric post-ops (whose guards above validated
      // the index) dereference it — a fill-only request with a stray
      // post_col must not throw AIOOBE here
      def vcol = col(df.columns(post.valueIndex + 1))
      if (post.fill) df = SeriesStats.gapFill(df, q.groupMs).drop("is_gap")
      post.smoothRoll.foreach { n =>
        df = SeriesStats.smooth(df, vcol, n, post.smoothAlpha, post.smoothLags)
      }
      post.seasonalPeriod.foreach { p =>
        df = SeriesStats.seasonal(df, vcol, q.groupMs, p).drop("phase")
      }
      post.anomaly.foreach(t => df = SeriesStats.anomaly(df, vcol, t))
      if (post.changepoint) df = SeriesStats.changepoint(df, vcol)
      // fixed output shape + restored bucket order (the joins above
      // do not preserve the engine's sort); one partition, like the
      // engine's own output sort
      df = df.select((base ++ post.derived).map(col): _*)
        .coalesce(1).sortWithinPartitions(col(base.head))
    }
    val rows = df.toLocalIterator().asScala
    var first = true
    Iterator.single("{") ++ rows.map { row =>
      val sb = new StringBuilder
      if (!first) sb.append(',')
      first = false
      sb.append('"').append(row.getLong(0)).append("\":[")
      q.reducers.indices.foreach { i =>
        if (i > 0) sb.append(',')
        sb.append(jsonCell(q.reducers(i), row.get(i + 1)))
      }
      post.derived.zipWithIndex.foreach { case (name, j) =>
        val v = row.get(1 + q.reducers.length + j)
        sb.append(',').append(
          if (v == null) "null"
          else if (name.startsWith("is_")) v.toString // boolean flags
          else jsonCell("sum", v)) // numeric derived: Go %v surface
      }
      sb.append(']').toString
    } ++ Iterator.single("}")
  }

  private implicit class IterAdapter[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = new Iterator[T] {
      def hasNext: Boolean = it.hasNext
      def next(): T = it.next()
    }
  }

  /** One reducer result cell → JSON, by reducer kind. */
  private def jsonCell(red: String, v: Any): String = red match {
    case _ if v == null => "null"
    case "identity" => // elements pre-encoded by the engine (or null)
      v.asInstanceOf[scala.collection.Seq[String]]
        .map(x => if (x == null) "null" else x).mkString("[", ",", "]")
    case "any" => v.toString // pre-encoded by the engine
    case "distinct" | "obj_keys" | "obj_distinct_keys" =>
      v.asInstanceOf[scala.collection.Seq[String]]
        .map(jsonQuote).mkString("[", ",", "]")
    case "count" => v.toString
    case _ => v match { // numeric reducers
      case d: java.lang.Double =>
        if (d.isNaN || d.isInfinite) "null" else graft.functions.GoFormat.goDouble(d)
      case other => other.toString
    }
  }

  private def jsonQuote(s: String): String = SeriesStore.jsonQuote(s)
}

object SeriesStore {
  val dbExt = ".series"
  val schema: StructType = StructType(Seq(
    StructField("ts", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("doc", StringType, nullable = false)))

  /** Per-file categorical-set cap: a source/domain/shard column has a
   * handful of values per time-clustered file; a column that exceeds
   * this in one file is not categorical enough to prune on, so the
   * file records nothing (and is never pruned). */
  val CatsMax = 16

  /** Declared-pointer cap per table: bounds the per-file manifest
   * footprint (≤ PtrsMax stat entries per file) and the per-commit
   * stats job width. Real curation tables prune on a handful of axes
   * (source, quality, language, ts); more belongs in partitioning. */
  val PtrsMax = 8

  /** [[SeriesStore.deleteKeys]]' anti-join broadcast cutover: a LONG
   * key frame at this size is ~8 MB serialized — comfortably under
   * executor broadcast budgets; above it the join shuffles both
   * sides (the mass-batch path). */
  val DeleteKeysBroadcastMax: Long = 1000000L

  /** Per-core file floor of a full rewrite ([[SeriesStore.compact]],
   * `deleteRange`), which writes `max(n / rowsPerFile, min(cores,
   * n / MinRowsPerCoreFile))` files (at least 1) for `n` rows: once a
   * table holds this many rows per core, it is written as at least one
   * ts-range file per core, so a whole-series read runs one scan task
   * per core instead of one. 16,384 rows is ~64 ms of JSON-pointer
   * parsing at ~4 µs/row, about 5× the ~13 ms per-task floor of a
   * local stage; smaller tables stay one file. */
  val MinRowsPerCoreFile = 16384L

  /** Interval stabbing for [[deleteKeys]]' file selection, executed
   * per key on the executors: `mins`/`maxs` are the stat files'
   * ts-ranges sorted by `mins`, `pmax(i) = max(maxs(0..i))`. Binary-
   * search the last `mins(i) <= k`, then walk left while `pmax`
   * still reaches `k`, emitting every file whose own range covers it
   * — O(log F + answers + overlap-depth), never O(F). */
  private[sources] def stabIntervals(mins: Array[Long], maxs: Array[Long],
      pmax: Array[Long], k: Long): Seq[Int] = {
    var lo = 0
    var hi = mins.length - 1
    var last = -1
    while (lo <= hi) {
      val m = (lo + hi) >>> 1
      if (mins(m) <= k) { last = m; lo = m + 1 } else hi = m - 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = last
    while (i >= 0 && pmax(i) >= k) {
      if (maxs(i) >= k) out += i
      i -= 1
    }
    out.toSeq
  }

  /** The declared categorical column: a JSON-pointer scalar out of
   * `doc`, stringified by the engine's canonical Go-`%v` rules — the
   * SAME representation at stat-record time and predicate time, so
   * equality pruning and the row filter can never disagree. */
  private[graft] def catValueCol(ptr: String) =
    graft.functions.JsonPointersExpr.jsonPointers(col("doc"), Seq(ptr))
      .getField("p0").getField("str")

  /** The declared numeric column: a JSON-pointer scalar out of `doc`
   * parsed by the engine's own float rules (the pointer struct's
   * `num` field) — the SAME value at stat-record time and predicate
   * time, so range pruning and the row filter can never disagree. */
  private[graft] def numValueCol(ptr: String) =
    graft.functions.JsonPointersExpr.jsonPointers(col("doc"), Seq(ptr))
      .getField("p0").getField("num")

  case class DbInfo(docCount: Long, spaceUsed: Long, lastSeq: Long)

  /** JSON string literal with full escaping (incl. control chars). */
  private[graft] def jsonQuote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Manifest entry for a parquet data file: name + size + per-file
   * `ts` statistics from the parquet footer (min, max, row count).
   * Any failure to read stats degrades to "stats unknown" — the file
   * is then always scanned, never wrongly skipped. One small local
   * footer read per freshly committed file; readers never pay it. */
  private[sources] def fileEntry(file: Path): CommitLog.FileEntry = {
    val name = file.getFileName.toString
    val bytes = Files.size(file)
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toUri),
        new org.apache.hadoop.conf.Configuration())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        var min = Long.MaxValue
        var max = Long.MinValue
        var rows = 0L
        var statsOk = true
        r.getFooter.getBlocks.forEach { b =>
          rows += b.getRowCount
          var found = false
          b.getColumns.forEach { c =>
            if (c.getPath.toDotString == "ts") {
              found = true
              val st = c.getStatistics
              if (st == null || !st.hasNonNullValue) statsOk = false
              else (st.genericGetMin, st.genericGetMax) match {
                case (lo: java.lang.Long, hi: java.lang.Long) =>
                  min = math.min(min, lo.longValue)
                  max = math.max(max, hi.longValue)
                case _ => statsOk = false // ts not INT64 — foreign file
              }
            }
          }
          if (!found) statsOk = false
        }
        if (rows == 0) CommitLog.FileEntry(name, bytes, 0L, 0L, 0L)
        else if (statsOk) CommitLog.FileEntry(name, bytes, min, max, rows)
        else CommitLog.FileEntry(name, bytes)
      } finally r.close()
    } catch { case _: Exception => CommitLog.FileEntry(name, bytes) }
  }

  def validJson(s: String): Boolean =
    try { JsonPointersExpr.mapper.readTree(s); true }
    catch { case _: Exception => false }

  /** The legacy entries an adoption attempt may still commit against
   * snapshot `snap`: drops names the snapshot has ever referenced
   * (a concurrent adopter won the race) and files no longer on disk
   * (a concurrent compact+vacuum retired them mid-adoption) — the
   * per-attempt recheck that keeps a lost race from double-adopting
   * or committing references to deleted files. */
  private[sources] def adoptable(dir: Path, entries: Seq[CommitLog.FileEntry],
      snap: CommitLog.Snapshot): Seq[CommitLog.FileEntry] =
    entries.filter(e => !snap.adopted.contains(e.name) &&
      Files.isRegularFile(dir.resolve(e.name)))

  /** Adoption's commit attempt ([[SeriesStore.ensureMigrated]]): the
   * adoptable set is re-derived against EACH snapshot, so a lost race
   * never re-commits what the winner already referenced. Clean (a
   * `replace`) only when the marker says so and nothing else landed
   * first: with a concurrent append in the snapshot, the union needs
   * the read-side dedup regardless of the marker. No cleanup: the
   * "staged" files are the user's legacy files. */
  private[sources] def adoption(dir: Path, entries: Seq[CommitLog.FileEntry],
      maxSeq: Long, markerClean: Boolean)(
      snap: CommitLog.Snapshot): CommitLog.Attempt[Unit] = {
    val fresh = adoptable(dir, entries, snap)
    val asClean = markerClean && snap.files.isEmpty
    if (fresh.isEmpty) CommitLog.NoChange(()) // all adopted elsewhere
    else CommitLog.Staged(if (asClean) "replace" else "append", fresh,
      maxSeq, asClean, ())
  }
}
