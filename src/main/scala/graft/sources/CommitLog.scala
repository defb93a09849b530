package graft.sources

import com.fasterxml.jackson.databind.JsonNode

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/**
 * Per-database transactional commit log — the cross-process write
 * protocol behind [[SeriesStore]]. The reference serializes all
 * writers through one per-DB goroutine over couchstore's
 * crash-consistent B-tree (database.go:175-254, 275-302); at cluster
 * scale the equivalent is a table-format commit log (the public
 * Delta/Iceberg design): immutable, uniquely-named data files plus an
 * ordered log of JSON manifests, where **publishing log entry N+1 is
 * the one atomic, contended operation**: the manifest is written in
 * full to a temp file, then hard-linked to its version name, which
 * fails if the name exists. Writers race; exactly one wins the link,
 * losers re-read the new state and retry ([[CommitLog.commit]]), and
 * a reader never sees a partly written manifest. Nothing else needs
 * cross-process coordination:
 *
 *  - data files are written once under fresh UUID names and never
 *    modified — a reader holding snapshot N scans exactly the files
 *    N lists, unaffected by concurrent commits;
 *  - a crash before the manifest lands leaves only orphan data files
 *    (swept by vacuum), never a partial table state;
 *  - sequence-number ranges are allocated by the commit itself
 *    (`seqHi` in the manifest), so last-write-wins ordering is
 *    defined by commit order, race-free across JVMs.
 *
 * Manifest kinds: `create` (v1, empty table), `append` (adds files,
 * marks the table possibly-duplicated), `replace` (compaction /
 * delete rewrite: swaps the whole live set, marks it clean). A
 * full-state checkpoint is written every [[CommitLog.CheckpointEvery]]
 * commits so snapshot reconstruction replays O(10) small JSON files,
 * not the table's whole history.
 *
 * On a POSIX filesystem `link(2)` is an atomic create-if-absent of a
 * complete file; object stores without atomic create-if-absent need a
 * commit service in front of the log (the public Delta-on-S3
 * arrangement) — the protocol is unchanged.
 */
final class CommitLog(dbDir: Path) {
  import CommitLog._

  private val logDir = dbDir.resolve("_log")

  def init(): Boolean = {
    Files.createDirectories(logDir)
    // the create manifest carries a fresh table UID: a drop + recreate
    // is a NEW incarnation even when its commit versions replay the
    // same numbers — anything keyed on table state (the query cache)
    // must mix the UID in, or version 2 of the new table aliases
    // version 2 of the old one
    tryCommit(Manifest(1, "create", Vector(), seqHi = 0, clean = true,
      uid = java.util.UUID.randomUUID().toString))
  }

  def initialized: Boolean =
    Files.isDirectory(logDir) && latestVersion() >= 1

  /** Highest committed version, 0 if none. */
  def latestVersion(): Long = listLog().lastOption.getOrElse(0L)

  /** The incarnation UID from the v1 create manifest, "" if absent.
   * One small file read — deliberately NOT cached in this object:
   * another process may drop + recreate the directory underneath us,
   * and a stale cached UID would resurrect exactly the cache-aliasing
   * bug the UID exists to prevent. */
  def tableId(): String = {
    val m = manifestPath(1)
    if (Files.exists(m))
      try Manifest.fromJson(new String(Files.readAllBytes(m), "UTF-8")).uid
      catch { case _: Exception => "" }
    else ""
  }

  private def logNames(): Seq[String] =
    if (!Files.isDirectory(logDir)) Nil
    else {
      val s = Files.list(logDir)
      try s.iterator().asScala.map(_.getFileName.toString).toVector
      finally s.close()
    }

  // strict name match: a stray foreign .json (editor backup, copied
  // file) must not brick the db with a parse error
  private def listLog(): Seq[Long] = logNames()
    .filter(manifestName.matches).map(_.stripSuffix(".json").toLong).sorted

  private val manifestName = "^[0-9]{20}\\.json$".r
  // same strictness as manifests: a stray foreign file ending in
  // .ckpt.json (editor backup, copied checkpoint) must be skipped,
  // not parsed as a version number
  private val ckptName = "^[0-9]{20}\\.ckpt\\.json$".r

  private def manifestPath(v: Long): Path =
    logDir.resolve(f"$v%020d.json")
  private def ckptPath(v: Long): Path =
    logDir.resolve(f"$v%020d$ckptSuffix")

  /** Checkpoint versions on disk, ascending. */
  private def listCkpts(): Seq[Long] = logNames()
    .filter(ckptName.matches).map(_.stripSuffix(ckptSuffix).toLong).sorted

  /** Atomically publish manifest `m` as version `m.v`: write it in
   * full under a temp name, then hard-link it into place. Returns
   * false if another writer won the version (`link` fails with
   * EEXIST) — caller re-reads and retries. A plain or atomic move
   * would not do: the first checks then renames, the second replaces
   * an existing manifest. */
  def tryCommit(m: Manifest): Boolean = {
    val tmp = logDir.resolve(s"$commitTmp${java.util.UUID.randomUUID()}")
    Files.write(tmp, m.toJson.getBytes("UTF-8"))
    try { Files.createLink(manifestPath(m.v), tmp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** The one write path: stage a change with `attempt` against the
   * current snapshot and race for the next version. An append that
   * loses is abandoned and staged again from a fresh snapshot. A
   * replace that loses only to appends rebases them into its live set
   * (dirty, so read-side dedup still applies) without staging again;
   * one that meets another replace, or a window [[prune]] left with
   * gaps, is abandoned and computed again (the table-format rule:
   * append vs replace commutes, replace vs replace does not). An
   * abandoned change runs its cleanup; after [[AppendAttempts]] lost
   * appends or [[ReplaceAttempts]] lost replaces the write throws
   * IllegalStateException (server-side contention, not a caller
   * error). `what` names the write in that message. */
  def commit[R](what: String)(attempt: Snapshot => Attempt[R]): R = {
    @scala.annotation.tailrec
    def go(lost: Int): R = {
      val snap = snapshot()
      attempt(snap) match {
        case NoChange(r) => r
        case s: Staged[R @unchecked] =>
          if (land(snap, s)) { checkpointMaybe(snapshot()); s.result }
          else {
            s.cleanup()
            val cap = if (s.kind == "append") AppendAttempts else ReplaceAttempts
            if (lost + 1 >= cap) throw new IllegalStateException(
              s"$what lost ${lost + 1} commit races")
            go(lost + 1)
          }
      }
    }
    go(0)
  }

  /** Race `s`, staged against `snap`, for the next version, rebasing
   * a replace over the appends that landed first. False = abandoned.
   * An append that already lists one of the replace's own files (a
   * concurrent adopter of the same legacy files) is not rebased: the
   * manifest would list the file twice. */
  private def land(snap: Snapshot, s: Staged[_]): Boolean = {
    val own = s.files.map(_.name).toSet
    var since: Option[Seq[Manifest]] = Some(Nil)
    var won = false
    while (!won && since.nonEmpty) {
      val ms = since.get
      val appended = ms.flatMap(_.files)
      won = tryCommit(Manifest(snap.version + ms.size + 1, s.kind,
        s.keep ++ s.files ++ appended, seqHi = (s.seqHi +: ms.map(_.seqHi)).max,
        clean = s.clean && appended.isEmpty))
      if (!won) since = commitsSinceExact(snap.version).filter(ms =>
        s.kind == "replace" && ms.forall(_.kind == "append") &&
          !ms.exists(_.files.exists(f => own(f.name))))
    }
    won
  }

  /** Current table state: latest checkpoint + replay of newer
   * manifests. */
  def snapshot(): Snapshot = {
    val versions = listLog()
    if (versions.isEmpty) Snapshot(0, Vector(), clean = true, 0)
    else try stateAt(versions, versions.last) catch {
      // prune removed a file this listing named (two checkpoints
      // landed mid-read): the listing is stale, so list again
      case _: java.nio.file.NoSuchFileException => snapshot()
    }
  }

  /** Table state as of committed version `v` (time travel). The
   * returned file list is exact while the files survive — i.e. until
   * a later replace's vacuum grace expires. */
  def snapshotAt(v: Long): Snapshot = {
    val versions = listLog()
    require(versions.contains(v), s"no committed version $v")
    stateAt(versions, v)
  }

  private def stateAt(versions: Seq[Long], v: Long): Snapshot = {
    val base = latestCheckpointAtMost(v)
      .getOrElse(Snapshot(0, Vector(), clean = true, 0))
    versions.filter(x => x > base.version && x <= v)
      .foldLeft(base)((s, x) => apply(s, readManifest(x)))
  }

  /** Manifests with version strictly greater than `v`, ascending.
   * LENIENT: after [[prune]] the window may start later than `v+1` —
   * fine for audit listings ([[SeriesStore.history]]), NOT for rebase
   * (use [[commitsSinceExact]], which refuses a gapped window). */
  def commitsSince(v: Long): Seq[Manifest] =
    listLog().filter(_ > v).map(readManifest)

  /** Strict rebase window: every manifest in `(v, latest]`, or None if
   * pruning has removed part of it (possible only when ≥2 checkpoints
   * landed after `v` — the caller must recompute from a fresh
   * snapshot instead of silently dropping the missing commits). */
  private[sources] def commitsSinceExact(v: Long): Option[Seq[Manifest]] = {
    val vs = listLog().filter(_ > v)
    val contiguous = vs.zipWithIndex.forall { case (x, i) => x == v + 1 + i }
    if (contiguous) Some(vs.map(readManifest)) else None
  }

  private def apply(s: Snapshot, m: Manifest): Snapshot = m.kind match {
    case "create" => Snapshot(m.v, Vector(), clean = true, 0, m.uid)
    case "append" => Snapshot(m.v, s.files ++ m.files, clean = false,
      math.max(s.lastSeq, m.seqHi), s.uid, adoptedAfter(s, m))
    case "replace" => Snapshot(m.v, m.files.toVector, m.clean,
      math.max(s.lastSeq, m.seqHi), s.uid, adoptedAfter(s, m))
    case other => throw new IllegalStateException(
      s"unknown manifest kind '$other' at version ${m.v}")
  }

  /** Legacy (`part-*`) names ever referenced in this incarnation —
   * the adoption-idempotence set ([[SeriesStore.ensureMigrated]]).
   * Carried in the snapshot (and thus checkpoints) so it survives
   * [[prune]], which deletes the old manifests it would otherwise be
   * recomputed from. Bounded: legacy files are a one-time population.
   * Kept sorted so checkpoint bytes stay a pure function of version. */
  private def adoptedAfter(s: Snapshot, m: Manifest): Vector[String] = {
    val add = m.files.iterator.map(_.name).filter(_.startsWith("part-")).toVector
    if (add.isEmpty) s.adopted
    else (s.adopted ++ add).distinct.sorted
  }

  def readManifest(v: Long): Manifest =
    Manifest.fromJson(new String(Files.readAllBytes(manifestPath(v)), "UTF-8"))

  /** Write a checkpoint if the version hits the cadence. Idempotent
   * and race-safe: content is a pure function of the version, and the
   * atomic move makes the last writer win with identical bytes. */
  def checkpointMaybe(s: Snapshot): Unit =
    if (s.version > 0 && s.version % CheckpointEvery == 0 &&
        !Files.exists(ckptPath(s.version))) {
      val tmp = logDir.resolve(s"$ckptTmp${java.util.UUID.randomUUID()}")
      Files.write(tmp, s.toJson.getBytes("UTF-8"))
      Files.move(tmp, ckptPath(s.version), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      prune()
    }

  /** Bound the log. Checkpoints make manifests older than the newest
   * one dead weight for replay, but concurrent rewrites still rebase
   * through [[commitsSinceExact]] windows that can start one
   * checkpoint back — so the floor is the newest checkpoint that is
   * at least [[CheckpointEvery]] behind the newest, and everything
   * strictly below it goes (manifests and older checkpoints), EXCEPT
   * the v1 create manifest, which [[tableId]] reads as the incarnation
   * identity. Retained steady state: ≤ ~2·CheckpointEvery manifests +
   * 2 checkpoints + v1 — every directory listing ([[latestVersion]],
   * [[snapshot]], the cache key) is O(1) in table age, not O(#commits).
   * A rebase that spans the pruned gap anyway sees None from
   * [[commitsSinceExact]] and recomputes; time travel below the floor
   * fails with "no committed version" (table-format retention
   * semantics). Races are benign: prune only deletes files replay no
   * longer needs, and double deletes are no-ops. Temp files older
   * than [[TmpGraceMs]] (left by writers that died before publishing)
   * go too. */
  private def prune(): Unit = {
    val stale = System.currentTimeMillis() - TmpGraceMs
    logNames().filter(n => n.startsWith(commitTmp) || n.startsWith(ckptTmp))
      .foreach { n =>
        try if (Files.getLastModifiedTime(logDir.resolve(n)).toMillis < stale)
          Files.deleteIfExists(logDir.resolve(n))
        catch { case _: java.nio.file.NoSuchFileException => () }
      }
    val ckpts = listCkpts()
    if (ckpts.isEmpty) return
    val newest = ckpts.last
    for (floor <- ckpts.filter(_ <= newest - CheckpointEvery).lastOption) {
      listLog().foreach(v =>
        if (v > 1 && v < floor) Files.deleteIfExists(manifestPath(v)))
      ckpts.foreach(c => if (c < floor) Files.deleteIfExists(ckptPath(c)))
    }
  }

  private def latestCheckpointAtMost(v: Long): Option[Snapshot] = {
    val best = listCkpts().filter(_ <= v).lastOption
    best.map(cv => Snapshot.fromJson(
      new String(Files.readAllBytes(ckptPath(cv)), "UTF-8")))
  }
}

object CommitLog {
  val CheckpointEvery = 10
  /** [[CommitLog.commit]]'s caps: lost appends, lost replaces. */
  val AppendAttempts = 100
  val ReplaceAttempts = 10
  /** Age past which [[CommitLog.prune]] sweeps a leftover temp file. */
  val TmpGraceMs: Long = 10 * 60 * 1000L
  private val ckptSuffix = ".ckpt.json"
  // temp-file prefixes: neither name pattern of the log matches them
  private val commitTmp = ".commit-"
  private val ckptTmp = ".ckpt-"

  /** What one write attempt against a snapshot produced
   * ([[CommitLog.commit]]). */
  sealed trait Attempt[+R]
  /** Nothing to commit; `result` is returned as is. */
  final case class NoChange[R](result: R) extends Attempt[R]
  /** A change staged against the attempt's snapshot. `kind` is
   * `append` or `replace`; a replace's live set is `keep ++ files`
   * plus any appends it rebases over. `clean` is the flag to commit if
   * no append lands first. `cleanup` runs when the change is
   * abandoned. */
  final case class Staged[R](kind: String, files: Seq[FileEntry],
      seqHi: Long, clean: Boolean, result: R,
      keep: Seq[FileEntry] = Nil, cleanup: () => Unit = () => ())
      extends Attempt[R]

  /** One immutable data file: name relative to the db dir + size (so
   * `info`'s space accounting never walks the directory), plus
   * OPTIONAL per-file ts statistics `(minTs, maxTs, rows)` recorded at
   * commit time from the parquet footer. The stats make the manifest a
   * file-level index: a time-bounded read drops files whose [minTs,
   * maxTs] misses the range BEFORE Spark ever lists or footer-reads
   * them — the table-format analog of the reference's B-tree subrange
   * walk (database.go:339-364), which visits only the key range's
   * leaves instead of the whole tree. `rows < 0` means "stats unknown"
   * (legacy manifest): such files are always scanned, so old tables
   * stay correct and pick up stats on their next compact. */
  case class FileEntry(name: String, bytes: Long,
      minTs: Long = 0L, maxTs: Long = 0L, rows: Long = -1L,
      cats: Option[Vector[String]] = None,
      num: Option[Vector[Double]] = None,
      catsBy: Option[Map[String, Vector[String]]] = None,
      numBy: Option[Map[String, Vector[Double]]] = None) {
    def hasStats: Boolean = rows >= 0
    /** File may contain a ts in [fromNs, toNs)? Unknown stats ⇒ true. */
    def mayOverlap(fromNs: Option[Long], toNs: Option[Long]): Boolean =
      if (!hasStats) true
      else if (rows == 0) false
      else fromNs.forall(maxTs >= _) && toNs.forall(minTs < _)
    /** File may contain a row whose DECLARED categorical column equals
     * `v`? Unrecorded set (legacy manifests, undeclared writes, sets
     * over the write-time cap) ⇒ true — pruning is only ever an
     * optimization, never a correctness dependency. The recorded set
     * excludes nulls: a null category can never satisfy an equality
     * predicate, so an all-null file prunes away soundly. */
    def mayContainCat(v: String): Boolean = cats.forall(_.contains(v))
    /** File may contain a row whose DECLARED numeric pointer value
     * lands in [lo, hi)? The third manifest pruning axis (the
     * quality-score band read). `num` is `Vector(min, max)` of the
     * file's non-null parsed values, `Vector()` when the file has
     * none (all-null prunes soundly — a null can't satisfy a range
     * predicate), absent (legacy manifests, undeclared writes,
     * stat-job failure) ⇒ always scan. */
    def mayContainNum(lo: Option[Double], hi: Option[Double]): Boolean =
      num match {
        case None => true
        case Some(Vector()) => false
        case Some(v) => lo.forall(v(1) >= _) && hi.forall(v(0) < _)
      }
    /** POINTER-KEYED categorical pruning — the multi-pointer manifest
     * axis: `catsBy` maps each DECLARED pointer to the file's bounded
     * distinct set, so compound predicates (source AND quality AND
     * ts) prune on every declared axis at once. A new-format entry
     * whose map lacks `ptr` never falls back to the legacy anonymous
     * `cats` (whose pointer identity was never recorded — that
     * fallback could prune on the WRONG column); legacy entries keep
     * the legacy single-axis behavior and its caller contract. */
    def mayContainCatAt(ptr: String, v: String): Boolean = catsBy match {
      case Some(m) => m.get(ptr).forall(_.contains(v))
      case None => mayContainCat(v)
    }
    /** Pointer-keyed numeric pruning ([[mayContainCatAt]]'s rules). */
    def mayContainNumAt(ptr: String, lo: Option[Double],
        hi: Option[Double]): Boolean = numBy match {
      case Some(m) => m.get(ptr) match {
        case None => true
        case Some(Vector()) => false
        case Some(v) => lo.forall(v(1) >= _) && hi.forall(v(0) < _)
      }
      case None => mayContainNum(lo, hi)
    }
    def toJson: String = {
      val stats = if (hasStats) s""","min":$minTs,"max":$maxTs,"rows":$rows"""
        else ""
      val cstats = cats.fold("")(cs =>
        s""","cats":${cs.map(SeriesStore.jsonQuote).mkString("[", ",", "]")}""")
      val nstats = num.fold("")(v =>
        s""","num":${v.mkString("[", ",", "]")}""")
      val cbstats = catsBy.fold("")(m =>
        s""","catsBy":${m.toSeq.sortBy(_._1).map { case (p, cs) =>
          s"${SeriesStore.jsonQuote(p)}:${cs.map(SeriesStore.jsonQuote)
            .mkString("[", ",", "]")}"
        }.mkString("{", ",", "}")}""")
      val nbstats = numBy.fold("")(m =>
        s""","numBy":${m.toSeq.sortBy(_._1).map { case (p, v) =>
          s"${SeriesStore.jsonQuote(p)}:${v.mkString("[", ",", "]")}"
        }.mkString("{", ",", "}")}""")
      s"""{"f":${SeriesStore.jsonQuote(name)},"bytes":$bytes$stats$cstats$nstats$cbstats$nbstats}"""
    }
  }

  /** `uid` is set on `create` manifests only: the table-incarnation
   * identity (see [[CommitLog.init]]). */
  case class Manifest(v: Long, kind: String, files: Seq[FileEntry],
      seqHi: Long, clean: Boolean, uid: String = "") {
    def toJson: String =
      s"""{"v":$v,"kind":${SeriesStore.jsonQuote(kind)},""" +
        s""""files":${files.map(_.toJson).mkString("[", ",", "]")},""" +
        s""""seqHi":$seqHi,"clean":$clean,"uid":${SeriesStore.jsonQuote(uid)}}"""
  }

  object Manifest {
    def fromJson(s: String): Manifest = {
      val n = graft.functions.JsonPointersExpr.mapper.readTree(s)
      Manifest(n.get("v").asLong(), n.get("kind").asText(),
        fileEntries(n), n.get("seqHi").asLong(), n.get("clean").asBoolean(),
        if (n.has("uid")) n.get("uid").asText() else "")
    }
  }

  /** `adopted`: legacy `part-*` names ever referenced in this
   * incarnation (sorted) — see [[CommitLog.adoptedAfter]]. */
  case class Snapshot(version: Long, files: Vector[FileEntry],
      clean: Boolean, lastSeq: Long, uid: String = "",
      adopted: Vector[String] = Vector()) {
    def toJson: String =
      s"""{"v":$version,"files":${files.map(_.toJson).mkString("[", ",", "]")},""" +
        s""""clean":$clean,"lastSeq":$lastSeq,"uid":${SeriesStore.jsonQuote(uid)},""" +
        s""""adopted":${adopted.map(SeriesStore.jsonQuote).mkString("[", ",", "]")}}"""
  }

  object Snapshot {
    def fromJson(s: String): Snapshot = {
      val n = graft.functions.JsonPointersExpr.mapper.readTree(s)
      Snapshot(n.get("v").asLong(), fileEntries(n),
        n.get("clean").asBoolean(), n.get("lastSeq").asLong(),
        if (n.has("uid")) n.get("uid").asText() else "",
        opt(n, "adopted")(strings).getOrElse(Vector()))
    }
  }

  private def strings(a: JsonNode): Vector[String] =
    a.iterator().asScala.map(_.asText()).toVector

  private def doubles(a: JsonNode): Vector[Double] =
    a.iterator().asScala.map(_.asDouble()).toVector

  /** `field` of `e` read by `read`, or None when absent. */
  private def opt[A](e: JsonNode, field: String)(read: JsonNode => A): Option[A] =
    Option(e.get(field)).map(read)

  /** An object of arrays, each array read by `read`. */
  private def byPointer[A](o: JsonNode)(read: JsonNode => A): Map[String, A] =
    o.properties().asScala.iterator.map(f => f.getKey -> read(f.getValue)).toMap

  private def fileEntries(n: JsonNode): Vector[FileEntry] =
    n.get("files").iterator().asScala.map { e =>
      FileEntry(e.get("f").asText(), e.get("bytes").asLong(),
        opt(e, "min")(_.asLong()).getOrElse(0L),
        opt(e, "max")(_.asLong()).getOrElse(0L),
        opt(e, "rows")(_.asLong()).getOrElse(-1L),
        opt(e, "cats")(strings), opt(e, "num")(doubles),
        opt(e, "catsBy")(byPointer(_)(strings)),
        opt(e, "numBy")(byPointer(_)(doubles)))
    }.toVector
}
