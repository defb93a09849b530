package perfbench

import java.util.SplittableRandom

/** The seeded event series every workload loads: `n` events over
 * `days` days from 2024-01-01T00:00Z, one JSON document per event,
 * with the shape of the library's events table (event type, user,
 * value, a small categorical `k`). Keys are unique microsecond
 * timestamps, so no document overwrites another. Columns are kept
 * apart so the reference aggregation below never parses JSON. */
final class Events(val ts: Array[Long], tpe: Array[Int], user: Array[Int],
    cents: Array[Int], k: Array[Int]) {
  def size: Int = ts.length

  /** The events at ascending indices `idx`. */
  def select(idx: Array[Int]): Events =
    new Events(idx.map(ts), idx.map(tpe), idx.map(user), idx.map(cents), idx.map(k))

  def doc(i: Int): String =
    s"""{"type":"${Events.Types(tpe(i))}","user":${user(i)},"value":${cents(i) / 100}.${"%02d".format(cents(i) % 100)},"k":${k(i)}}"""

  def typeOf(i: Int): String = Events.Types(tpe(i))

  /** The numeric value a JSON pointer reads from event `i`. */
  def num(ptr: String, i: Int): Double = ptr match {
    case "/value" => cents(i) / 100.0
    case "/user" => user(i).toDouble
    case "/k" => k(i).toDouble
  }

  /** First index with `ts >= ns`. */
  def lowerBound(ns: Long): Int = {
    val i = java.util.Arrays.binarySearch(ts, ns)
    if (i >= 0) i else -i - 1
  }
}

object Events {
  val Types: Array[String] = Array("view", "click", "purchase", "signup", "error")
  val Ptrs: Array[String] = Array("/value", "/user", "/k")
  val Reducers: Array[String] = Array("count", "sum", "min", "max", "avg")
  val BaseNs: Long = 1704067200L * 1000000000L // 2024-01-01T00:00:00Z
  val DayNs: Long = 86400L * 1000000000L
  val HourMs: Long = 3600L * 1000L
  val DayMs: Long = 86400L * 1000L

  def generate(seed: Long, n: Int, days: Int): Events = {
    val rnd = new SplittableRandom(seed)
    val spanUs = days * 86400L * 1000000L
    val us = Array.fill(n)(rnd.nextLong(spanUs))
    java.util.Arrays.sort(us)
    // equal draws would share a key and overwrite: nudge them apart
    for (i <- 1 until n) if (us(i) <= us(i - 1)) us(i) = us(i - 1) + 1
    val ts = us.map(u => BaseNs + u * 1000L)
    val tpe = Array.fill(n)(rnd.nextInt(Types.length))
    val user = Array.fill(n)(rnd.nextInt(1500))
    // long-tailed values (exponential, mean ~50) in whole cents
    val cents = Array.fill(n)(math.min(100000, (-math.log(1 - rnd.nextDouble()) * 5000).toInt))
    val k = Array.fill(n)(rnd.nextInt(100))
    new Events(ts, tpe, user, cents, k)
  }
}

/** One `_query` request: bucket width, ptr/reducer pairs, an optional
 * `/type` equality filter, and a [fromNs, toNs) range. */
final case class QuerySpec(groupMs: Long, pairs: Seq[(String, String)],
    typeFilter: Option[String], fromNs: Long, toNs: Long) {

  def path(db: String): String = {
    val ps = Seq(s"group=$groupMs") ++
      pairs.flatMap { case (p, r) => Seq(s"ptr=$p", s"reducer=$r") } ++
      typeFilter.toSeq.flatMap(t => Seq("f=/type", s"fv=$t")) ++
      Seq(s"from=${Reference.key(fromNs)}", s"to=${Reference.key(toNs)}")
    s"/$db/_query?${ps.mkString("&")}"
  }

  /** The shape class: bucket width, range in whole days, filter or
   * not, and the number of pairs (as `hour-30d-filter-2p`). */
  def shape: String =
    Seq(if (groupMs == Events.HourMs) "hour" else "day", s"${(toNs - fromNs) / Events.DayNs}d",
      if (typeFilter.isDefined) "filter" else "all", s"${pairs.size}p").mkString("-")

  def toQuery: graft.operators.SeriesEngine.SeriesQuery =
    graft.operators.SeriesEngine.SeriesQuery(groupMs, pairs.map(_._1),
      pairs.map(_._2), Some(Reference.key(fromNs)), Some(Reference.key(toNs)),
      typeFilter.toSeq.map(t => ("/type", t)))
}

/** One `_all` range read: [fromNs, toNs), at most `limit` rows. */
final case class ScanSpec(fromNs: Long, toNs: Long, limit: Int) {
  /** A whole-day range holds more rows than the limit; a shorter one
   * holds fewer. */
  def shape: String = if (toNs - fromNs >= Events.DayNs) "day" else "hours"

  def path(db: String): String =
    s"/$db/_all?from=${Reference.key(fromNs)}&to=${Reference.key(toNs)}&limit=$limit"
}

object Requests {
  private def pairs(rnd: SplittableRandom, n: Int): Seq[(String, String)] =
    Seq.fill(n)((Events.Ptrs(rnd.nextInt(Events.Ptrs.length)),
      Events.Reducers(rnd.nextInt(Events.Reducers.length))))

  /** A random `_query` of shape class `c` (0 until 24) over a
   * `days`-day series. The class fixes the bucket width (hour or day),
   * the range (1 day, minute-aligned start; or 30 days, starting within
   * a day of the series start), whether a `/type` filter applies, and
   * the number of ptr/reducer pairs (1-3); the rest is random. */
  def query(rnd: SplittableRandom, days: Int, c: Int): QuerySpec = {
    val group = if (c % 2 == 0) Events.HourMs else Events.DayMs
    val filter =
      if ((c / 4) % 2 == 1) Some(Events.Types(rnd.nextInt(Events.Types.length)))
      else None
    val minuteNs = 60L * 1000000000L
    val (from, to) =
      if ((c / 2) % 2 == 0) {
        val f = Events.BaseNs + rnd.nextLong((days - 1) * 1440L) * minuteNs
        (f, f + Events.DayNs)
      } else {
        val f = Events.BaseNs - rnd.nextLong(1440L) * minuteNs
        (f, f + 30 * Events.DayNs)
      }
    QuerySpec(group, pairs(rnd, 1 + (c / 8) % 3), filter, from, to)
  }

  /** A random `_all` read, second-aligned start: a whole day (more
   * rows than the limit) when `wide`, else a 1-6 hour window (fewer). */
  def scan(rnd: SplittableRandom, days: Int, wide: Boolean): ScanSpec = {
    val f = Events.BaseNs + rnd.nextLong((days - 1) * 86400L) * 1000000000L
    val len = if (wide) Events.DayNs else (1 + rnd.nextInt(6)) * 3600L * 1000000000L
    ScanSpec(f, f + len, 500)
  }

  /** `count` distinct requests; every fifth is an `_all`, the rest are
   * `_query`s. Shapes cycle through their classes, so every run's
   * prefix has the same mix and only the random parts vary by seed. */
  def mix(seed: Long, count: Int, days: Int): IndexedSeq[Either[QuerySpec, ScanSpec]] = {
    val rnd = new SplittableRandom(seed)
    val seen = scala.collection.mutable.HashSet.empty[Any]
    val out = IndexedSeq.newBuilder[Either[QuerySpec, ScanSpec]]
    var queries = 0
    var scans = 0
    while (seen.size < count) {
      val r =
        if (seen.size % 5 == 4) Right(scan(rnd, days, scans % 2 == 0))
        else Left(query(rnd, days, queries % 24))
      if (seen.add(r)) {
        out += r
        if (r.isLeft) queries += 1 else scans += 1
      }
    }
    out.result()
  }
}
