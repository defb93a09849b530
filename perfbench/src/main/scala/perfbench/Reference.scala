package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Plain-Scala answers to the benchmark's requests, computed from the
 * generated events, and the checks that compare server responses
 * against them. A check returns `None` when the response is right and
 * a short description of the first difference otherwise. */
object Reference {
  private val mapper = new ObjectMapper()

  def key(ns: Long): String = graft.timelib.TimeLib.formatCanonical(ns)

  /** Bucket-start ms → one value per pair (None = JSON null), for the
   * events whose key lies in the request's range. A bucket exists when
   * any event falls in it; the type filter masks values, not buckets. */
  def query(ev: Events, q: QuerySpec): Seq[(Long, Seq[Option[Double]])] = {
    val groupNs = q.groupMs * 1000000L
    val lo = ev.lowerBound(q.fromNs)
    val hi = ev.lowerBound(q.toNs)
    val out = Seq.newBuilder[(Long, Seq[Option[Double]])]
    var i = lo
    while (i < hi) {
      val bucket = ev.ts(i) - Math.floorMod(ev.ts(i), groupNs)
      var j = i
      while (j < hi && ev.ts(j) - bucket < groupNs) j += 1
      val members = (i until j).filter(m => q.typeFilter.forall(_ == ev.typeOf(m)))
      val values = q.pairs.map { case (ptr, red) =>
        val xs = members.map(ev.num(ptr, _))
        red match {
          case "count" => Some(xs.size.toDouble)
          case "sum" => Some(xs.sum)
          case "min" => xs.minOption
          case "max" => xs.maxOption
          case "avg" => if (xs.isEmpty) None else Some(xs.sum / xs.size)
        }
      }
      out += ((bucket / 1000000L, values))
      i = j
    }
    out.result()
  }

  private def close(got: JsonNode, want: Option[Double]): Boolean = want match {
    case None => got.isNull
    case Some(w) => got.isNumber &&
      math.abs(got.asDouble() - w) <= 1e-9 * math.max(1.0, math.abs(w))
  }

  /** Every bucket of the reference, in ascending order, with the
   * requested arity and values. */
  def checkQuery(ev: Events, q: QuerySpec, body: String): Option[String] = {
    val root = try mapper.readTree(body) catch { case e: Exception => return Some(s"unparsable: ${e.getMessage}") }
    if (root == null || !root.isObject) return Some("not a JSON object")
    val want = query(ev, q)
    if (root.size() != want.size) return Some(s"${root.size()} buckets, want ${want.size}")
    val names = root.fieldNames()
    for ((bucket, values) <- want) {
      val name = names.next()
      if (name != bucket.toString) return Some(s"bucket $name, want $bucket")
      val arr = root.get(name)
      if (!arr.isArray || arr.size() != values.size)
        return Some(s"bucket $name has arity ${arr.size()}, want ${values.size}")
      for ((v, i) <- values.zipWithIndex)
        if (!close(arr.get(i), v)) return Some(s"bucket $name value $i = ${arr.get(i)}, want $v")
    }
    None
  }

  /** The first `limit` events of [from, to), in key order, each with
   * its own document. */
  def checkScan(ev: Events, s: ScanSpec, body: String): Option[String] = {
    val root = try mapper.readTree(body) catch { case e: Exception => return Some(s"unparsable: ${e.getMessage}") }
    if (root == null || !root.isObject) return Some("not a JSON object")
    val lo = ev.lowerBound(s.fromNs)
    val hi = math.min(ev.lowerBound(s.toNs), lo + s.limit)
    if (root.size() != hi - lo) return Some(s"${root.size()} rows, want ${hi - lo}")
    val names = root.fieldNames()
    for (i <- lo until hi) {
      val name = names.next()
      if (name != key(ev.ts(i))) return Some(s"row $name, want ${key(ev.ts(i))}")
      if (root.get(name) != mapper.readTree(ev.doc(i))) return Some(s"row $name has another document")
    }
    None
  }

  /** For a read of data that changes while it runs: a JSON object of
   * ascending buckets inside the range, each with the requested arity. */
  def checkQueryShape(q: QuerySpec, body: String): Option[String] = {
    val root = try mapper.readTree(body) catch { case e: Exception => return Some(s"unparsable: ${e.getMessage}") }
    if (root == null || !root.isObject) return Some("not a JSON object")
    var last = Long.MinValue
    val names = root.fieldNames()
    while (names.hasNext) {
      val name = names.next()
      val b = name.toLong
      if (b <= last) return Some(s"bucket $name out of order")
      if (b * 1000000L + q.groupMs * 1000000L <= q.fromNs || b * 1000000L >= q.toNs)
        return Some(s"bucket $name outside the range")
      if (root.get(name).size() != q.pairs.size) return Some(s"bucket $name has the wrong arity")
      last = b
    }
    None
  }

  /** For a scan of data that changes while it runs: at most `limit`
   * rows, ascending, inside [from, to). */
  def checkScanShape(s: ScanSpec, body: String): Option[String] = {
    val root = try mapper.readTree(body) catch { case e: Exception => return Some(s"unparsable: ${e.getMessage}") }
    if (root == null || !root.isObject) return Some("not a JSON object")
    if (root.size() > s.limit) return Some(s"${root.size()} rows over the limit")
    var last = Long.MinValue
    val names = root.fieldNames()
    while (names.hasNext) {
      val ns = graft.timelib.TimeLib.parseKey(names.next())
      if (ns <= last || ns < s.fromNs || ns >= s.toNs) return Some(s"row ${key(ns)} out of order or range")
      last = ns
    }
    None
  }

  def parse(body: String): JsonNode =
    try mapper.readTree(body) catch { case _: Exception => null }
}
