package graft.operators

import graft.SparkSpec
import graft.operators.SeriesEngine.SeriesQuery
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/**
 * Reducer golden values ported from the reference (query_test.go:13-240,
 * FIXTURES.md §1): 11 included values at 1-second intervals in one
 * bucket, followed by a lookahead value "29" that lands in the next
 * bucket — the engine's per-pair rate charging must reproduce the
 * reference's `nextInfo` lookahead semantics.
 */
class SeriesEngineSpec extends SparkSpec {
  import spark.implicits._

  // base second, divisible by the 12 s bucket so values 1..11 s land in
  // one bucket and the lookahead at +12 s starts the next
  val B = 1346189040L
  val docs: Seq[(Long, String)] = {
    val vals = Seq(
      """"31"""", """"63"""", """"foo"""", """"17"""",
      """"foo"""", """"foo"""", """"foo"""", """"foo"""",
      """{"key":"value1"}""", """{"key":"value2"}""", """{"key":"value3"}""")
    vals.zipWithIndex.map { case (v, i) =>
      ((B + i + 1) * 1000000000L, s"""{"v": $v}""")
    } :+ ((B + 12) * 1000000000L, """{"v": "29"}""")
  }

  def run(reducer: String): DataFrame = {
    val df = docs.toDF("ts", "doc")
    SeriesEngine.query(df, SeriesQuery(groupMs = 12000,
      ptrs = Seq("/v"), reducers = Seq(reducer), names = Seq("r")))
  }

  def firstBucket(reducer: String): Any = {
    val rows = run(reducer).collect()
    assert(rows.head.getLong(0) == B * 1000, s"bucket key for $reducer")
    rows.head.get(1)
  }

  test("golden values (query_test.go:98-128)") {
    assert(firstBucket("any") == "31")
    assert(firstBucket("count") == 11L)
    assert(firstBucket("sum") == 111.0)
    assert(firstBucket("sumsq") == 5219.0)
    assert(firstBucket("max") == 63.0)
    assert(firstBucket("min") == 17.0)
    assert(firstBucket("avg") == 37.0)
    assert(firstBucket("c") == 10.5)
    assert(firstBucket("c_min") == -23.0)
    assert(firstBucket("c_avg") == 3.5)
    assert(firstBucket("c_max") == 32.0)
    assert(firstBucket("identity") == Seq("31", "63", "foo", "17",
      "foo", "foo", "foo", "foo",
      """{"key":"value1"}""", """{"key":"value2"}""", """{"key":"value3"}"""))
    assert(firstBucket("obj_keys") == Seq("key", "key", "key"))
    assert(firstBucket("obj_distinct_keys") == Seq("key"))
    assert(firstBucket("distinct") == Seq("17", "31", "63", "foo"))
  }

  test("second bucket holds the lookahead value normally") {
    val rows = run("sum").collect()
    assert(rows.length == 2)
    assert(rows(1).getLong(0) == (B + 12) * 1000)
    assert(rows(1).getDouble(1) == 29.0)
    // single parsable value in bucket 2 → no rate pair
    assert(run("c").collect()(1).getDouble(1) == 0.0)
    assert(run("c_min").collect()(1).isNullAt(1))
  }

  test("empty and nil-value buckets (query_test.go:158-240)") {
    val df = Seq(
      (B * 1000000000L + 1000000000L, """{"other": 1}"""), // /v missing → nil
      (B * 1000000000L + 2000000000L, """{"v": null}""")   // JSON null → nil
    ).toDF("ts", "doc")
    def q(r: String) = SeriesEngine.query(df,
      SeriesQuery(12000, Seq("/v"), Seq(r), names = Seq("r"))).head()
    assert(q("count").getLong(1) == 0L)
    assert(q("sum").getDouble(1) == 0.0)
    assert(q("sumsq").getDouble(1) == 0.0)
    assert(q("c").getDouble(1) == 0.0)
    assert(q("max").isNullAt(1))
    assert(q("min").isNullAt(1))
    assert(q("avg").isNullAt(1))
    assert(q("c_min").isNullAt(1))
    assert(q("c_avg").isNullAt(1))
    assert(q("c_max").isNullAt(1))
    assert(q("identity").getSeq[String](1) == Seq(null, null))
    assert(q("any").isNullAt(1))
    assert(q("obj_keys").getSeq[String](1) == Seq())
    assert(q("obj_distinct_keys").getSeq[String](1) == Seq())
    // the reference's distinct hashes nil like any value: one null
    assert(q("distinct").getSeq[String](1) == Seq(null))
  }

  test("distinct includes a null for missing-pointer docs alongside scalars") {
    val df = Seq(
      (B * 1000000000L + 1000000000L, """{"v": "a"}"""),
      (B * 1000000000L + 2000000000L, """{"other": 1}"""),
      (B * 1000000000L + 3000000000L, """{"v": "a"}""")
    ).toDF("ts", "doc")
    val row = SeriesEngine.query(df,
      SeriesQuery(12000, Seq("/v"), Seq("distinct"), names = Seq("r"))).head()
    assert(row.getSeq[String](1) == Seq("a", null))
  }

  test("out-of-range JSON numbers are dropped like the reference's ErrRange") {
    val df = Seq(
      (B * 1000000000L + 1000000000L, """{"v": 1}"""),
      (B * 1000000000L + 2000000000L, """{"v": 1e999}"""),     // literal overflow
      (B * 1000000000L + 3000000000L, """{"v": "1e999"}"""),   // string overflow
      (B * 1000000000L + 4000000000L, """{"v": "1e-999"}""")   // string underflow
    ).toDF("ts", "doc")
    def q(r: String) = SeriesEngine.query(df,
      SeriesQuery(12000, Seq("/v"), Seq(r), names = Seq("r"))).head()
    // literal 1e999: json.Unmarshal errors -> value missing entirely
    assert(q("count").getLong(1) == 3L) // 1, "1e999", "1e-999" are non-nil
    // strings parse-fail in the float funnel -> only 1 contributes
    assert(q("sum").getDouble(1) == 1.0)
    assert(q("max").getDouble(1) == 1.0)
    assert(q("identity").getSeq[String](1) == Seq("1", null, "1e999", "1e-999"))
  }

  test("_id as a FILTER drops every doc (reference ptrs-loop-only special case)") {
    val df = Seq((B * 1000000000L, """{"v": 1}""")).toDF("ts", "doc")
    val rows = SeriesEngine.query(df, SeriesQuery(60000,
      Seq("/v"), Seq("count"),
      filters = Seq("_id" -> "2012-08-28T21:24:00Z"), names = Seq("n"))).collect()
    assert(rows.length == 1 && rows.head.getLong(1) == 0L)
  }

  test("invalid pointers (no leading slash) resolve to missing, not errors") {
    val df = Seq((B * 1000000000L, """{"v": 1}""")).toDF("ts", "doc")
    val rows = SeriesEngine.query(df, SeriesQuery(60000,
      Seq("v"), Seq("count"), names = Seq("n"))).collect()
    assert(rows.head.getLong(1) == 0L)
  }

  test("canonical keys are session-time-zone independent") {
    val tz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val df = Seq((1346189075374651880L, """{"v": 1}""")).toDF("ts", "doc")
      val rows = SeriesEngine.query(df, SeriesQuery(60000,
        Seq("_id"), Seq("any"), names = Seq("k"))).collect()
      assert(rows.head.getString(1) == "2012-08-28T21:24:35.37465188Z")
    } finally spark.conf.set("spark.sql.session.timeZone", tz)
  }

  test("non-finite inputs: Inf extreme nulls the result, NaN is ignored") {
    val df = Seq(
      (B * 1000000000L + 1000000000L, """{"v": "3"}"""),
      (B * 1000000000L + 2000000000L, """{"v": "+Inf"}"""),
      (B * 1000000000L + 3000000000L, """{"v": "NaN"}""")
    ).toDF("ts", "doc")
    def q(r: String) = SeriesEngine.query(df,
      SeriesQuery(12000, Seq("/v"), Seq(r), names = Seq("r"))).head()
    // reference feeds +Inf into the fold and nulls a non-finite final
    // result (query.go:471-488, 200-203): max{3, +Inf, NaN} ⇒ null
    assert(q("max").isNullAt(1))
    // min{3, +Inf, NaN}: 3 stays the minimum; NaN never displaces it
    assert(q("min").getDouble(1) == 3.0)
    // sum/avg absorb Inf/NaN → non-finite → null
    assert(q("sum").isNullAt(1))
    assert(q("avg").isNullAt(1))
  }

  test("pair rate conversion (query_test.go:74-96): 20→25 over 5 s = 1.0") {
    val df = Seq(
      ((B + 2) * 1000000000L, """{"v": "20"}"""),
      ((B + 7) * 1000000000L, """{"v": "25"}""")
    ).toDF("ts", "doc")
    val rows = SeriesEngine.query(df,
      SeriesQuery(5000, Seq("/v"), Seq("c"), names = Seq("r"))).collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((B * 1000, 1.0), ((B + 5) * 1000, 0.0)))
  }

  test("lookahead truncation: unparsable doc in a skipped bucket breaks the pair") {
    // parsable at bucket 0, unparsable doc alone in bucket 1, parsable
    // at bucket 2 — the reference's bucket-0 stream ends at the
    // unparsable lookahead, so NO rate pair may be emitted anywhere.
    val df = Seq(
      ((B + 1) * 1000000000L, """{"v": "10"}"""),
      ((B + 6) * 1000000000L, """{"v": "zzz"}"""),
      ((B + 11) * 1000000000L, """{"v": "20"}""")
    ).toDF("ts", "doc")
    val rows = SeriesEngine.query(df,
      SeriesQuery(5000, Seq("/v"), Seq("c"), names = Seq("r"))).collect()
    assert(rows.forall(_.getDouble(1) == 0.0), rows.mkString(","))
  }

  test("cross-bucket rate goes to the earlier bucket when adjacent") {
    // parsable last-of-bucket-0 and first-of-bucket-1: rate charged to 0
    val df = Seq(
      ((B + 4) * 1000000000L, """{"v": "10"}"""),
      ((B + 6) * 1000000000L, """{"v": "30"}""")
    ).toDF("ts", "doc")
    val rows = SeriesEngine.query(df,
      SeriesQuery(5000, Seq("/v"), Seq("c"), names = Seq("r"))).collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((B * 1000, 10.0), ((B + 5) * 1000, 0.0)))
  }

  test("same-timestamp docs: zero time-gap pair is dropped, not an error") {
    // ties are legal (seq breaks ordering); ANSI double division would
    // abort the whole query on the 0 s gap where Go yields ±Inf and
    // drops the pair (query.go:390)
    val ts = (B + 1) * 1000000000L
    val df = Seq(
      (ts, 1L, """{"v": 10}"""),
      (ts, 2L, """{"v": 99}"""), // same ns as the first: gap = 0
      ((B + 3) * 1000000000L, 3L, """{"v": 20}""")
    ).toDF("ts", "seq", "doc")
    val rows = SeriesEngine.query(df, SeriesQuery(groupMs = 60000,
      ptrs = Seq("/v"), reducers = Seq("c"), names = Seq("c"))).collect()
    // only the (99 → 20 over 2 s) pair survives: (20-99)/2 = -39.5
    assert(rows.map(_.get(1)).toSeq == Seq(-39.5))
  }

  test("rate pass is group-boundary-invariant (scalable windows)") {
    // 40 parsable docs at 1 s intervals, 12 s buckets: pair chains and
    // doc-lag state cross every group boundary when groups are 1
    // bucket wide; results must equal the wide-group (effectively
    // global) formulation for every c* reducer
    val df = (0 until 40).map(i =>
      ((B + i) * 1000000000L, s"""{"v": "${i * i}"}""")).toDF("ts", "doc")
    val q = SeriesQuery(12000, Seq("/v", "/v", "/v", "/v"),
      Seq("c", "c_min", "c_avg", "c_max"),
      names = Seq("c", "cmin", "cavg", "cmax"))
    def run(g: Int) = SeriesEngine.query(df, q, rateGroupBuckets = g)
      .collect().map(_.toSeq).toSeq
    val wide = run(1000000)
    assert(run(1) == wide)
    assert(run(2) == wide)
    assert(run(3) == wide)
    // and with an unparsable doc at a group edge breaking a chain
    val df2 = df.union(Seq(((B + 12) * 1000000000L + 1, """{"v": "x"}"""))
      .toDF("ts", "doc"))
    def run2(g: Int) = SeriesEngine.query(df2, q, rateGroupBuckets = g)
      .collect().map(_.toSeq).toSeq
    assert(run2(1) == run2(1000000))
  }

  test("partitionBy scopes buckets, rate chains, and ordering per series") {
    val df = Seq(
      ("a", (B + 1) * 1000000000L, """{"v": "10"}"""),
      ("b", (B + 2) * 1000000000L, """{"v": "100"}"""),
      ("a", (B + 6) * 1000000000L, """{"v": "20"}"""),
      ("b", (B + 7) * 1000000000L, """{"v": "600"}""")
    ).toDF("series", "ts", "doc")
    val rows = SeriesEngine.query(df, SeriesQuery(12000,
      Seq("/v", "/v"), Seq("sum", "c"), names = Seq("s", "c")),
      partitionBy = Seq("series")).collect()
    // rate chains must NOT cross series: a = (20-10)/5 = 2, b = (600-100)/5 = 100
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSeq == Seq(
        ("a", B * 1000, 30.0, 2.0),
        ("b", B * 1000, 700.0, 100.0)))
  }

  test("filters: equality on stringified values, pre-filter bucketing") {
    // minimum end-to-end slice (SURVEY.md §7.2 / FIXTURES.md §4)
    val df = Seq(
      (1346189040L * 1000000000L, """{"v": 10}"""),
      (1346189060L * 1000000000L, """{"v": 20, "sub": {"x": "a"}}"""),
      (1346189080L * 1000000000L, """{"v": 25}""")
    ).toDF("ts", "doc")
    val rows = SeriesEngine.query(df, SeriesQuery(60000,
      Seq("/v"), Seq("avg"), filters = Seq("/sub/x" -> "a"),
      names = Seq("avg_v"))).collect()
    // all three docs fall in bucket 1346189040000; only the matching
    // doc feeds the reducer
    assert(rows.length == 1)
    assert(rows.head.getLong(0) == 1346189040000L)
    assert(rows.head.getDouble(1) == 20.0)
  }

  test("filter on numeric value uses Go stringification") {
    val df = Seq(
      (B * 1000000000L, """{"v": 1, "t": 5.0}"""),  // 5.0 → "5"
      (B * 1000000000L + 1, """{"v": 2, "t": 6}""")
    ).toDF("ts", "doc")
    val rows = SeriesEngine.query(df, SeriesQuery(60000,
      Seq("/v"), Seq("sum"), filters = Seq("/t" -> "5"),
      names = Seq("s"))).collect()
    assert(rows.head.getDouble(1) == 1.0)
  }

  test("_id pointer yields canonical key strings") {
    val df = Seq((1346189075374651880L, """{"v": 1}""")).toDF("ts", "doc")
    val rows = SeriesEngine.query(df, SeriesQuery(60000,
      Seq("_id"), Seq("any"), names = Seq("k"))).collect()
    assert(rows.head.getString(1) == "2012-08-28T21:24:35.37465188Z")
  }

  test("from/to range is [from, to) and prunes buckets") {
    val df = (0 until 10).map(i =>
      ((B + i * 10) * 1000000000L, s"""{"v": $i}""")).toDF("ts", "doc")
    val rows = SeriesEngine.query(df, SeriesQuery(10000,
      Seq("/v"), Seq("sum"), from = Some((B + 20).toString),
      to = Some((B + 50).toString), names = Seq("s"))).collect()
    assert(rows.map(_.getLong(0)).toSeq ==
      Seq((B + 20) * 1000, (B + 30) * 1000, (B + 40) * 1000))
  }

  test("plan shape: a non-rate query shuffles once, with no range exchange") {
    val df = run("sum")
    df.collect() // materialize so AQE settles on the final plan
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val p = plan.toString
    assert(!p.contains("rangepartitioning"), s"global sort exchange:\n$p")
    assert("\\bExchange\\b".r.findAllIn(p).size == 1, s"exchanges:\n$p")
  }
}
