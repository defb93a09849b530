package graft.operators

import graft.functions.JsonPointersExpr
import graft.functions.JsonPointersExpr.{jsonPointers, KindMissing, KindNull, KindObject, KindScalar}
import graft.timelib.TimeLib
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/**
 * The analytical query of the engine: a time-bucketed group-by with N
 * parallel (JSON-pointer → reducer) aggregations and optional equality
 * filters — the full semantics of the reference's `GET /db/_query`
 * (reference: handlers.go:113-228, query.go:240-333).
 *
 * Input frame contract: `ts` LONG (epoch nanoseconds — the engine's
 * ordering/grouping truth, see SURVEY.md §7.4.2) and `doc` STRING
 * (schemaless JSON). An optional `seq` LONG column breaks ordering
 * ties for same-ns rows (the reference's couchstore keys are unique
 * strings, so ties cannot arise there).
 *
 * Deliberate divergence (SURVEY.md §7.5): ordering/bucketing is
 * chronological (numeric ns). The reference compares trimmed
 * RFC3339Nano key STRINGS, where `'.' < 'Z'` puts fractional keys
 * before their whole-second boundary — a byte-order quirk this
 * engine does not replicate.
 *
 * Plan shape (one shuffle for the group-by; Catalyst pushes the ts
 * range to the parquet scan and prunes columns):
 *   scan → range filter → single-parse pointer projection →
 *   groupBy(bucket) agg(N masked exprs) [⟕ rate-pass agg] →
 *   single-partition sort.
 * The bucket rows are few (AQE already coalesces the aggregate to one
 * partition below its advisory size) and a response drains them
 * serially, so the output is `coalesce(1).sortWithinPartitions`, not a
 * global `orderBy`, whose range exchange costs a sampling job and a
 * second shuffle: a non-rate query runs as two jobs, not four.
 *
 * Scale notes: the rate reducers (`c*`) need a total order over the
 * series (reference: query.go:358-405 is a sequential fold). Rather
 * than a global `Window.orderBy(ts)` (which moves the series to one
 * partition), the rate pass windows within coarse time groups and
 * broadcast-joins a tiny per-group carry frame — see [[ratePass]].
 * Multi-series workloads additionally partition by the series key
 * (`SeriesEngine.query(df, q, partitionBy = ...)`).
 */
object SeriesEngine {

  /** Query parameters, mirroring `GET /db/_query` (handlers.go:113-166).
   * `ptrs(i)` is reduced by `reducers(i)`; `filters` are ANDed equality
   * tests on stringified pointer values; `from`/`to` accept every
   * format `TimeLib.parseTime` accepts; range is [from, to). */
  case class SeriesQuery(
      groupMs: Long,
      ptrs: Seq[String],
      reducers: Seq[String],
      from: Option[String] = None,
      to: Option[String] = None,
      filters: Seq[(String, String)] = Nil,
      names: Seq[String] = Nil) {
    require(groupMs > 0, "group must be a positive number of milliseconds")
    require(ptrs.nonEmpty && ptrs.length == reducers.length,
      "need equal, nonzero numbers of ptr and reducer params")
    require(reducers.forall(allReducers.contains),
      s"unknown reducer among $reducers")
    require(names.isEmpty || (names.length == ptrs.length &&
      names.distinct.length == names.length),
      "names must be absent, or one distinct name per ptr/reducer")
    def outNames: Seq[String] =
      if (names.nonEmpty) names else reducers.indices.map(i => s"r$i")
  }

  val rateReducers = Set("c", "c_min", "c_avg", "c_max")
  val allReducers: Set[String] = Set("identity", "any", "distinct", "count",
    "sum", "sumsq", "max", "min", "avg", "obj_keys", "obj_distinct_keys") ++
    rateReducers

  /** reducers whose output column supports numeric post-processing */
  val numericReducers: Set[String] =
    Set("count", "sum", "sumsq", "max", "min", "avg") ++ rateReducers

  /** Optional derived-series post-processing over a finished `_query`
   * bucket frame (beyond-reference: the reference's param surface,
   * handlers.go:113-166, stops at reduce — this hangs gap-fill /
   * smoothing / anomaly flags off the same table, applied in the
   * order fill → smooth → anomaly over the reducer column selected
   * by `valueIndex`). `fill` inserts every group-grid bucket between
   * the first and last occupied one, with null reducer values (the
   * smoothers then skip them — [[SeriesStats.smooth]]). Smoothing and
   * anomaly scoring require the target reducer to be numeric
   * ([[numericReducers]]). */
  case class PostProcess(
      fill: Boolean = false,
      smoothRoll: Option[Int] = None,
      smoothAlpha: Double = 0.3,
      smoothLags: Int = 8,
      anomaly: Option[Double] = None,
      valueIndex: Int = 0,
      seasonalPeriod: Option[Int] = None,
      changepoint: Boolean = false) {
    def isNoop: Boolean = !fill && smoothRoll.isEmpty && anomaly.isEmpty &&
      seasonalPeriod.isEmpty && !changepoint
    def needsNumeric: Boolean = smoothRoll.isDefined || anomaly.isDefined ||
      seasonalPeriod.isDefined || changepoint
    /** extra per-bucket array elements, in emit order: smooth →
     * seasonal → anomaly → changepoint (each derived from the same
     * `valueIndex` reducer column) */
    def derived: Seq[String] =
      (if (smoothRoll.isDefined) Seq("roll_mean", "ewma") else Nil) ++
        (if (seasonalPeriod.isDefined) Seq("seasonal_mean", "residual")
         else Nil) ++
        (if (anomaly.isDefined) Seq("z", "is_anomaly") else Nil) ++
        (if (changepoint) Seq("cusum", "is_changepoint") else Nil)
  }

  /** Runs the query; output is one row per bucket that contains ≥1
   * in-range document (pre-filter, as in the reference — query.go:264-289):
   * `bucket_ms` LONG plus one column per reducer, ordered by bucket in
   * a single partition.
   *
   * `partitionBy` runs the query independently per series key (one
   * seriesly database = one series; a keyed table holds many): the
   * key columns prefix the output, and grouping, rate chains, and
   * ordering are all scoped per key.
   *
   * With `jsonEncoded`, the identity/any reducers emit values already
   * JSON-encoded (scalars as escaped JSON strings, objects/arrays as
   * their raw JSON text) so a response writer needs no value-kind
   * sniffing — a scalar that happens to start with '{' stays a
   * properly quoted string. */
  def query(df: DataFrame, q: SeriesQuery,
      partitionBy: Seq[String] = Nil, jsonEncoded: Boolean = false,
      rateGroupBuckets: Int = 64): DataFrame = {
    val (projected, ext, seqCol) = prepare(df, q)

    // ---- per-reducer masked aggregation expressions -------------------
    val named = q.ptrs.lazyZip(q.reducers).lazyZip(q.outNames).toSeq
    val mainAggs = named.collect {
      case (ptr, red, name) if !rateReducers.contains(red) =>
        reducerAgg(red, ext(ptr), col("__pass"), seqCol, jsonEncoded).as(name)
    }

    val parts = partitionBy.map(col)
    val grouped = projected
      .groupBy(parts :+ col("__bucket"): _*)
      .agg(count(lit(1)).as("__ndocs"), mainAggs: _*)

    // ---- rate pre-pass (c family) -------------------------------------
    val ratePtrs = named.collect {
      case (ptr, red, _) if rateReducers.contains(red) => ptr
    }.distinct
    val result =
      if (ratePtrs.isEmpty) grouped
      else {
        val rates = ratePass(projected, ratePtrs, ext, partitionBy,
          q.groupMs * 1000000L, rateGroupBuckets)
        val rateAggs = named.collect {
          case (ptr, red, name) if rateReducers.contains(red) =>
            val r = col(s"__rate_${ratePtrs.indexOf(ptr)}")
            (red match {
              // rates are pre-filtered to finite values in ratePass
              // (convertTofloat64Rate drops NaN/Inf pairs, query.go:390)
              case "c" => sum(r)
              case "c_min" => min(r)
              case "c_avg" => avg(r)
              case "c_max" => max(r)
            }).as(name)
        }
        val rateGrouped = rates
          .groupBy(parts :+ col("__rbucket"): _*)
          .agg(rateAggs.head, rateAggs.tail: _*)
          .withColumnRenamed("__rbucket", "__bucket")
        grouped.join(rateGrouped, partitionBy :+ "__bucket", "left")
      }

    // ---- output: bucket-start ms key, reducer columns in query order,
    //      NaN/±Inf → null at the result edge (query.go:200-203) -------
    val outCols = named.map { case (_, red, name) =>
      normalizeOut(red, col(name)).as(name)
    }
    // (parts, bucket_ms) is unique per row: the same order as a global
    // sort, without its range exchange (see "Plan shape" above)
    result
      .select(parts ++
        (graft.functions.ldiv(col("__bucket"), 1000000L).as("bucket_ms") +: outCols): _*)
      .coalesce(1)
      .sortWithinPartitions(parts :+ col("bucket_ms"): _*)
  }

  /** NaN/±Inf → null at the result edge; empty sums ⇒ 0.0
   * (query.go:200-203 and the 0-valued reducer initials). */
  private def normalizeOut(red: String, c: Column): Column = red match {
    case "sum" | "sumsq" | "c" => nanInfToNull(coalesce(c, lit(0.0)))
    case "max" | "min" | "avg" | "c_min" | "c_avg" | "c_max" => nanInfToNull(c)
    case _ => c
  }

  /**
   * Shared front half of the query: range predicate (pushed to the
   * source by Catalyst), single-parse pointer projection, filter mask,
   * and epoch-anchored bucket column.
   *
   * All pointers a query mentions (aggregation ∪ filter) are resolved
   * in ONE document parse (the reference dedups the same way,
   * query.go:93-110); `_id` resolves to the canonical key string.
   * Filters test stringified-value equality; docs whose filter value
   * is missing, null, an object, or an array are dropped
   * (query.go:112-128) — their kind yields str NULL here, so `===`
   * evaluates to null and coalesce fails the row. Filtered docs still
   * materialize their bucket (the reference buckets on pre-filter
   * DocumentInfos), so aggregation inputs are masked instead of rows
   * filtered.
   */
  private def prepare(df: DataFrame, q: SeriesQuery)
      : (DataFrame, String => Column, Column) = {
    val chunkNs = q.groupMs * 1000000L
    val fromNs = q.from.map(s => TimeLib.parseTime(s).getOrElse(
      throw new IllegalArgumentException(s"bad from timestamp: $s")))
    val toNs = q.to.map(s => TimeLib.parseTime(s).getOrElse(
      throw new IllegalArgumentException(s"bad to timestamp: $s")))

    var base = df
    fromNs.foreach(n => base = base.filter(col("ts") >= lit(n)))
    toNs.foreach(n => base = base.filter(col("ts") < lit(n)))

    val uniquePtrs = (q.ptrs ++ q.filters.map(_._1)).distinct
    val jsonPtrs = uniquePtrs.filterNot(_ == "_id")
    val seqCol = if (df.columns.contains("seq")) col("seq") else lit(0L)

    var projected = base.withColumn("__ext",
      if (jsonPtrs.nonEmpty) jsonPointers(col("doc"), jsonPtrs) else lit(null))
    if (uniquePtrs.contains("_id"))
      projected = projected.withColumn("__id_str", canonicalKeyCol(col("ts")))

    def ext(ptr: String): Column =
      if (ptr == "_id")
        struct(lit(KindScalar).cast("byte").as("kind"),
          col("__id_str").as("str"), lit(null).cast(DoubleType).as("num"),
          lit(null).cast("array<string>").as("keys"), col("__id_str").as("raw"))
      else col("__ext").getField(s"p${jsonPtrs.indexOf(ptr)}")

    // `_id` is a ptrs-loop special case ONLY in the reference
    // (query.go:130-133); as a filter it resolves to nothing and drops
    // every doc (the filter type-switch default, query.go:112-128)
    val passes: Column = q.filters
      .map { case (p, v) =>
        if (p == "_id") lit(false)
        else coalesce(ext(p).getField("str") === lit(v), lit(false))
      }
      .reduceOption(_ && _).getOrElse(lit(true))

    projected = projected
      // floor-to-chunk in pure long arithmetic (Go truncates toward
      // zero instead — differs only for pre-1970 timestamps)
      .withColumn("__bucket", col("ts") - pmod(col("ts"), lit(chunkNs)))
      .withColumn("__pass", passes)
    (projected, ext, seqCol)
  }

  /**
   * Streaming flavor of the bucketed aggregation (beyond the
   * reference, which is query-batch only — SURVEY.md §2.7): the same
   * projection/filter/reducer semantics over an unbounded `(ts, doc)`
   * stream, as a watermarked tumbling-window aggregation. Append mode
   * emits each bucket once its watermark passes — use it with
   * `writeStream` into any sink. Rate reducers need the total series
   * order and are not streamable.
   */
  def streamingQuery(df: DataFrame, q: SeriesQuery,
      watermark: String = "10 seconds"): DataFrame = {
    require(q.reducers.forall(r => !rateReducers.contains(r)),
      "rate reducers (c*) need total series order; not streamable")
    require(q.from.isEmpty && q.to.isEmpty,
      "range bounds are a batch concern; filter the stream instead")
    val (projected, ext, seqCol) = prepare(df, q)
    val named = q.ptrs.lazyZip(q.reducers).lazyZip(q.outNames).toSeq
    val aggs = named.map { case (ptr, red, name) =>
      reducerAgg(red, ext(ptr), col("__pass"), seqCol).as(name)
    }
    val outCols = named.map { case (_, red, name) =>
      normalizeOut(red, col(name)).as(name)
    }
    projected
      .withColumn("__event_time", expr("timestamp_micros(ts div 1000)"))
      .withWatermark("__event_time", watermark)
      .groupBy(window(col("__event_time"), s"${q.groupMs} milliseconds"))
      .agg(aggs.head, aggs.tail: _*)
      .select(graft.functions.ldiv(unix_micros(col("window.start")), 1000L)
        .as("bucket_ms") +: outCols: _*)
  }

  private def nanInfToNull(c: Column): Column =
    when(isnan(c) || c === lit(Double.PositiveInfinity) ||
      c === lit(Double.NegativeInfinity), lit(null).cast(DoubleType)).otherwise(c)

  /** Canonical RFC3339Nano key string from epoch ns (Go trims trailing
   * fraction zeros). Built from date/second arithmetic only — NOT
   * date_format on a timestamp, which renders in the session time
   * zone and would mislabel keys 'Z' on non-UTC sessions. */
  def canonicalKeyCol(ts: Column): Column = {
    val frac = pmod(ts, lit(1000000000L)).cast("long")
    val secs = graft.functions.ldiv(ts - frac, 1000000000L) // floor division
    val rem = pmod(secs, lit(86400L))
    val days = graft.functions.ldiv(secs - rem, 86400L)
    // DateType formatting carries no time zone
    val dateStr = date_format(date_add(lit(java.time.LocalDate.EPOCH),
      days.cast("int")), "yyyy-MM-dd")
    val body = concat(dateStr, lit("T"),
      format_string("%02d:%02d:%02d",
        graft.functions.ldiv(rem, 3600L),
        graft.functions.ldiv(pmod(rem, lit(3600L)), 60L),
        pmod(rem, lit(60L))))
    val fracStr = regexp_replace(format_string("%09d", frac), "0+$", "")
    when(frac === 0, concat(body, lit("Z")))
      .otherwise(concat(body, lit("."), fracStr, lit("Z")))
  }

  /** One aggregation expression per non-rate reducer, masked by the
   * filter predicate (reducer registry: query.go:407-570). */
  private def reducerAgg(red: String, e: Column, pass: Column, seq: Column,
      jsonEncoded: Boolean = false): Column = {
    val kind = e.getField("kind")
    val str = e.getField("str")
    val num = e.getField("num")
    val keys = e.getField("keys")
    val raw = e.getField("raw")
    val present = pass && kind =!= lit(KindMissing) && kind =!= lit(KindNull)
    // JSON-encode a scalar with full escaping via to_json of a
    // one-field struct (codegen'd), then strip the fixed {"v": … }
    // wrapper: 5 chars of prefix, 1 of suffix.
    def jsonStr(c: Column): Column = {
      val js = to_json(struct(c.as("v")))
      substring(js, lit(6), length(js) - 6)
    }
    // identity/any carry the funnel value: scalars stringified,
    // missing/JSON-null → SQL null (processDoc emits nil for both —
    // query.go:130-145), objects/arrays as compact JSON text.
    val value = when(kind === lit(KindScalar), if (jsonEncoded) jsonStr(str) else str)
      .when(kind === lit(KindObject) || kind === lit(JsonPointersExpr.KindArray), raw)
    val ord = struct(col("ts"), seq)
    red match {
      case "identity" =>
        // all included values in ts order, nulls kept (query.go:408-416)
        transform(
          array_sort(collect_list(when(pass, struct(ord.as("o"), value.as("v"))))),
          x => x.getField("v"))
      case "any" => // first included non-null value (query.go:417-425)
        min_by(when(present, value), when(present, ord))
      case "distinct" =>
        // set of included scalars; objects/arrays skipped as unhashable
        // (query.go:426-447); emitted sorted for determinism (the
        // reference's order is map-iteration random). A missing/null
        // value lands in the reference's set as nil (the type-switch
        // default hashes it), so any such doc appends one null.
        val set = array_sort(collect_set(when(pass && kind === lit(KindScalar), str)))
        val sawNil = max(when(pass &&
          (kind === lit(KindMissing) || kind === lit(KindNull)), 1))
        when(sawNil === 1, concat(set, array(lit(null).cast("string"))))
          .otherwise(set)
      case "count" => // included non-null values, no float parse
        count(when(present, lit(1)))
      case "sum" => sum(when(pass, num))
      case "sumsq" => sum(when(pass, num * num))
      // max/min feed ±Inf into the aggregation and null a non-finite
      // FINAL result (nanInfToNull at the output edge), matching the
      // reference for inf-is-the-extreme inputs (query.go:471-488).
      // NaN inputs are dropped: the reference never keeps NaN once any
      // finite value arrives, while Spark orders NaN above every value.
      // Remaining documented divergence: the reference's accumulator is
      // REPLACED by whatever follows a non-finite value ({+Inf, 3} ⇒ 3
      // there, null here) — an order-dependent quirk of its fold.
      case "max" => max(when(pass && !isnan(num), num))
      case "min" => min(when(pass && !isnan(num), num))
      // avg is an order-free DECIMAL sum / count (dataCard's
      // construction), not a double fold: partial-aggregation order
      // flips a double avg's 6th decimal across partitionings, and the
      // exact decimal sum is engine-reproducible. Per-value rounding to
      // 12 dp is 6 digits below the result edge's own rounding.
      // Non-finite inputs can't ride the decimal sum (Inf/NaN cast to
      // decimal is null, which would silently DROP the value the
      // reference's float fold poisons the whole sum with) — any
      // passing Inf/NaN forces the fold's non-finite outcome, which
      // the result edge then nulls. The emit is the tiered-scale
      // decToDouble, so a hot bucket whose sum crosses the 2⁶⁴
      // unscaled-cast cliff stays engine-portable (SURVEY §7.5).
      case "avg" =>
        val nonfinite = isnan(num) ||
          num === lit(Double.PositiveInfinity) ||
          num === lit(Double.NegativeInfinity)
        when(count(when(pass && nonfinite, lit(1))) > lit(0), lit(Double.NaN))
          .otherwise(
            graft.functions.decToDouble(
              sum(when(pass, num).cast("decimal(38,12)"))) /
              count(when(pass, num)))
      case "obj_keys" =>
        // every included object's keys, in ts order, duplicates kept
        flatten(transform(
          array_sort(collect_list(when(pass && kind === lit(KindObject),
            struct(ord.as("o"), keys.as("k"))))),
          x => x.getField("k")))
      case "obj_distinct_keys" =>
        array_sort(array_distinct(flatten(collect_list(
          when(pass && kind === lit(KindObject), keys)))))
    }
  }

  /**
   * Rate stream for the `c*` family (reference: query.go:358-405): over
   * passing, float-parsable values in ts order, each adjacent pair
   * (i, j) yields `(v_j − v_i) / ((ts_j − ts_i)/1e9)` per-second rates,
   * NaN/±Inf pairs dropped. A pair is charged to bucket(i), and is only
   * emitted if no document (parsable or not, passing or not) strictly
   * between i and j falls outside bucket(i) — that reproduces the
   * reference's lookahead truncation, where bucket k's stream ends at
   * the FIRST document of the next non-empty bucket (query.go:43-44,
   * 177-194,291-296).
   *
   * Scale shape: a naive global `Window.orderBy(ts)` moves the whole
   * series to ONE partition. Instead rows are windowed within coarse
   * time groups of `rateGroupBuckets` buckets, and the only cross-
   * group state a row needs — the last parsable value and the last
   * document bucket anywhere before its group — comes from a per-group
   * summary frame (#groups rows, windowed globally at negligible cost)
   * broadcast-joined back. Work parallelizes across groups; results
   * are identical to the global-window formulation.
   */
  private def ratePass(projected: DataFrame, ratePtrs: Seq[String],
      ext: String => Column, partitionBy: Seq[String], chunkNs: Long,
      rateGroupBuckets: Int): DataFrame = {
    val parts = partitionBy.map(col)
    val partNames = partitionBy
    val seqC = if (projected.columns.contains("seq")) col("seq") else lit(0L)
    val groupWidth =
      if (chunkNs > Long.MaxValue / rateGroupBuckets) Long.MaxValue
      else chunkNs * rateGroupBuckets
    var df = projected.withColumn("__grp",
      graft.functions.ldiv(col("__bucket"), groupWidth))
    ratePtrs.zipWithIndex.foreach { case (p, i) =>
      df = df.withColumn(s"__num_$i", when(col("__pass"), ext(p).getField("num")))
    }
    val wG = Window.partitionBy(parts :+ col("__grp"): _*).orderBy(col("ts"), seqC)
    // within-group: bucket of the immediately preceding doc, and (per
    // pointer) the last preceding parsable value — lag over only-
    // parsable rows emulated with last_value(ignoreNulls)
    df = df.withColumn("__prev_doc_bucket_w", lag(col("__bucket"), 1).over(wG))
    ratePtrs.indices.foreach { i =>
      val n = col(s"__num_$i")
      df = df.withColumn(s"__prev_${i}_w",
        last(when(n.isNotNull,
          struct(col("ts").as("ts"), n.as("v"), col("__bucket").as("b"))),
          ignoreNulls = true)
          .over(wG.rowsBetween(Window.unboundedPreceding, -1)))
    }
    // per-group summaries → carry-in state for each group's first rows
    val ordStruct = struct(col("ts").as("ts"), seqC.as("seq"))
    val sumAggs =
      max_by(col("__bucket"), ordStruct).as("__last_doc_bucket") +:
        ratePtrs.indices.map { i =>
          val n = col(s"__num_$i")
          max_by(when(n.isNotNull,
            struct(col("ts").as("ts"), n.as("v"), col("__bucket").as("b"))),
            when(n.isNotNull, ordStruct)).as(s"__last_p_$i")
        }
    val sums = df.groupBy(parts :+ col("__grp"): _*)
      .agg(sumAggs.head, sumAggs.tail: _*)
    val wS = Window.partitionBy(parts: _*).orderBy(col("__grp"))
    var carries = sums.withColumn("__carry_doc_bucket",
      lag(col("__last_doc_bucket"), 1).over(wS))
    ratePtrs.indices.foreach { i =>
      carries = carries.withColumn(s"__carry_$i",
        last(col(s"__last_p_$i"), ignoreNulls = true)
          .over(wS.rowsBetween(Window.unboundedPreceding, -1)))
    }
    val carrySel = carries.select(
      (parts :+ col("__grp") :+ col("__carry_doc_bucket")) ++
        ratePtrs.indices.map(i => col(s"__carry_$i")): _*)
    df = df.join(broadcast(carrySel), partNames :+ "__grp", "left")
    // stitch: within-group state, else the carry from earlier groups
    df = df.withColumn("__prev_doc_bucket",
      coalesce(col("__prev_doc_bucket_w"), col("__carry_doc_bucket")))
    ratePtrs.indices.foreach { i =>
      df = df.withColumn(s"__prev_$i",
        when(col(s"__num_$i").isNotNull,
          coalesce(col(s"__prev_${i}_w"), col(s"__carry_$i"))))
    }
    // rate for pointer i at parsable row j, charged to prev bucket.
    // try_divide: two docs can legally share one ns timestamp (ties
    // break on seq), and ANSI mode would THROW on the zero time gap
    // where Go's float division yields ±Inf — either way the pair is
    // dropped (the reference's isfinite check, query.go:390; the null
    // here fails `emit` the same way), but the query must not abort.
    val out = ratePtrs.indices.foldLeft(df) { case (d, i) =>
      val n = col(s"__num_$i")
      val p = col(s"__prev_$i")
      val rate = try_divide(n - p.getField("v"),
        (col("ts") - p.getField("ts")).cast(DoubleType) / lit(1e9))
      val emit = n.isNotNull && p.isNotNull &&
        col("__prev_doc_bucket") === p.getField("b") &&
        !isnan(rate) && rate =!= lit(Double.PositiveInfinity) &&
        rate =!= lit(Double.NegativeInfinity)
      d.withColumn(s"__rate_$i", when(emit, rate))
        .withColumn(s"__rbucket_$i", when(emit, p.getField("b")))
    }
    // fan the per-pointer rates out to (bucket, rate_0..rate_n) rows in
    // ONE pass: each row carries an array of (ptr idx, charged bucket,
    // rate) entries, nulls dropped in-array, exploded once. (A per-
    // pointer filter+union would re-execute the whole window pass N
    // times absent exchange reuse.) Different pointers may charge a row
    // to different buckets, so each entry becomes its own output row and
    // the downstream bucket group-by recombines them.
    val entries = array(ratePtrs.indices.map { i =>
      struct(lit(i).as("i"), col(s"__rbucket_$i").as("b"), col(s"__rate_$i").as("r"))
    }: _*)
    out
      .select(parts :+
        explode(filter(entries, e => e.getField("r").isNotNull)).as("__e"): _*)
      .select(parts ++ (col("__e").getField("b").as("__rbucket") +:
        ratePtrs.indices.map { k =>
          when(col("__e").getField("i") === lit(k), col("__e").getField("r"))
            .as(s"__rate_$k")
        }): _*)
  }
}
