package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Perf-only scale-up generator: derives an approximately-`factor`×
 * dataset from a driver-provided SF directory, for benchmarking scan
 * parallelism, shuffle sizing, and join strategy at data sizes the
 * fixed testdata doesn't cover (its sf0.1 parquet is a single row
 * group, so every scan stage is one task and stage latency dominates —
 * BASELINE.md). Correctness gates do NOT use this data; the driver's
 * parquet stays the only oracle input.
 *
 * Scaling follows TPC-H's shape: region/nation stay fixed; the fact
 * and per-SF dimension tables replicate `factor`× with key offsets
 * that keep join fan-in/fan-out per replica identical to the source
 * (replica k's orders reference replica k's customers, and so on).
 * Events keep their timestamps (buckets get denser, as a busier series
 * would) with a +k ns nudge so replicas don't collide on a key.
 * Document text is perturbed with ~n/3 replica-unique tokens so
 * replicas land BELOW the near-dup Jaccard threshold — dedup workload
 * grows linearly, not as replica-clique pair blowup; embeddings get a
 * deterministic per-replica nudge for the same reason.
 *
 * TEXT MODES (r17): the default `unique` perturbation mints ~n/3 NEW
 * word types per replica (`r<doc>x<i>` tokens — nothing shared, so
 * LSH buckets never degenerate), which makes corpus VOCABULARY grow
 * linearly with the factor — real corpora grow Heaps-sublinearly, so
 * every vocabulary-bound operator (tokenizer trainers, n-gram LMs,
 * keyword/collocation stats) scales like the synthetic noise, not
 * like production data (BASELINE item 37: all >3× sf1 scalers traced
 * to exactly this). `zipf` draws the same ~n/3 extra tokens from a
 * FIXED 10⁶-type vocabulary under a true Zipf(1) law (inverse-CDF
 * `rank = V^u` over a deterministic per-(doc, replica, i) uniform):
 * type growth saturates sublinearly (frequent ranks repeat, the tail
 * stays hapax-rich), which is the honest test of the type-bounded
 * trainer caps. Near-dup safety holds in both modes: draws are keyed
 * per (doc, replica, position), so two docs share individual tokens,
 * not 3-token shingle runs.
 *
 * Usage: `runMain graft.tools.ScaleGen <srcDir> <outDir> [factor=10]
 * [files=32] [textMode=unique|zipf]`
 */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val files = if (args.length > 3) args(3).toInt else 32
    val textMode = if (args.length > 4) args(4) else "unique"
    val spark = LocalSession()
    generate(spark, src, out, factor, files, textMode)
    spark.stop()
  }

  def generate(spark: SparkSession, src: String, out: String,
      factor: Int, files: Int, textMode: String = "unique"): Unit = {
    require(textMode == "unique" || textMode == "zipf",
      s"textMode must be unique|zipf, got $textMode")
    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(name: String, df: DataFrame): Unit =
      df.repartition(files).write.mode(SaveMode.Overwrite)
        .parquet(s"$out/$name.parquet")
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1

    // fixed dims copy through untouched (multi-file is pointless there)
    Seq("region", "nation").foreach { n =>
      read(n).write.mode(SaveMode.Overwrite).parquet(s"$out/$n.parquet")
    }

    /** factor× replication: per replica k (kept as `__k` for further
     * perturbation), add `off(col) * k` to each listed key column. */
    def replicated(df: DataFrame, offsets: (String, Long)*): DataFrame = {
      val reps = explode(sequence(lit(0L), lit(factor - 1L))).as("__k")
      offsets.foldLeft(df.select(col("*"), reps)) { case (d, (c, off)) =>
        d.withColumn(c, col(c) + col("__k") * lit(off))
      }
    }
    def replicate(df: DataFrame, offsets: (String, Long)*): DataFrame =
      replicated(df, offsets: _*).drop("__k")

    val cust = read("customer"); val supp = read("supplier")
    val part = read("part"); val ord = read("orders")
    val (mc, ms, mp, mo) = (maxOf(cust, "c_custkey"), maxOf(supp, "s_suppkey"),
      maxOf(part, "p_partkey"), maxOf(ord, "o_orderkey"))
    write("customer", replicate(cust, "c_custkey" -> mc))
    write("supplier", replicate(supp, "s_suppkey" -> ms))
    write("part", replicate(part, "p_partkey" -> mp))
    write("orders", replicate(ord, "o_orderkey" -> mo, "o_custkey" -> mc))
    write("lineitem", replicate(read("lineitem"),
      "l_orderkey" -> mo, "l_suppkey" -> ms, "l_partkey" -> mp))

    val ev = read("events")
    val me = maxOf(ev, "event_id")
    // schema-adaptive nudge (the driver has shipped ts as both epoch-ns
    // BIGINT and TIMESTAMP(MICROS)): +k at the column's own resolution —
    // replicas stay distinct keys, buckets/windows unchanged. Output
    // keeps the INPUT schema so the engine's normalizer sees the same
    // shape the driver shipped.
    val tsNudge = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => col("ts") + col("__k")
      case _ => expr("timestampadd(MICROSECOND, __k, ts)")
    }
    write("events", replicated(ev, "event_id" -> me)
      .withColumn("ts", tsNudge)
      .drop("__k"))

    val docs = read("documents")
    val md = maxOf(docs, "doc_id")
    // ~n/3 extra tokens per replica: Jaccard vs the original ≈ 0.75,
    // below the 0.8 near-dup gate — replicas are similar, not dups.
    // unique mode: doc-scoped replica tokens (a suffix shared ACROSS
    // docs would give unrelated docs common shingles and degenerate
    // LSH buckets; keyed by (doc, k, i) nothing is shared) — but each
    // token is a NEW word type, so vocabulary grows linearly.
    // zipf mode: draw rank = ⌊V^u⌋ from a fixed V=10⁶ vocabulary
    // (inverse CDF of Zipf(1): P(rank ≤ x) = ln x / ln V) with a
    // deterministic per-(doc, k, i) uniform — Heaps-style sublinear
    // type growth, hapax-rich tail, no shared shingle RUNS (single
    // shared tokens don't collide 3-gram shingles).
    val nExtra = greatest(
      (size(split(col("text"), " ")) / 3).cast("int"), lit(1))
    val zipfV = 1000000L
    def extraTok(i: org.apache.spark.sql.Column) =
      if (textMode == "zipf") {
        val u = (graft.functions.Hash60Expr.hash60(concat(
            col("doc_id").cast("string"), lit("z"),
            col("__k").cast("string"), lit("x"), i.cast("string")))
          .cast("double") + lit(1.0)) / lit(1.152921504606847e18)
        concat(lit("z"), greatest(lit(1L), least(lit(zipfV),
          floor(exp(u * lit(math.log(zipfV.toDouble)))).cast("long"))))
      } else
        concat(lit("r"), col("doc_id"), lit("x"), i)
    write("documents", replicated(docs, "doc_id" -> md)
      .withColumn("text",
        when(col("__k") === 0, col("text")).otherwise(concat(col("text"),
          lit(" "),
          concat_ws(" ", transform(sequence(lit(1), nExtra), extraTok(_))))))
      .drop("__k"))

    val emb = read("embeddings")
    val mv = maxOf(emb, "vec_id")
    write("embeddings", replicated(emb, "vec_id" -> mv)
      .withColumn("embedding", transform(col("embedding"),
        (x, i) => (x + (col("__k") % 7).cast("float") * lit(0.01f) *
          ((i % 5).cast("float") - lit(2.0f)))))
      .drop("__k"))
  }
}
