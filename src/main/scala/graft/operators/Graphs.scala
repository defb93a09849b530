package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.ldiv

/**
 * Graph centrality over an edge frame: PageRank (Page et al., 1999)
 * as a fixed-iteration, join-based computation — the link-analysis
 * pass of a web-crawl curation pipeline (rank pages before filtering)
 * and the generic "which node matters" statistic for any
 * transition/citation/co-occurrence graph a corpus build derives.
 *
 * Determinism across engines is the design constraint (the oracle is
 * a different engine): ALL arithmetic is integer. Rank mass lives in
 * units of `1/scale` (default 1e-12); edge transition probabilities
 * are pre-normalized to integer micro-fractions
 * (`ew = (w · 10⁶) div outw(src)`, computed ONCE); every division is
 * a floor on non-negative longs, which every engine reproduces
 * bit-exactly. Floors leak a little mass per iteration — the ranking
 * is unaffected and the leak is the price of cross-engine hash
 * equality (float summation order would differ).
 *
 * Overflow bounds (documented, `require`-checked where cheap):
 * `pr ≤ scale ≤ 1e12`, `ew ≤ 1e6`, so the per-edge product
 * `pr·ew ≤ 1e18 < 2⁶³`; `w·10⁶` holds to ~9.2e12 edges per src —
 * comfortably past a 100 TB corpus graph.
 *
 * Materialization semantics under the r17 `Lazy` default (ADVICE
 * r17): values unchanged, but pagerank/ppr/hits results materialize
 * at the caller's FIRST action — failures surface there, and
 * concurrent first consumers should force the frame once (or pass
 * `CheckpointMode.Local` for the old eager-at-return behavior).
 *
 * Scale shape: one group-by to collapse raw edges, one to compute
 * out-weights; each iteration is edges ⋈ ranks on `src` (both sides
 * partitioned by the join key; AQE broadcasts the rank frame when
 * |nodes| is small) followed by a map-side-combined sum per `dst`.
 * Ranks materialize per round (the [[Dedup.clusters]] discipline)
 * so lineage stays flat — `localCheckpoint` by default, or a
 * reliable checkpoint directory via the `ckpt` parameter
 * ([[CheckpointMode.Reliable]]) when executor loss must not kill a
 * long run; the dangling mass is the one
 * driver scalar per round — O(1) data, same as k-means' moved-count.
 * Nothing corpus-sized ever sits in driver memory.
 */
object Graphs {

  /**
   * `edges`: one row per edge occurrence (or pre-weighted via
   * repetition); multi-edges aggregate by count. Self-loops are legal
   * and count toward out-weight. Returns (node, pr) with `pr` the
   * integer rank in `1/scale` units — `pr/scale` sums to ≤ 1 (floor
   * leak) and starts uniform.
   */
  /**
   * HITS hubs-and-authorities (Kleinberg, JACM 1999): the two-score
   * complement of [[pagerank]] for directed graphs where "points at
   * good things" (hub) and "is pointed at by good hubs" (authority)
   * are distinct qualities — link curation, citation analysis,
   * crawler seed selection. Fixed `iterations` of the mutual
   * recursion, edge multiplicity as weight.
   *
   * Portability construction (different from pagerank's, deliberately:
   * HITS normalizes GLOBALLY per step, so per-edge pre-normalization
   * can't bound the products): per-step sums accumulate in
   * DECIMAL(38,0) — exact, order-free, no overflow to ~1e38 — and
   * re-normalize to integer `scale` units via integral division
   * (`div`/`//`, floor on non-negatives in every engine). Scores stay
   * LONGs ≤ scale between steps; the per-step total is a broadcast
   * 1-row frame folded into the normalize step — no driver round-trip.
   * Bound: Σ(score·w) per step ≤ scale · total-edge-weight ≤ 1e38 ⇒
   * fine to ~1e14 weighted edges at the default scale.
   *
   * Scale shape: per iteration, two edges⋈scores equi-joins (src then
   * dst) each followed by a map-side-combined sum — identical exchange
   * structure to one pagerank round, run twice. Nodes without
   * in-edges (resp. out-edges) get authority (resp. hub) 0, exactly
   * as the oracle's left join + coalesce does.
   *
   * MATERIALIZATION SEMANTICS (r17 Lazy default, ADVICE r17): values
   * are unchanged, but the returned frame is no longer materialized
   * at return — failures surface at the caller's FIRST action, and
   * concurrent first consumers can race into duplicate computation of
   * the iteration chain. Callers fanning the result out to several
   * threads should force it first (one action, or pass
   * `ckpt = CheckpointMode.Local` for the old eager behavior). Same
   * note on [[pagerank]] and [[personalizedPagerank]].
   */
  def hits(edges: DataFrame, src: Column, dst: Column,
      iterations: Int = 3, scale: Long = 1000000000000L,
      ckpt: CheckpointMode = CheckpointMode.Lazy): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(scale >= 1 && scale <= 1000000000000L, "scale in [1, 1e12]")
    val e = ckpt(edges.select(src.cast("string").as("src"),
        dst.cast("string").as("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      ) // re-joined twice per iteration
    val nodes = ckpt(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val n = nodes.count()
    // no edges ⇒ no nodes: an empty (node, auth, hub) frame, not a
    // division-by-zero on the uniform init
    if (n == 0)
      return nodes.select(col("node"), lit(0L).as("auth"), lit(0L).as("hub"))
    // normalize a raw DECIMAL score column to LONG scale units:
    // (raw * scale) div total — floor, identical in any engine. The
    // per-step total rides as a broadcast 1-row frame crossJoined into
    // the normalize select, NOT a driver .head — the only per-step
    // barrier is the localCheckpoint itself
    def norm(raw: Column, total: Column): Column =
      coalesce(ldiv((raw.cast("decimal(38,0)") * lit(scale))
        .cast("decimal(38,0)"), total), lit(0L))
    var hub = ckpt(nodes.withColumn("hub", lit(scale / n)))
    var auth = nodes.withColumn("auth", lit(scale / n))
    var k = 0
    while (k < iterations) {
      val araw = e.join(hub.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("hub").cast("decimal(38,0)") * col("w")).as("ar"))
      auth = ckpt(nodes.join(araw, Seq("node"), "left")
        .crossJoin(broadcast(araw.agg(sum(col("ar")).as("__atot"))))
        .select(col("node"), norm(col("ar"), col("__atot")).as("auth")))
      val hraw = e.join(auth.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"))
        .agg(sum(col("auth").cast("decimal(38,0)") * col("w")).as("hr"))
      hub = ckpt(nodes.join(hraw, Seq("node"), "left")
        .crossJoin(broadcast(hraw.agg(sum(col("hr")).as("__htot"))))
        .select(col("node"), norm(col("hr"), col("__htot")).as("hub")))
      k += 1
    }
    nodes.join(auth, "node").join(hub, "node")
      .select(col("node"), col("auth"), col("hub"))
  }

  /**
   * Per-node triangle count + local clustering coefficient — the
   * cohesion statistic for co-occurrence/link graphs (community
   * detection pre-pass, spam-farm detection in crawl curation; cf.
   * Suri & Vassilvitskii, WWW 2011, "Counting triangles and the curse
   * of the last reducer").
   *
   * Scale construction is the degree-ordered orientation from that
   * paper: each undirected edge is directed from its lower-(degree,
   * id)-ranked endpoint to the higher, so EVERY node's out-degree is
   * O(√m) regardless of raw degree, and wedge generation (the
   * quadratic step) is bounded O(m^1.5) total instead of O(Σdeg²) —
   * the hub node that would explode a naive neighbor self-join
   * becomes the TARGET of its edges, never the wedge pivot. Execution:
   * canonical-edge distinct (one shuffle), two degree joins, one
   * wedge self-join on the pivot, one closing equi-join against the
   * edge set, then a 3-way explode + count per corner. Everything is
   * equi-join + map-side-combined counts; nothing is driver-side.
   *
   * Returns (node, degree, triangles, clustering) where `clustering`
   * = 2T / (deg·(deg−1)) rounded to 6 dp, null for deg < 2.
   */
  def triangles(edges: DataFrame, src: Column, dst: Column): DataFrame = {
    // simple undirected graph: self-loops out, multi-edges collapsed,
    // canonical (a < b) form
    val und = edges.select(src.cast("string").as("x"),
        dst.cast("string").as("y"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct()
      .localCheckpoint() // consumed by degrees, orientation, closing join
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient low (deg, id) -> high: out-neighborhoods stay O(√m)
    val oriented = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    // wedges at the pivot u (v1 < v2 so each unordered wedge appears
    // once), closed by a canonical edge (v1, v2)∈und — min/max because
    // rank order and id order can disagree
    val wedges = oriented.alias("o1")
      .join(oriented.alias("o2"),
        col("o1.u") === col("o2.u") && col("o1.v") < col("o2.v"))
      .select(col("o1.u").as("n0"),
        least(col("o1.v"), col("o2.v")).as("a"),
        greatest(col("o1.v"), col("o2.v")).as("b"))
    val tris = wedges.join(und, Seq("a", "b"))
      .select(col("n0"), col("a").as("n1"), col("b").as("n2"))
    val perNode = tris
      .select(explode(array(col("n0"), col("n1"), col("n2"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg").as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      // integer-ratio emit (functions.ratio6): 2t/(d(d−1)) sits on
      // the 5e-7 ties where engines' round(double, 6) diverge
      .withColumn("clustering",
        when(col("degree") >= 2, graft.functions.ratio6(
          lit(2L) * col("triangles"),
          col("degree") * (col("degree") - 1))))
  }

  /**
   * Personalized (topic-sensitive) PageRank (Haveliwala, WWW 2002):
   * identical to [[pagerank]] except the teleport — the (1−d) restart
   * mass and the dangling-node donation land uniformly on the
   * `teleport` node set instead of all nodes, so rank concentrates
   * around the seeds and decays with graph distance from them. The
   * "importance relative to THIS topic/page set" statistic: seed-set
   * expansion, related-content ranking, crawl frontier scoring.
   *
   * Same integer portability contract as [[pagerank]] (µ-fraction
   * edges, floor divisions, LONG-safe products) and the same
   * per-iteration shape — one edges⋈ranks equi-join + map-side
   * combined sum, dangling mass on a broadcast 1-row frame, no driver
   * scalars in the loop. Non-teleport nodes get ONLY damped link
   * mass; the teleport membership rides the node frame as a boolean,
   * so the update is one `when`, not a second join.
   */
  def personalizedPagerank(edges: DataFrame, src: Column, dst: Column,
      teleport: DataFrame, iterations: Int = 4, dampingPct: Int = 85,
      scale: Long = 1000000000000L,
      ckpt: CheckpointMode = CheckpointMode.Lazy): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(dampingPct >= 0 && dampingPct <= 100, "dampingPct in [0,100]")
    require(scale >= 1 && scale <= 1000000000000L,
      "scale in [1, 1e12] (pr*ew must stay under 2^63)")
    val e = edges.select(src.cast("string").as("src"),
        dst.cast("string").as("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    val outw = e.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    val ew = ckpt(e.join(outw, "src")
      .select(col("src"), col("dst"),
        ldiv(col("w") * lit(1000000L), col("ow")).as("ew")))
    val t = teleport.select(teleport.columns.head).toDF("node")
      .select(col("node").cast("string").as("node")).distinct()
    val nodes = ckpt(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(t.withColumn("__t", lit(true)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__t"), lit(false)).as("__t")))
    val n = nodes.count()
    if (n == 0) return nodes.select(col("node"), lit(0L).as("pr"))
    val tn = nodes.filter(col("__t")).count()
    require(tn > 0, "teleport set must intersect the graph's nodes")
    val dangling = ckpt(nodes.select(col("node"))
      .join(e.select(col("src").as("node")).distinct(), Seq("node"), "left_anti"))
    val base = ((100L - dampingPct) * (scale / tn)) / 100L
    var pr = ckpt(nodes.select(col("node"), lit(scale / n).as("pr")))
    var k = 0
    while (k < iterations) {
      val dmF = broadcast(pr.join(dangling, Seq("node"), "left_semi")
        .agg(coalesce(sum(col("pr")), lit(0L)).as("__dm")))
      val contrib = ew.join(pr.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(ldiv(col("pr") * col("ew"), 1000000L)).as("c"))
      pr = ckpt(nodes.join(contrib, Seq("node"), "left")
        .crossJoin(dmF)
        .select(col("node"),
          (when(col("__t"),
            lit(base) +
              ldiv(lit(dampingPct.toLong) * ldiv(col("__dm"), tn), 100L))
            .otherwise(lit(0L)) +
            ldiv(lit(dampingPct.toLong) * coalesce(col("c"), lit(0L)), 100L))
            .as("pr")))
      k += 1
    }
    pr
  }

  def pagerank(edges: DataFrame, src: Column, dst: Column,
      iterations: Int = 4, dampingPct: Int = 85,
      scale: Long = 1000000000000L,
      ckpt: CheckpointMode = CheckpointMode.Lazy): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(dampingPct >= 0 && dampingPct <= 100, "dampingPct in [0,100]")
    require(scale >= 1 && scale <= 1000000000000L,
      "scale in [1, 1e12] (pr*ew must stay under 2^63)")
    val e = edges.select(src.cast("string").as("src"),
        dst.cast("string").as("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    val outw = e.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    // per-edge µ-transition-probability, fixed for all iterations —
    // pre-dividing caps the per-iteration product at pr·1e6 no matter
    // how heavy the edge, which is what makes LONG arithmetic safe at
    // any corpus size
    val ew = ckpt(e.join(outw, "src")
      .select(col("src"), col("dst"),
        ldiv(col("w") * lit(1000000L), col("ow")).as("ew"))
      ) // re-joined every iteration
    val nodes = ckpt(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      ) // re-joined every iteration
    val n = nodes.count()
    // no edges ⇒ no nodes: empty result, not a division-by-zero
    if (n == 0) return nodes.select(col("node"), lit(0L).as("pr"))
    val dangling = ckpt(nodes.join(e.select(col("src").as("node")).distinct(),
        Seq("node"), "left_anti")
      ) // dangling-mass probe every iteration
    val base = ((100L - dampingPct) * (scale / n)) / 100L
    var pr = ckpt(nodes.withColumn("pr", lit(scale / n)))
    var k = 0
    while (k < iterations) {
      // dangling nodes donate their mass uniformly. The mass rides as
      // a broadcast 1-row frame crossJoined into the update select
      // (same construction as hits' norm total), NOT a driver .head —
      // and with the Lazy default (r17) there is NO per-iteration
      // barrier at all: a fixed-iteration loop has no per-round
      // driver decision, so all rounds run as ONE job DAG (measured
      // 3.10 → 2.17 s best-of-3 at sf0.1, outputs hash-identical —
      // ProbeGraphCkpt, in git at 5b09031). Integer shape mirrors the
      // old driver math exactly: (dampingPct * (dm div n)) div 100,
      // non-negative LONGs.
      val dmF = broadcast(pr.join(dangling, Seq("node"), "left_semi")
        .agg(coalesce(sum(col("pr")), lit(0L)).as("__dm")))
      val contrib = ew.join(pr.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(ldiv(col("pr") * col("ew"), 1000000L)).as("c"))
      pr = ckpt(nodes.join(contrib, Seq("node"), "left")
        .crossJoin(dmF)
        .select(col("node"),
          (lit(base) +
            ldiv(lit(dampingPct.toLong) * ldiv(col("__dm"), n), 100L) +
            ldiv(lit(dampingPct.toLong) * coalesce(col("c"), lit(0L)), 100L))
            .as("pr")))
      k += 1
    }
    pr
  }
}
