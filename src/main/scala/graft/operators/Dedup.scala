package graft.operators

import graft.functions.SimHash60.simhash60
import graft.operators.TextOps.{hash60, shingles, tokens}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines, each designed
 * for the 100 TB shape: no all-pairs comparison ever materializes —
 * candidates come from hash buckets (exact), LSH band buckets
 * (MinHash), or bit-band buckets (SimHash), so the quadratic step is
 * confined to tiny per-bucket groups.
 */
object Dedup {

  /** Exact duplicate clusters by content fingerprint: one row per
   * duplicated text with the keeper (min id) and the dup ids. A plain
   * hash group-by — one shuffle, partial-aggregated map-side. */
  def exact(df: DataFrame, id: Column, text: Column): DataFrame =
    df.groupBy(TextOps.fingerprint(text).as("fp"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n"),
        array_sort(collect_list(id)).as("ids"))
      .filter(col("n") > 1)

  /**
   * Exact dedup on an ARBITRARY derived key — canonical URL
   * ([[TextOps.urlParts]]' `url_canon`, the crawl-frontier dedup key),
   * host+path, normalized title — with [[exact]]'s min-id keeper rule,
   * one verdict row per input doc. Null keys never cluster: a doc
   * with no key (an unparsable URL) is its own keeper. Same scale
   * shape as [[exact]]: one hash group-by collapsed map-side, then a
   * per-doc rejoin on the key.
   */
  def byKey(df: DataFrame, id: Column, key: Column): DataFrame = {
    val withK = df.select(id.as("doc_id"), key.as("key"))
    val keepers = withK.filter(col("key").isNotNull)
      .groupBy(col("key"))
      .agg(min(col("doc_id")).as("__keep"), count(lit(1)).as("__n"))
    withK.join(keepers, Seq("key"), "left")
      .select(col("doc_id"), col("key"),
        coalesce(col("__keep"), col("doc_id")).as("keep_id"),
        coalesce(col("__n"), lit(1L)).as("n_copies"),
        (coalesce(col("__keep"), col("doc_id")) === col("doc_id"))
          .as("is_keeper"))
  }

  /**
   * Exact dedup with QUALITY-AWARE keeper selection: instead of
   * [[exact]]'s min-id keeper, each content-fingerprint cluster keeps
   * the copy with the highest `quality` (longest, best-scored, …; tie
   * → lowest id, so the choice is deterministic). This is the keeper
   * rule real corpus pipelines want — duplicate crawls differ in
   * truncation/encoding damage, and min-id throws away the best copy
   * whenever it arrived later. Emits one row PER INPUT DOC (`keep_id`,
   * cluster size, `is_keeper`), ready to filter or join.
   *
   * Same scale shape as [[exact]]: one hash group-by whose map-side
   * partial `max(struct)` collapses clusters before the shuffle, then
   * a per-doc rejoin on the fingerprint. `id` must be numeric — the
   * tie-break rides the struct ordering as `(quality, −id)`.
   */
  def exactKeepBest(df: DataFrame, id: Column, text: Column,
      quality: Column): DataFrame = {
    val withFp = df.select(id.as("doc_id"),
      TextOps.fingerprint(text).as("fp"),
      quality.cast("double").as("__q"))
    val keep = withFp.groupBy(col("fp"))
      .agg(max(struct(col("__q"), (-col("doc_id")).as("__nid"))).as("__k"),
        count(lit(1)).as("n"))
      .select(col("fp"), (-col("__k.__nid")).as("keep_id"), col("n"))
    withFp.join(keep, "fp")
      .select(col("doc_id"), col("keep_id"), col("n"),
        (col("doc_id") === col("keep_id")).as("is_keeper"))
  }

  /**
   * Exact shared-substring (boilerplate/partial-copy) detection: flag
   * documents sharing any `k`-word exact substring with ANOTHER
   * document — the license-header / template / long-quote case that
   * whole-document near-dup (Jaccard, MinHash) under-weighs when the
   * rest of the two documents differs. `shared_grams` counts the
   * distinct shared substrings per doc (the public exact-substring
   * dedup recipe, run at gram granularity).
   *
   * Scale shape: grams are per-doc deduplicated BEFORE the explode
   * (no corpus-wide distinct), carried as 60-bit hashes (8 bytes
   * through the shuffle, not ~10-word strings; collision odds at
   * 10⁹ distinct grams ≈ 10⁻⁴ per corpus — and a collision only
   * inflates one count by one), counted with map-side partial
   * aggregation, and only grams hitting ≥2 docs rejoin the stream.
   */
  def sharedSubstrings(df: DataFrame, id: Column, text: Column,
      k: Int = 12): DataFrame = {
    val grams = df.select(id.as("doc_id"),
        explode(array_distinct(TextOps.ngrams(text, k))).as("gram"))
      .select(col("doc_id"), hash60(col("gram")).as("gh"))
    val hot = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("nd")) // grams are distinct per doc
      .filter(col("nd") >= 2)
      .select(col("gh"))
    val hits = grams.join(hot, "gh")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("shared_grams"))
    df.select(id.as("doc_id")).join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("shared_grams"), lit(0L)).as("shared_grams"),
        (coalesce(col("shared_grams"), lit(0L)) > 0).as("flagged"))
  }

  /**
   * Cross-source near-dup overlap matrix: how many near-duplicate
   * pairs connect each (source, source) combination — the curation
   * diagnostic that tells you WHERE duplication comes from (mirror
   * sites, re-crawls, cross-posted content) before you decide which
   * source a cluster's keeper should come from. Pair order is
   * normalized (`least`, `greatest`) so each combination is one row;
   * the diagonal counts within-source duplication.
   *
   * Scale shape: the pair list is tiny next to the corpus, so AQE
   * broadcasts it into BOTH id→source lookups — the corpus-sized
   * lookup frame never shuffles; the final rollup is a
   * |sources|²-bounded aggregate.
   */
  def sourceOverlap(pairs: DataFrame, docs: DataFrame, id: Column,
      source: Column): DataFrame = {
    val g = docs.select(id.as("doc_id"), source.as("src"))
    pairs.select(col("id1"), col("id2"))
      .join(g.select(col("doc_id").as("id1"), col("src").as("g1")), "id1")
      .join(g.select(col("doc_id").as("id2"), col("src").as("g2")), "id2")
      .select(least(col("g1"), col("g2")).as("src1"),
        greatest(col("g1"), col("g2")).as("src2"))
      .groupBy(col("src1"), col("src2")).agg(count(lit(1)).as("n_pairs"))
  }

  // ---------------- MinHash + LSH --------------------------------------

  val MinhashP = 2147483647L // 2^31 − 1
  /** Deterministic universal-hash parameters, reproducible in plain
   * SQL: a_i = ((i+1)·2654435761) mod p (Knuth multiplicative),
   * b_i = ((i+1)·1013904223) mod p (Numerical Recipes increment). */
  def minhashA(i: Int): Long = ((i + 1) * 2654435761L) % MinhashP
  def minhashB(i: Int): Long = ((i + 1) * 1013904223L) % MinhashP

  /**
   * MinHash signatures: one row per doc (docs with no shingles are
   * dropped, as the former explode-based formulation dropped them),
   * `sig` = array of n minima of ((a_i·h + b_i) mod p) over the doc's
   * shingle hashes. The signature is a SCALAR expression over the
   * shingle array (graft.functions.MinHashSigExpr): no explode, no
   * doc-keyed shuffle — the whole stage is the scan's codegen'd
   * projection, linear in the scan.
   */
  def minhashSignatures(df: DataFrame, id: Column, text: Column,
      n: Int = 64, shingleK: Int = 3): DataFrame =
    sigsOf(shingled(df, id, text, shingleK), n)

  /** The shared (doc_id, ss) shingle frame both the signature stage
   * and the Jaccard-verify joins read — text is shingled in one
   * projection. `spread` matters here: with no shuffle left in the
   * signature stage, a few-row-group parquet scan would otherwise pin
   * the per-shingle hashing to a handful of cores. */
  private[graft] def shingled(df: DataFrame, id: Column, text: Column,
      shingleK: Int): DataFrame =
    spread(df.select(id.as("doc_id"), text.as("__text")))
      .select(col("doc_id"), shingles(col("__text"), shingleK).as("ss"))

  /** `ss` (shingle strings) → distinct 8-byte `hs` hash sets — the ONE
   * definition of the hashing discipline every verify shares (minhash,
   * containment, the recall audit, and their oracles' mirrored
   * `hsets` CTE). Set arithmetic over distinct md5-60 hashes equals
   * string-set arithmetic unless two corpus shingles collide
   * (~|vocab|²/2⁶¹ — and the oracle hashes identically, so even then
   * both engines agree); what it buys is a verify shuffle that
   * carries ~8 B per shingle instead of the strings. */
  private[graft] def hashedSets(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"),
      array_distinct(transform(col("ss"), s => TextOps.hash60(s))).as("hs"))

  private[graft] def sigsOf(docs: DataFrame, n: Int): DataFrame =
    docs.filter(size(col("ss")) > 0)
      .select(col("doc_id"),
        graft.functions.MinHashSigExpr.minhashSig(col("ss"), n).as("sig"))

  /** All ordered pairs (first < second by the sorted position) from a
   * bucket's id array, STREAMED via two chained explodes: the outer
   * explode emits one row per position, the inner one pairs it with
   * each later element. Memory per generated row is O(bucket), never
   * the O(bucket²) a single materialized pair array would be — a
   * mass-duplicate bucket produces many rows, not one giant value.
   * Input frame: (ids ARRAY) sorted ascending. */
  private def explodedPairs(buckets: DataFrame): DataFrame =
    buckets
      .select(col("ids"), posexplode(col("ids")))
      .toDF("ids", "i", "id1")
      .select(col("id1"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids")) - col("i") - 1))
          .as("id2"))

  /** (doc_id, band, key) LSH bucket keys for a signature frame: the
   * signature splits into `bands` bands of n/bands rows, each
   * concatenated into a bucket key. */
  private[graft] def bandKeys(sigs: DataFrame, bands: Int, n: Int): DataFrame = {
    require(n % bands == 0,
      s"bands ($bands) must divide the signature width ($n); a remainder " +
        "would silently drop trailing minima from candidate generation")
    val rows = n / bands
    sigs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => concat_ws(":", (0 until rows).map(r =>
          element_at(col("sig"), (b * rows) + r + 1)): _*))))
      .toDF("doc_id", "band", "key")
  }

  /** LSH candidate pairs: split the signature into `bands` bands of
   * n/bands rows; docs sharing any band bucket become a candidate
   * pair. One shuffle groups (band, band-signature) buckets; pairs
   * stream out of each bucket (see [[explodedPairs]]) — the classic
   * shingle→minhash→band→bucket plan. */
  def lshCandidates(sigs: DataFrame, bands: Int = 16, n: Int = 64): DataFrame = {
    val banded = bandKeys(sigs, bands, n)
    explodedPairs(banded.groupBy(col("band"), col("key"))
        .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) > 1))
      // duplicate input ids would otherwise self-pair
      .filter(col("id1") =!= col("id2"))
      .distinct()
  }

  /** Exact shingle-set Jaccard for given pairs (the verify step after
   * LSH candidate generation). */
  def jaccardVerify(pairs: DataFrame, df: DataFrame, id: Column, text: Column,
      shingleK: Int = 3): DataFrame = {
    val sets = shingled(df, id, text, shingleK)
    pairs
      .join(sets.select(col("doc_id").as("id1"), col("ss").as("ss1")), "id1")
      .join(sets.select(col("doc_id").as("id2"), col("ss").as("ss2")), "id2")
      .withColumn("jaccard",
        size(array_intersect(col("ss1"), col("ss2"))).cast("double") /
          size(array_union(col("ss1"), col("ss2"))).cast("double"))
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /**
   * Banding preset: among the divisors `b` of `n` (rows `r = n/b`),
   * the band count whose LSH S-curve midpoint `(1/b)^(1/r)` sits
   * nearest the target threshold — at n = 64: t ≈ 0.5 → 16 bands,
   * t ≈ 0.8 → 8, t ≈ 0.92 → 4. The default 16-band/4-row layout has
   * its midpoint at 0.5, so a HIGH-threshold query over a corpus
   * with large just-below-threshold cliques (replica families at
   * ~2/3 Jaccard — the ScaleGen 100× shape) turns nearly every
   * clique pair into a candidate that the exact verify then pays for
   * and discards; midpoint-matched banding keeps those cliques out
   * of the candidate set (~0.66-similarity pair probability drops
   * 0.97 → 0.26 at b = 8/r = 8) at the price of single-run recall at
   * the threshold itself (~0.77 at t = 0.8 — measure with
   * [[lshRecallAudit]], raise `n` if the miss rate matters).
   */
  def bandsFor(threshold: Double, n: Int = 64): Int = {
    require(threshold > 0 && threshold < 1, "threshold in (0, 1)")
    require(n >= 1, "n must be >= 1")
    (1 to n).filter(n % _ == 0)
      .minBy(b => math.abs(math.pow(1.0 / b, b.toDouble / n) - threshold))
  }

  /** End-to-end MinHash near-dup pairs: one shared shingle frame →
   * scalar signatures → LSH band buckets → in-bucket exact-Jaccard
   * verify ≥ threshold. No self-join: candidates stream out of one
   * group-by on (band, key). The shingle frame is localCheckpoint'd
   * because two plan branches consume it (signatures, hash sets) —
   * without it the shingling regex re-runs per branch.
   *
   * Bucket-cardinality contract: each (band, key) bucket materializes
   * its members' (id, hash-set) structs in one aggregation buffer
   * (~8 bytes per shingle), and — more fundamentally — N exact copies
   * of a document yield N²/2 output pairs. Collapse EXACT duplicates
   * first (one hash group-by — [[exact]]; [[Pipeline.cleanCorpus]]
   * orders its stages this way) so bucket size is bounded by the
   * near-dup cluster size, not by boilerplate multiplicity. For a
   * high threshold over a corpus with just-below-threshold cliques,
   * match the banding to the threshold ([[bandsFor]]). */
  def minhashPairs(df: DataFrame, id: Column, text: Column,
      threshold: Double = 0.8, n: Int = 64, bands: Int = 16,
      shingleK: Int = 3): DataFrame = {
    require(n % bands == 0,
      s"bands ($bands) must divide the signature width ($n)")
    val sets = shingled(df, id, text, shingleK).localCheckpoint()
    val rows = n / bands
    // Two verify shapes, chosen by band geometry. A pair colliding in
    // k bands is enumerated k times; E[k | ≥1] ≈ bands·J^rows / P(≥1)
    // at the flood similarity, which is ~1 for steep curves (rows ≥ 8
    // — a multi-band collision is a fluke) but ~4 at bands = 16 /
    // rows = 4 over ~0.7-Jaccard cliques. When multi-band collisions
    // are rare, verifying IN THE BUCKET wins: the ~8 B/shingle hash
    // set shuffles once per (doc, band) — bands·corpus bytes,
    // independent of how badly candidates flood — instead of twice
    // per candidate pair, and near-duplicate re-verifies are noise
    // (100× probe, b = 8: 21 s → 16 s). When they are common, the
    // candidate-distinct + per-pair join path verifies each pair
    // exactly once, which beats re-running the set intersect k times
    // (b = 16 at the same probe: bucket-verify 50 s vs 32–47 s).
    if (rows >= 8) {
      val keyed = bandKeys(sigsOf(sets, n), bands, n)
      // singleton pre-drop: most (band, key) buckets hold ONE doc on
      // a real corpus, and the old plan shuffled every doc's ~800 B
      // hash set bands× through the bucket group-by only to filter
      // those buckets out. One NARROW count pass over (band, key)
      // first (rows ~40 B; its exchange is reused by the join), then
      // only multi-member buckets' rows ever touch the hash sets —
      // the wide shuffle shrinks to the near-dup population (100×
      // probe: 34.5 → 21.9 s same-state back-to-back)
      val multi = keyed.groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("__bc")).filter(col("__bc") > 1)
        .select(col("band"), col("key"))
      val withHs = keyed.join(multi, Seq("band", "key"))
        .join(hashedSets(sets), "doc_id")
        .select(col("band"), col("key"),
          struct(col("doc_id"), col("hs")).as("e"))
      // bucket buffers hold (id, hs) structs — ~8 B per SHINGLE of
      // each member doc rather than 8 B per doc (the contract note
      // above: collapse exact dups first so bucket size stays bounded
      // by near-dup cluster size)
      bucketStructVerify(withHs, threshold)
        .orderBy(col("id1"), col("id2"))
    } else {
      val hsets = hashedSets(sets)
        .localCheckpoint() // consumed 3×: sizes + both verify sides
      minhashVerify(lshCandidates(sigsOf(sets, n), bands, n), hsets, threshold)
        .orderBy(col("id1"), col("id2"))
    }
  }

  /** The in-bucket exact-Jaccard verify over `(band, key, e struct(
   * doc_id, hs))` rows — [[minhashPairs]]' steep-curve path, shared
   * with [[minhashPairsBounded]] (which feeds refined keys). */
  private[graft] def bucketStructVerify(withHs: DataFrame,
      threshold: Double): DataFrame = {
    val buckets = withHs.groupBy(col("band"), col("key"))
      .agg(array_sort(collect_list(col("e"))).as("es"))
      .filter(size(col("es")) > 1)
    buckets
      .select(col("es"), posexplode(col("es"))).toDF("es", "i", "e1")
      .select(col("e1"), explode(slice(col("es"), col("i") + lit(2),
        size(col("es")) - col("i") - 1)).as("e2"))
      // duplicate input ids would otherwise self-pair
      .filter(col("e1.doc_id") =!= col("e2.doc_id"))
      // exact length-ratio bound (J ≤ min|·|/max|·|) ahead of the
      // intersect — same prune as [[minhashVerify]]
      .filter(least(size(col("e1.hs")), size(col("e2.hs"))).cast("double") >=
        lit(threshold) *
          greatest(size(col("e1.hs")), size(col("e2.hs"))).cast("double"))
      // one set pass, not two: hs arrays are distinct by
      // construction, so |A∪B| = |A| + |B| − |A∩B| exactly — the
      // division sees the same two integers either way
      // (oracle-identical doubles)
      .withColumn("__i", size(array_intersect(col("e1.hs"), col("e2.hs"))))
      .withColumn("jaccard", col("__i").cast("double") /
        (size(col("e1.hs")) + size(col("e2.hs")) - col("__i")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("e1.doc_id").as("id1"), col("e2.doc_id").as("id2"),
        col("jaccard"))
      .distinct()
  }

  /** Refinement reservoir for [[minhashPairsBounded]]: extra minhash
   * rows past the banding signature (rows are seeded per index, so
   * the first n rows of the deep signature ARE the standard
   * signature). 32 rows split a threshold-similarity cluster by
   * ~t³² ≈ 10⁻³ at t = 0.8 — three orders of bucket-size headroom. */
  private val RefineRows = 32

  /**
   * [[minhashPairs]] with BOUNDED per-bucket verify cost — the
   * hot-bucket guard for corpora with PATHOLOGICAL near-dup clusters
   * (10⁵ slightly-perturbed copies of one boilerplate page land in
   * one (band, key) bucket; the in-bucket verify is O(k²) and the
   * TRUE pair set itself is quadratic in the cluster). Two tiers:
   *
   *  1. KEY REFINEMENT, [[graft.operators.Similarity
   *     .semanticNearDupPairs]]'s `maxBucket` discipline: a bucket
   *     over `maxBucket` members extends its key with e further
   *     minhash rows from a deep-signature reservoir (e = smallest
   *     with `count·tᵉ ≤ maxBucket`, capped at [[RefineRows]]) — a
   *     DIVERSE oversized bucket (distinct near-dup families sharing
   *     one band key) splits into its families and those verify
   *     exactly.
   *  2. ANCHOR STAR over every ORIGINAL bucket that exceeded the
   *     cap: the bucket verifies (min-id anchor, member) pairs for
   *     ALL its members — O(k) per bucket, ids-only buffering (never
   *     the O(k·setsize) struct buffer) — so cost and output stay
   *     linear in the cluster while [[clusters]] still groups every
   *     anchor-connected member. The star runs on the PRE-refinement
   *     membership (r17): the deep-row extension is shared across
   *     bands, so a member whose perturbation steals one deep
   *     minimum leaves the mother sub-bucket in every band at once —
   *     starring only refinement-resistant refined buckets measurably
   *     orphaned ~35% of a J≈0.9 cluster at a tiny cap
   *     (dedup_lsh_audit_bounded). Near-identical clusters resist
   *     refinement anyway (J≈0.93 copies split ~0.7× per extra row;
   *     ProbeHotBucket r16, in git at 5b09031), so the star is the
   *     load-bearing tier there.
   *
   * Semantics: every emitted pair is exact-verified ≥ threshold
   * (precision unchanged); output ⊆ [[minhashPairs]]' pair set, with
   * EQUALITY when no (band, key) bucket exceeds `maxBucket` BEFORE
   * refinement (spec-pinned). Equality is stated on the original
   * buckets, not the refined ones: refining a DIVERSE oversized
   * bucket splits it by deep-signature rows, and a ≥-threshold pair
   * whose members land in different sub-buckets (and share no other
   * band) is dropped even though every refined bucket ends under the
   * cap — once any bucket refines, only the subset guarantee holds.
   * Inside a star-capped cluster, pair recall is deliberately
   * reduced to the anchor star — the recall-for-boundedness trade
   * the embedding path documents, and what a curator wants from a
   * 10⁵-copy boilerplate cluster (its members are interchangeable);
   * [[lshBoundedRecallAudit]] MEASURES that trade (pair recall,
   * member coverage, precision) on a given corpus. [[minhashPairs]]
   * remains the exact-recall path ([[Pipeline.cleanCorpus]] defaults
   * to THIS one since r17 — a web-scale crawl always contains hot
   * clusters; opt out via `lshMaxBucket = Int.MaxValue`).
   *
   * Laziness: every multi-consumer frame is local-checkpointed with
   * `eager = false` (persist-on-first-action + lineage truncation).
   * Since r18 building the returned frame DOES run one small Spark
   * job — the bucket census (shingle → signature → band-key count,
   * whose checkpointed frames the main pass reuses) — so that a
   * hot-bucket-free corpus gets the exact path's plan instead of
   * carrying empty hot-tier stages through AQE's serialized loop
   * (~0.6-0.7 s fixed overhead per invocation at sf0.1, ProbeB3/B4
   * r17, in git at 5b09031; VERDICT r17 task 3).
   *
   * HEALTHY-CORPUS COST (r17 optimization, guide §2.3/§2.4): the deep
   * (n+32)-row signature is computed ONLY for members of oversized
   * buckets — previously every doc paid the 1.5× minhash widening and
   * the rekey join whether or not any bucket was hot, which put the
   * bounded default ~80% over the exact path on a hot-bucket-free
   * corpus (measured 0.9 s → 1.6 s at sf0.1, ProbeBounded r17, in git
   * at 5b09031).
   * Buckets at or under the cap verify straight off their ORIGINAL
   * band key — identical output, because refinement leaves a ≤cap
   * bucket's key unchanged (`__ext = 0` ⇒ `key2 = key`). The frames
   * that exist only for hot corpora (hot-bucket rows, their deep
   * re-keys, their hash-set restriction) are all EMPTY on a healthy
   * corpus: their lazy checkpoints cost nothing and AQE's
   * empty-relation propagation collapses the joins that read them,
   * so the healthy-path plan degenerates to the exact path's shape
   * plus one narrow bucket-size count.
   */
  def minhashPairsBounded(df: DataFrame, id: Column, text: Column,
      threshold: Double = 0.8, n: Int = 64, bands: Int = 16,
      shingleK: Int = 3, maxBucket: Int = 4096): DataFrame = {
    require(n % bands == 0,
      s"bands ($bands) must divide the signature width ($n)")
    require(maxBucket >= 2, "maxBucket must be >= 2")
    val sets = shingled(df, id, text, shingleK)
      .localCheckpoint(eager = false) // consumed by sigs, hsets, deep sigs
    // the 64-row signature is cached (512 B/doc), NOT the banded
    // frame derived from it — bandKeys over the cached sigs is a
    // cheap transform its three consumers re-run, so the minhash
    // itself is computed once whatever the corpus shape
    val sigs = sigsOf(sets, n).localCheckpoint(eager = false)
    val keyed = bandKeys(sigs, bands, n)
    val sizes = keyed.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("__bc")).filter(col("__bc") > 1)
    val ext = when(col("__bc") <= maxBucket, lit(0)).otherwise(
      least(ceil(log(col("__bc").cast("double") / lit(maxBucket.toDouble)) /
        lit(-math.log(threshold))), lit(RefineRows))).cast("int")
    // the multi-member census is a tiny (band, key, ext) frame with
    // THREE consumers (the census probe, tier 1a's join, hotRows'
    // join) — checkpointed so the probe's aggregation isn't re-run
    // per consumer. Small enough (one row per multi-member bucket)
    // that the LogicalRDD's unknown size can't derail a join choice:
    // both joins keyed (band, key) ride keyed's own exchange.
    val sized = sizes.select(col("band"), col("key"), ext.as("__ext"))
      .localCheckpoint(eager = false)
    // RUNTIME CENSUS BRANCH (r18, guide §2.4 — VERDICT r17 task 3):
    // when NO bucket exceeds the cap, the hot tiers are all empty by
    // construction, and r17 shipped them as empty subtrees for AQE's
    // empty-relation propagation to collapse — which it did, but one
    // serialized empty stage at a time: ~0.6-0.7 s of fixed overhead
    // per invocation at sf0.1 (ProbeB3/B4, in git at 5b09031), paid by
    // every healthy corpus. The census now runs as ONE small action
    // here (over the lazily-checkpointed sets/sigs the main pass
    // reuses), and a hot-bucket-free corpus gets the EXACT path's
    // plan shape: tier 1a only, which on such a corpus is
    // minhashPairs' bucket verify over the same multi-member
    // buckets — output identical
    // (spec-pinned equality already states it on pre-refinement
    // buckets). Cost on a hot corpus: one extra narrow aggregate
    // read of the census checkpoint. This trades the scaladoc's old
    // "no Spark jobs at build" laziness for the branch — the census
    // job runs when the frame is BUILT.
    val hasHot = !sized.filter(col("__ext") > 0).isEmpty
    // tier 1a: multi-member buckets already within the cap verify on
    // their ORIGINAL key (refinement would leave it unchanged). The
    // hash sets are read INLINE here — the exact path's shape: one
    // md5-per-shingle projection over the cached shingle frame, no
    // full-corpus block write (a full-corpus hsets checkpoint was
    // 0.6-1.4 s of the bounded path's healthy premium at sf0.1,
    // ProbeB2 r17, in git at 5b09031). The HOT tiers get their own
    // hotIds-restricted checkpoint below.
    val smallHs = keyed
      .join(sized.filter(col("__ext") === 0)
        .select(col("band"), col("key")), Seq("band", "key"))
      .join(hashedSets(sets), "doc_id")
      .select(col("band"), col("key"),
        struct(col("doc_id"), col("hs")).as("e"))
    // hot-bucket-free corpus: tier 1a IS the whole answer (every
    // multi-member bucket has __ext = 0), and bucketStructVerify
    // already emits distinct pairs — the exact path's plan, no empty
    // hot stages (see the census note above)
    if (!hasHot)
      return bucketStructVerify(smallHs, threshold)
        .orderBy(col("id1"), col("id2"))
    // hot rows: members of oversized buckets — ONLY they need the
    // deep-signature reservoir. Deliberately NOT checkpointed: a
    // lazy checkpoint here hides the frame's (usually zero) size
    // behind a LogicalRDD, which blocks both AQE's empty-relation
    // propagation on healthy corpora and its broadcast choices on hot
    // ones (a chained-checkpoint variant measured 121.8 s at the
    // k = 10⁵ probe vs ~30 s for this form); recomputing it is one
    // bandKeys transform over the cached sigs plus a reusable
    // (band, key) exchange.
    val hotRows = keyed.join(sized.filter(col("__ext") > 0),
      Seq("band", "key"))
    // sets restricted to hot-bucket members — a semi-join (NOT a
    // distinct-then-inner-join: the semi dedups for free, one fewer
    // exchange). Both hot scans (hash sets, deep signatures) read it.
    val hotSets = sets.join(hotRows.select(col("doc_id")), Seq("doc_id"),
      "left_semi")
    // hash sets for the HOT tiers only: the refined verify and the
    // star (via minhashVerify's size prune + both array sides) read
    // them up to 4x, and recomputing the md5 projection per read
    // measurably dominates on hot corpora (59.9 s vs 29.2 s at the
    // k = 10⁵ probe) — so THESE are checkpointed; restricted to hot
    // members the frame is empty (free) on a healthy corpus, where
    // tier 1a has already paid the one inline md5 pass
    val hsetsHot = hashedSets(hotSets)
      .localCheckpoint(eager = false)
    val deepSigs = sigsOf(hotSets, n + RefineRows)
      .select(col("doc_id"), col("sig").as("__deep"))
    // single-consumer chain (r17): the refined-bucket size rides a
    // window count over the rekeyed frame's own (band, key) exchange,
    // so the deep-signature minhash has exactly ONE consumer and
    // needs no checkpoint — on a healthy corpus that is one less
    // empty materialization barrier, on a hot one the same one pass
    val rekeyed = hotRows.join(deepSigs, "doc_id")
      .select(col("band"),
        concat(col("key"), lit("|"), array_join(transform(
          slice(col("__deep"), lit(n + 1), col("__ext")),
          x => x.cast("string")), ":")).as("key"),
        col("doc_id"))
    // tier 1b: refined sub-buckets within the cap — the exact struct
    // verify, same as 1a but on the extended keys
    val wRef = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("key"))
    val refinedHs = rekeyed
      .withColumn("__c2", count(lit(1)).over(wRef))
      .filter(col("__c2") > 1 && col("__c2") <= maxBucket)
      .join(hsetsHot, "doc_id")
      .select(col("band"), col("key"),
        struct(col("doc_id"), col("hs")).as("e"))
    val smallPairs = bucketStructVerify(smallHs.unionByName(refinedHs),
      threshold)
    // tier 2: every ORIGINAL bucket over the cap gets a full-
    // membership anchor star — ids-only buffering, verified per pair.
    // Starring the original bucket (r17; previously only refined
    // buckets still over the cap) is what keeps COVERAGE: the deep-
    // row extension is SHARED across bands, so a member whose
    // perturbation steals even one deep minimum falls out of the
    // mother sub-bucket in EVERY band simultaneously and — when its
    // own sub-buckets are singletons — would otherwise end up in no
    // pair at all (measured 35% of a J≈0.9 hot cluster at cap 8,
    // dedup_lsh_audit_bounded). The star is O(bucket) per band
    // either way; refined ≤cap sub-buckets still verify exactly in
    // tier 1 for precision clustering.
    // anchor = the bucket's min id, as a window over the SAME
    // (band, key) exchange the refine tier established — one window
    // pass instead of the old groupBy-min + join-back (r17)
    val starCands = hotRows
      .withColumn("__a", min(col("doc_id")).over(wRef))
      .filter(col("doc_id") =!= col("__a"))
      .select(col("__a").as("id1"), col("doc_id").as("id2"))
      .distinct()
    // star members are hotRows members by construction (anchor = the
    // bucket's min doc_id), so the hot-restricted hash sets cover
    // both sides of the verify
    val bigPairs = minhashVerify(starCands, hsetsHot, threshold)
    smallPairs.unionByName(bigPairs).distinct()
      .orderBy(col("id1"), col("id2"))
  }

  /** Shared size-prune + exact-Jaccard verify over candidate (id1,
   * id2) pairs and a [[hashedSets]] frame (see [[minhashPairs]]);
   * emits unordered output — callers sort if they need to. */
  private def minhashVerify(cands: DataFrame, hsets: DataFrame,
      threshold: Double): DataFrame = {
    // Length-ratio prefilter (an exact bound, not an approximation):
    // J(A,B) ≤ min|·|/max|·|, so J ≥ t needs shingle-count ratio ≥ t.
    // The prune runs against a bare (id, count) frame so the candidate
    // joins shuffle two longs per pair — the hash arrays join only the
    // survivors for the intersect/union verify.
    val sizes = hsets.select(col("doc_id"), size(col("hs")).as("sz"))
    val pruned = cands
      .join(sizes.select(col("doc_id").as("id1"), col("sz").as("sz1")), "id1")
      .join(sizes.select(col("doc_id").as("id2"), col("sz").as("sz2")), "id2")
      .filter(least(col("sz1"), col("sz2")).cast("double") >=
        lit(threshold) * greatest(col("sz1"), col("sz2")).cast("double"))
      .select(col("id1"), col("id2"))
    pruned
      .join(hsets.select(col("doc_id").as("id1"), col("hs").as("hs1")), "id1")
      .join(hsets.select(col("doc_id").as("id2"), col("hs").as("hs2")), "id2")
      .withColumn("jaccard",
        size(array_intersect(col("hs1"), col("hs2"))).cast("double") /
          size(array_union(col("hs1"), col("hs2"))).cast("double"))
      .select(col("id1"), col("id2"), col("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /**
   * EXACT n-gram (shingle) Jaccard near-dup pairs with blocking —
   * prefix filtering (the AllPairs/PPJoin principle: Bayardo et al.,
   * WWW 2007; Xiao et al., WWW 2008) instead of a quadratic
   * within-block self-join:
   *
   *  - Order every block's shingles RAREST-FIRST (document frequency,
   *    shingle text as tiebreak — one total order per block, shared by
   *    construction across its docs).
   *  - A pair with J ≥ t must share at least one shingle inside each
   *    side's first `|s| − ⌈t·|s|⌉ + 1` shingles of that order (if the
   *    prefixes were disjoint, the overlap is bounded below the
   *    ⌈t·|s|⌉ that J ≥ t requires). So candidates = equi-join of the
   *    exploded PREFIXES on (block, shingle) — rare tokens, tiny
   *    buckets — never a block-wide cross pair.
   *  - The length-ratio bound (J ≤ min|·|/max|·|) prunes inside the
   *    join condition on the two size longs; only surviving pairs
   *    rejoin the full arrays for the exact intersect/union verify,
   *    which decides membership — candidate generation only has to be
   *    a superset, and is.
   *
   * Scale shape: the shuffles are the shingle-frequency count (one
   * map-side-combined aggregation), the per-doc prefix cut (a
   * collect_list of the doc's own shingles — bounded by doc length,
   * same as the shingle array itself), and the prefix-token equi-join.
   * The ⌈·⌉ takes a 1e-9 slack so a float product landing just above
   * an integer can only ENLARGE the prefix (a superset of candidates),
   * never shrink it. Exactness: every J ≥ t pair survives; the verify
   * keeps nothing below t. The prefix join is sized by rare-token
   * bucket cardinalities — boilerplate-heavy corpora should collapse
   * exact dups first ([[exact]]), same contract as [[minhashPairs]].
   */
  def ngramJaccardPairs(df: DataFrame, id: Column, text: Column,
      block: Column, threshold: Double, shingleK: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val sets = spread(df.select(id.as("doc_id"), block.as("blk"), text.as("__text")))
      .select(col("doc_id"), col("blk"), shingles(col("__text"), shingleK).as("ss"))
      .filter(size(col("ss")) > 0) // zero-shingle docs satisfy no pair
    val toks = sets.select(col("doc_id"), col("blk"),
      size(col("ss")).as("sz"), explode(col("ss")).as("sh"))
    val freq = toks.groupBy(col("blk"), col("sh")).agg(count(lit(1)).as("c"))
    // rare-first prefix of each doc's shingle set, exploded to
    // (block, shingle) join keys; localCheckpoint because the frame
    // feeds both sides of the candidate self-join
    val pre = toks.join(freq, Seq("blk", "sh"))
      .groupBy(col("doc_id"), col("blk"), col("sz"))
      .agg(array_sort(collect_list(struct(col("c"), col("sh")))).as("ord"))
      .withColumn("p", greatest(lit(1),
        (col("sz") - ceil(lit(threshold) * col("sz").cast("double") -
          lit(1e-9)) + 1).cast("int")))
      .select(col("doc_id"), col("blk"), col("sz"),
        explode(expr("slice(ord, 1, p)")).as("t"))
      .select(col("doc_id"), col("blk"), col("sz"), col("t.sh").as("sh"))
      .localCheckpoint()
    val cands = pre.alias("l").join(pre.alias("r"),
        col("l.blk") === col("r.blk") && col("l.sh") === col("r.sh") &&
          col("l.doc_id") < col("r.doc_id") &&
          least(col("l.sz"), col("r.sz")).cast("double") >=
            lit(threshold) * greatest(col("l.sz"), col("r.sz")).cast("double"))
      .select(col("l.doc_id").as("id1"), col("r.doc_id").as("id2"))
      .distinct()
    cands
      .join(sets.select(col("doc_id").as("id1"), col("ss").as("ss1")), "id1")
      .join(sets.select(col("doc_id").as("id2"), col("ss").as("ss2")), "id2")
      .withColumn("jaccard",
        size(array_intersect(col("ss1"), col("ss2"))).cast("double") /
          size(array_union(col("ss1"), col("ss2"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /**
   * LSH recall audit — measure the banding's recall instead of
   * trusting the collision formula: on a deterministic `rate` sample
   * of the corpus, compute the EXACT all-pairs Jaccard ground truth
   * and compare against what [[minhashPairs]] (same n/bands/threshold)
   * finds on the same sample. One summary row: true pairs, found
   * pairs, missed pairs, and `recall_micro = ⌊found·10⁶/true⌋`
   * (integer division — engine-portable). Precision needs no audit:
   * the verify stage is exact, so every emitted pair is true by
   * construction.
   *
   * The audit's budget knob is `rate`: ground truth is O((rate·N)²)
   * pairs of 8-byte hash arrays — size the sample so that square fits
   * (10⁴ docs → 5·10⁷ cheap comparisons). This is the "measure, don't
   * guess" counterpart to tuning `bands` from the `(1/b)^(1/r)`
   * S-curve alone: run it per-corpus after any threshold or banding
   * change, and whenever the duplicate structure shifts (the 100×
   * replica-clique probe in BASELINE.md is exactly the shape that
   * invalidates a formula-only estimate).
   */
  def lshRecallAudit(df: DataFrame, id: Column, text: Column,
      threshold: Double, rate: Double, n: Int = 64, bands: Int = 16,
      shingleK: Int = 3): DataFrame = {
    require(rate > 0 && rate <= 1, "rate must be in (0, 1]")
    val sample = df.filter(Sampling.fraction(id) < lit(rate))
    // ONE shingled/hashed build feeds truth AND the banded pipeline —
    // calling minhashPairs here would shingle the sample a second time
    val sets = shingled(sample, id, text, shingleK).localCheckpoint()
    val hsets = hashedSets(sets)
      .filter(size(col("hs")) > 0)
      .localCheckpoint() // truth join (both sides) + the banded verify
    val truth = hsets.select(col("doc_id").as("id1"), col("hs").as("hs1"))
      .join(hsets.select(col("doc_id").as("id2"), col("hs").as("hs2")),
        col("id1") < col("id2"))
      // exact length-ratio bound ahead of the intersect (J ≤
      // min|·|/max|·|): skips the set arithmetic for size-mismatched
      // pairs, output unchanged (same prune as minhashVerify)
      .filter(least(size(col("hs1")), size(col("hs2"))).cast("double") >=
        lit(threshold) *
          greatest(size(col("hs1")), size(col("hs2"))).cast("double"))
      .withColumn("jaccard",
        size(array_intersect(col("hs1"), col("hs2"))).cast("double") /
          size(array_union(col("hs1"), col("hs2"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"))
    val found = minhashVerify(
        lshCandidates(sigsOf(sets, n), bands, n), hsets, threshold)
      .select(col("id1"), col("id2"), lit(1L).as("__f"))
    // coalesce AFTER the aggregate too: over an empty truth frame,
    // sum() is NULL — the meaningful zero-dup answer is (0, 0, 0, null)
    truth.join(found, Seq("id1", "id2"), "left")
      .agg(count(lit(1)).as("true_pairs"),
        coalesce(sum(coalesce(col("__f"), lit(0L))), lit(0L)).as("found_pairs"))
      .withColumn("missed_pairs", col("true_pairs") - col("found_pairs"))
      .withColumn("recall_micro", when(col("true_pairs") > 0,
        graft.functions.ldiv(col("found_pairs") * lit(1000000L),
          col("true_pairs"))))
  }

  /**
   * [[lshRecallAudit]] for the BOUNDED path — measure what
   * [[minhashPairsBounded]]'s recall-for-boundedness trade actually
   * costs on a given corpus, instead of trusting the star-cap
   * analysis. On a deterministic `rate` sample, compute the exact
   * all-pairs ground truth and compare against
   * `minhashPairsBounded(..., maxBucket)` on the same sample. One
   * summary row:
   *
   *  - `true_pairs` / `found_pairs` / `recall_micro` — as in
   *    [[lshRecallAudit]]; on a hot corpus recall drops by design
   *    (a k-member star emits k−1 of its cluster's ~k²/2 pairs).
   *  - `truth_docs` / `covered_docs` / `coverage_micro` — the
   *    curator-relevant metric the pair count hides: of the docs
   *    appearing in ≥ 1 TRUE pair, how many appear in ≥ 1 FOUND
   *    pair. The full-original-bucket anchor star keeps a capped
   *    cluster's members connected whenever they verify ≥ t against
   *    the anchor, so coverage stays ~10⁶ on genuine near-dup
   *    clusters even where pair recall collapses — and
   *    [[clusters]]/[[Pipeline.cleanCorpus]] decide keep/drop from
   *    connectivity, not pair multiplicity. (This row is what caught
   *    the r16 refined-only star orphaning ~35% of a hot cluster.)
   *  - `precision_micro` — ⌊(found ∩ true)·10⁶ / found⌋: pinned at
   *    10⁶ by the exact verify; the audit asserts it instead of
   *    assuming it.
   *
   * Same budget knob as [[lshRecallAudit]] (`rate`; ground truth is
   * O((rate·N)²)). Run it whenever `maxBucket` or the duplicate
   * structure changes — in particular on boilerplate-heavy corpora,
   * where this row is the measured evidence behind
   * [[Pipeline.cleanCorpus]]'s bounded-by-default near-dup stage.
   */
  def lshBoundedRecallAudit(df: DataFrame, id: Column, text: Column,
      threshold: Double, rate: Double, n: Int = 64, bands: Int = 16,
      shingleK: Int = 3, maxBucket: Int = 4096): DataFrame = {
    require(rate > 0 && rate <= 1, "rate must be in (0, 1]")
    // multi-consumer frames are LAZY checkpoints (r17): each still
    // materializes exactly once at first use, but the five stages no
    // longer run as five serialized plan-construction jobs — the one
    // final action overlaps them (A/B: min 3.66 s lazy vs 4.21 s
    // eager on the dedup_lsh_audit_bounded gate, isolated BenchSubset)
    val sample = df.filter(Sampling.fraction(id) < lit(rate))
      .localCheckpoint(eager = false) // truth chain + bounded pipeline
    val sets = shingled(sample, id, text, shingleK)
      .localCheckpoint(eager = false)
    val hsets = hashedSets(sets)
      .filter(size(col("hs")) > 0)
      .localCheckpoint(eager = false) // truth join consumes both sides
    val truth = hsets.select(col("doc_id").as("id1"), col("hs").as("hs1"))
      .join(hsets.select(col("doc_id").as("id2"), col("hs").as("hs2")),
        col("id1") < col("id2"))
      // exact length-ratio bound ahead of the intersect (J ≤
      // min|·|/max|·| — the minhashVerify prune): skips the set
      // arithmetic for size-mismatched pairs, output unchanged
      .filter(least(size(col("hs1")), size(col("hs2"))).cast("double") >=
        lit(threshold) *
          greatest(size(col("hs1")), size(col("hs2"))).cast("double"))
      .withColumn("jaccard",
        size(array_intersect(col("hs1"), col("hs2"))).cast("double") /
          size(array_union(col("hs1"), col("hs2"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"))
      .localCheckpoint(eager = false) // pair join + doc-coverage sides
    val found = minhashPairsBounded(sample, id, text, threshold, n,
        bands, shingleK, maxBucket)
      .select(col("id1"), col("id2"))
      .localCheckpoint(eager = false) // pair join + coverage + precision
    val pairStats = truth
      .join(found.withColumn("__f", lit(1L)), Seq("id1", "id2"), "left")
      .agg(count(lit(1)).as("true_pairs"),
        coalesce(sum(coalesce(col("__f"), lit(0L))), lit(0L))
          .as("found_pairs"))
    def docsOf(pairsDf: DataFrame): DataFrame =
      pairsDf.select(col("id1").as("doc_id"))
        .unionByName(pairsDf.select(col("id2").as("doc_id")))
        .distinct()
    val coverage = docsOf(truth)
      .join(docsOf(found).withColumn("__c", lit(1L)), Seq("doc_id"), "left")
      .agg(count(lit(1)).as("truth_docs"),
        coalesce(sum(coalesce(col("__c"), lit(0L))), lit(0L))
          .as("covered_docs"))
    val prec = found
      .join(truth.withColumn("__t", lit(1L)), Seq("id1", "id2"), "left")
      .agg(count(lit(1)).as("__found2"),
        coalesce(sum(coalesce(col("__t"), lit(0L))), lit(0L)).as("__tp"))
    // three 1-row frames → one summary row; broadcast-joined on
    // nothing (literal key), never corpus-sized
    pairStats.withColumn("__k", lit(1))
      .join(coverage.withColumn("__k", lit(1)), "__k")
      .join(prec.withColumn("__k", lit(1)), "__k")
      .select(col("true_pairs"), col("found_pairs"),
        when(col("true_pairs") > 0,
          graft.functions.ldiv(col("found_pairs") * lit(1000000L),
            col("true_pairs"))).as("recall_micro"),
        col("truth_docs"), col("covered_docs"),
        when(col("truth_docs") > 0,
          graft.functions.ldiv(col("covered_docs") * lit(1000000L),
            col("truth_docs"))).as("coverage_micro"),
        when(col("__found2") > 0,
          graft.functions.ldiv(col("__tp") * lit(1000000L),
            col("__found2"))).as("precision_micro"))
  }

  /**
   * Asymmetric CONTAINMENT near-dup pairs: `C(A→B) = |A∩B| / |A| ≥ t`
   * over shingle sets — the "doc A is (mostly) inside doc B" relation
   * that symmetric Jaccard misses by construction: a quote page or
   * aggregator that wholesale-includes a smaller document has
   * `J = |A|/|B| ≈ 0` but `C = 1`, and MinHash LSH recall (calibrated
   * to J) misses exactly those pairs. Containment is the dedup mode
   * for boilerplate-wrapped republication (cf. the MASSIVE/RefinedWeb
   * line of corpus reports on aggregator duplication).
   *
   * Candidate generation is prefix filtering on the CONTAINED side
   * only (the one-sided adaptation of [[ngramJaccardPairs]]'s
   * AllPairs/PPJoin principle): `C(A→B) ≥ t` needs overlap
   * `≥ ⌈t·|A|⌉`, so A's rarest `|A| − ⌈t·|A|⌉ + 1` shingles must
   * intersect B's FULL set — if the prefix missed B entirely, the
   * overlap tops out at `⌈t·|A|⌉ − 1`. Candidates are therefore the
   * equi-join of A-prefixes against the full (doc, shingle) stream;
   * exact recall, and the verify keeps nothing below t. The ⌈·⌉
   * takes the same 1e-9 slack (can only ENLARGE the prefix).
   *
   * Scale shape: per-shingle join work is (prefix occurrences) ×
   * (document frequency) — rare-first prefixes keep the probe side
   * tiny, but unlike the symmetric join the index side is unpruned,
   * so a corpus whose RAREST shingles are still boilerplate-common
   * degrades; the [[minhashPairs]] contract applies doubly here:
   * collapse exact duplicates first, and strip known boilerplate
   * ([[sharedSubstrings]]) before containment mining. The symmetric
   * length-RATIO prune does not apply (a 50-word doc inside a
   * 50k-word page is exactly the target), but the one-sided bound
   * does: `overlap ≤ |B|`, so `C ≥ t` needs `|B| ≥ t·|A|` — a
   * container can't be much smaller than what it contains. The bound
   * rides the candidate join on two size longs and prunes before the
   * exact-intersect verify ever sees a pair.
   */
  def containmentPairs(df: DataFrame, id: Column, text: Column,
      threshold: Double, shingleK: Int = 3): DataFrame =
    // the whole pipeline — prefix order, candidate join keys, verify
    // sets — runs on [[hashedSets]] hashes: join keys shuffle as
    // longs, verify arrays carry ~8 B/shingle. Lazy checkpoint (r18,
    // VERDICT r17 task 4): all five consumers (token stream ×3, both
    // verify joins) live inside the caller's single action, so the
    // eager form only serialized the corpus shingle+md5 build ahead
    // of it as a separate job barrier — the blocks and the
    // single-materialization are identical either way
    containmentPairsFromSets(
      hashedShingleSets(df, id, text, shingleK)
        .localCheckpoint(eager = false),
      threshold)

  /** The `(doc_id, hs)` hashed-shingle-set frame every set-overlap
   * stage consumes — exposed so a pipeline that runs several of them
   * (containment + minhash + audit) shingles the corpus ONCE and
   * shares the materialized frame, instead of re-running the most
   * expensive scan per stage (the [[Pipeline.preferencePairs]]
   * shared-byproduct discipline). Pass it through `localCheckpoint`
   * (or [[CheckpointMode]]'s reliable variant) before fanning out. */
  def hashedShingleSets(df: DataFrame, id: Column, text: Column,
      shingleK: Int = 3): DataFrame =
    hashedSets(shingled(df, id, text, shingleK))

  /** [[containmentPairs]] over a PRECOMPUTED [[hashedShingleSets]]
   * frame — bit-identical output to the end-to-end entry (the
   * equivalence is spec-pinned), zero re-shingling. */
  def containmentPairsFromSets(hsetsIn: DataFrame,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val hsets = hsetsIn
      .filter(size(col("hs")) > 0) // zero-shingle docs contain nothing
    val toks = hsets.select(col("doc_id"), size(col("hs")).as("sz"),
      explode(col("hs")).as("sh"))
    val freq = toks.groupBy(col("sh")).agg(count(lit(1)).as("c"))
    val pre = toks.join(freq, Seq("sh"))
      .groupBy(col("doc_id"), col("sz"))
      .agg(array_sort(collect_list(struct(col("c"), col("sh")))).as("ord"))
      .withColumn("p", greatest(lit(1),
        (col("sz") - ceil(lit(threshold) * col("sz").cast("double") -
          lit(1e-9)) + 1).cast("int")))
      .select(col("doc_id"), col("sz"), explode(expr("slice(ord, 1, p)")).as("t"))
      .select(col("doc_id"), col("sz"), col("t.sh").as("sh"))
    val cands = pre.alias("l")
      .join(toks.select(col("doc_id"), col("sz"), col("sh")).alias("r"),
        col("l.sh") === col("r.sh") && col("l.doc_id") =!= col("r.doc_id") &&
          // overlap ≤ |B|: a container smaller than t·|A| can't qualify
          col("r.sz").cast("double") >=
            lit(threshold) * col("l.sz").cast("double") - lit(1e-9))
      .select(col("l.doc_id").as("id_in"), col("r.doc_id").as("id_out"))
      .distinct()
    cands
      .join(hsets.select(col("doc_id").as("id_in"), col("hs").as("hs1")), "id_in")
      .join(hsets.select(col("doc_id").as("id_out"), col("hs").as("hs2")), "id_out")
      .withColumn("containment",
        size(array_intersect(col("hs1"), col("hs2"))).cast("double") /
          size(col("hs1")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_in"), col("id_out"), col("containment"))
  }

  /**
   * Cluster resolution over near-dup pairs: maps every paired doc to
   * its connected component's minimum id (`cluster_id`) — the
   * keep-list step a dedup pipeline actually consumes (keep rows with
   * `doc_id == cluster_id`). Pairwise keeper-wins is not enough:
   * near-dup relations chain (A~B, B~C with no A~C pair), and only
   * the transitive closure dedups the whole chain against one keeper.
   * Docs in no pair are absent (their cluster is trivially
   * themselves).
   *
   * Implementation: join-based iterative min-label propagation — every
   * node starts as its own label; each round takes the min of its and
   * its neighbors' labels; converges in O(component diameter) rounds
   * (duplicate clusters are near-cliques, so typically 1-3). Each
   * round is one equi-join + group-by over the EDGE list — nothing is
   * ever collected to the driver, so components of any size stay
   * distributed. Each round's labels materialize via `ckpt` —
   * `localCheckpoint` by default, or [[CheckpointMode.Reliable]] for
   * a fault-tolerant checkpoint dir on a real cluster — cutting the
   * exponentially growing lineage the loop would otherwise build.
   *
   * `alternatingStars = true` switches to alternating large-star /
   * small-star rounds ([[clustersStars]]) — O(log diameter) rounds
   * instead of O(diameter), for the rare corpus whose duplicate
   * relation chains deeply (template families that drift one edit per
   * generation) rather than forming the usual near-cliques. Identical
   * output either way; label propagation stays the default because on
   * near-clique components it converges in the same 1-3 rounds with
   * one fewer shuffle per round.
   */
  def clusters(pairs: DataFrame, alternatingStars: Boolean = false,
      ckpt: CheckpointMode = CheckpointMode.Local): DataFrame =
    (if (alternatingStars) clustersStars(pairs, ckpt)
     else clustersLabelProp(pairs, ckpt))._1

  /** Min-label propagation rounds (see [[clusters]]); returns the
   * round count for convergence tests. */
  private[operators] def clustersLabelProp(pairs: DataFrame,
      ckpt: CheckpointMode = CheckpointMode.Local): (DataFrame, Int) = {
    val edges0 = pairs
      .select(col("id1").as("src"), col("id2").as("dst"))
      .unionByName(pairs.select(col("id2").as("src"), col("id1").as("dst")))
      .distinct()
      // pre-partition on the loop's join key: localCheckpoint preserves
      // outputPartitioning, so when labels outgrow broadcast (heavy-dup
      // corpora: one label row per paired node) the per-round sort-merge
      // join exchanges only the label frame — the edge list, the big
      // side, crosses the wire once here instead of once per round
      .repartition(col("dst"))
    val edges = ckpt(edges0) // pairs may be a whole LSH pipeline: run it once
    // Seeded initialization = the first propagation round for free:
    // with identity labels, a node's neighbor labels ARE its neighbor
    // ids, so round 1 collapses to one group-by over the edge list —
    // no label join, and near-clique components (the common dedup
    // case) arrive converged, leaving the loop only the verify pass.
    var labels = ckpt(edges.groupBy(col("src"))
      .agg(min(col("dst")).as("nbr"))
      .select(col("src").as("doc_id"),
        least(col("src"), col("nbr")).as("cluster_id")))
    var rounds = 1 // the seeded init is round one
    var changed = 1L
    // in-loop steps take a LAZY local checkpoint under the default
    // eager Local mode (r18, guide §2.6): the convergence count right
    // below is a full scan of the step, so it materializes the
    // checkpoint blocks INSIDE its own job — one job per round instead
    // of two (eager ckpt job + count job). No dual-compute hazard:
    // when the count returns, the step is fully materialized, and
    // everything that reads it (next round, the returned labels) runs
    // after. Reliable mode keeps its per-round distributed write —
    // that durability IS the mode's point.
    val stepCkpt: CheckpointMode =
      if (ckpt == CheckpointMode.Local) CheckpointMode.Lazy else ckpt
    while (changed > 0) {
      rounds += 1
      val viaNbr = edges
        .join(labels.select(col("doc_id").as("dst"),
          col("cluster_id").as("dst_label")), "dst")
        .groupBy(col("src")).agg(min(col("dst_label")).as("nbr_label"))
        .select(col("src").as("doc_id"), col("nbr_label"))
      // old and new labels ride the SAME checkpointed frame, so the
      // convergence check is a scan of it — joining labels back for a
      // `prev` column would add a whole shuffle per round
      val step = stepCkpt(labels.join(viaNbr, Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster_id").as("prev"),
          least(col("cluster_id"), coalesce(col("nbr_label"), col("cluster_id")))
            .as("cluster_id")))
      changed = step.filter(col("cluster_id") =!= col("prev")).count()
      labels = step.select(col("doc_id"), col("cluster_id"))
    }
    (labels, rounds)
  }

  /**
   * Alternating large-star / small-star connected components (the
   * public two-phase MapReduce CC algorithm: Kiveris et al.,
   * "Connected Components in MapReduce and Beyond", SoCC 2014 — also
   * the design inside GraphFrames): edges converge onto each
   * component's minimum in O(log diameter) rounds, vs label
   * propagation's O(diameter).
   *
   *  - **large-star**: every node u connects its strictly LARGER
   *    neighbors to `min(Γ(u) ∪ u)` — long chains halve (pointer
   *    doubling) while edges only ever point to smaller ids, so no
   *    step can lose a component's minimum.
   *  - **small-star**: every node u connects its smaller neighbors
   *    (and itself) to their minimum — flattens the local trees the
   *    large-star step builds.
   *
   * Both phases are one group-by + one equi-join over the edge list —
   * the same exchange shape as a label-propagation round, run twice
   * per round. Converged when the edge set is a star forest (no
   * parent is itself a child), which under the p < n invariant means
   * every tree is a whole component hanging directly off its minimum
   * — checked with a node-set semi-join, no driver-side edge
   * materialization anywhere.
   */
  private[operators] def clustersStars(pairs: DataFrame,
      ckpt: CheckpointMode = CheckpointMode.Local): (DataFrame, Int) = {
    var e = ckpt(pairs
      .select(greatest(col("id1"), col("id2")).as("n"),
        least(col("id1"), col("id2")).as("p"))
      .filter(col("n") =!= col("p"))
      .distinct()) // pairs may be a whole LSH pipeline: run it once
    var rounds = 0
    var done = e.isEmpty
    while (!done) {
      rounds += 1
      // large-star over the full (bidirectional) neighborhood
      val nbrs = e.select(col("n").as("u"), col("p").as("v"))
        .unionByName(e.select(col("p").as("u"), col("n").as("v")))
      val mins = nbrs.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val large = nbrs.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("n"), col("m").as("p"))
        .distinct()
      // small-star: all edges already point downward (p < n), so
      // min(N ∪ u) = min(N); each edge re-emits both endpoints → min
      val smins = large.groupBy(col("n")).agg(min(col("p")).as("m"))
      val small = ckpt(large.join(smins, "n")
        .select(explode(array(
          struct(col("n").as("a"), col("m").as("b")),
          struct(col("p").as("a"), col("m").as("b")))).as("e"))
        .select(col("e.a").as("n"), col("e.b").as("p"))
        .filter(col("n") =!= col("p"))
        .distinct())
      done = small
        .join(small.select(col("n").as("p")).distinct(), Seq("p"), "left_semi")
        .isEmpty
      e = small
    }
    val labels = e.select(col("n").as("doc_id"), col("p").as("cluster_id"))
      .unionByName(e.select(col("p"), col("p")).distinct()
        .toDF("doc_id", "cluster_id"))
    (labels, rounds)
  }

  // ---------------- SimHash ---------------------------------------------

  /** 60-bit SimHash fingerprints (see graft.functions.SimHash60).
   * Null texts have no fingerprint and are dropped. */
  def simhashes(df: DataFrame, id: Column, text: Column): DataFrame =
    spread(df.filter(text.isNotNull).select(id.as("doc_id"), tokens(text).as("w")))
      .select(col("doc_id"), simhash60(col("w")).as("simhash"))

  /** SimHash near-dup pairs with hamming distance ≤ maxDist, using
   * 15-bit band blocking (4 bands; pigeonhole guarantees recall for
   * maxDist ≤ 3) — never an all-pairs join: pairs are generated
   * inside each (band, key) bucket after one group-by shuffle. */
  def simhashPairs(df: DataFrame, id: Column, text: Column,
      maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "4-band blocking guarantees recall only to hamming 3")
    val fp = simhashes(df, id, text)
    val banded = fp.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 15).bitwiseAND(lit(0x7fffL))): _*)))
      .toDF("doc_id", "simhash", "band", "key")
    explodedPairs(banded.groupBy(col("band"), col("key"))
        .agg(array_sort(collect_list(struct(col("doc_id"), col("simhash")))).as("ids"))
        .filter(size(col("ids")) > 1))
      .select(col("id1.doc_id").as("id1"), col("id2.doc_id").as("id2"),
        bit_count(col("id1.simhash").bitwiseXOR(col("id2.simhash"))).as("hamming"))
      .filter(col("id1") =!= col("id2"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  // ---------------- Incremental (batch-vs-corpus) ------------------------

  /** The (n, bands, shingleK) stamp an index was built with, carried
   * as a constant column — parquet RLE makes it ~free, and it lets
   * [[incrementalIndexed]] reject a parameter mismatch loudly instead
   * of silently admitting near-duplicates whose band keys could never
   * match. */
  private def indexParams(n: Int, bands: Int, shingleK: Int): String =
    s"n=$n;bands=$bands;k=$shingleK"

  /**
   * Persistable admission index: ONE compact row per corpus doc —
   * content fingerprint `fp`, shingle count `sz`, and the LSH band
   * keys `bkeys` (`bands` structs). This is the "persist the corpus's
   * (band, key) frame and fingerprints once" object [[incremental]]'s
   * scaladoc prescribes, materialized: a few hundred bytes per doc
   * (vs the KB-scale text), plain columns — cheap parquet, appended
   * per admitted batch. Docs whose text yields no shingles carry a
   * null `bkeys` (they can exact-match but never near-match, same as
   * the derive-from-text path).
   */
  def corpusIndex(corpus: DataFrame, id: Column, text: Column,
      n: Int = 64, bands: Int = 16, shingleK: Int = 3): DataFrame = {
    val sets = shingled(corpus, id, text, shingleK)
      .localCheckpoint() // consumed by the band keys AND the size join
    val bk = bandKeys(sigsOf(sets, n), bands, n)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("band"), col("key"))).as("bkeys"))
    corpus.select(id.as("doc_id"), TextOps.fingerprint(text).as("fp"))
      .join(sets.select(col("doc_id"), size(col("ss")).as("sz")),
        Seq("doc_id"), "left")
      .join(bk, Seq("doc_id"), "left")
      .withColumn("idx_params", lit(indexParams(n, bands, shingleK)))
  }

  /**
   * Incremental [[corpusIndex]] maintenance — the missing half of the
   * admission loop: [[incrementalIndexed]] screens a batch against the
   * standing index at batch cost, and THIS folds the admitted batch
   * back in at batch cost (re-derive fp/size/band keys for the batch
   * alone, retire its ids from the standing index, union), so the
   * index a crawl pipeline probes every batch never needs a corpus
   * rebuild to absorb what it just admitted. Mirrors
   * [[graft.operators.Similarity.ivfIndexUpsert]] exactly: the same
   * params guard (a mismatched index fails loudly), and retirement
   * anti-joins the RAW batch's ids — not the fresh index's — so a
   * re-ingested doc whose new text is degenerate (null → null fp, no
   * shingles) still REPLACES its stale entry rather than leaving both.
   * Upserted index ≡ from-scratch [[corpusIndex]] of (corpus ∖ batch
   * ids) ∪ batch, bit-for-bit (spec-pinned; the gate probes it
   * through [[incrementalIndexed]] against the from-scratch oracle).
   */
  def corpusIndexUpsert(index: DataFrame, batch: DataFrame, id: Column,
      text: Column, n: Int = 64, bands: Int = 16,
      shingleK: Int = 3): DataFrame = {
    val expect = indexParams(n, bands, shingleK)
    val guarded =
      if (index.columns.contains("idx_params"))
        index.where(assert_true(col("idx_params") === lit(expect),
          concat(lit("corpusIndex built with "), col("idx_params"),
            lit(s", upserted with $expect"))).isNull)
      else index.withColumn("idx_params", lit(expect))
    val fresh = corpusIndex(batch, id, text, n, bands, shingleK)
    guarded.select("doc_id", "fp", "sz", "bkeys", "idx_params")
      .join(batch.select(id.as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .unionByName(fresh)
  }

  /**
   * TAKEDOWN propagation for the admission index: retire the listed
   * doc ids. Because every [[corpusIndex]] row is a PER-DOC local
   * derivation (fp/size/band keys read nothing outside the doc), the
   * anti-join IS the exact delete: post-delete index ≡ from-scratch
   * [[corpusIndex]] over corpus ∖ ids, bit-for-bit (spec-pinned).
   * Cost: one index-sized anti-join against a broadcastable id list —
   * the corpus text is never read.
   */
  def corpusIndexDelete(index: DataFrame, ids: DataFrame,
      id: Column): DataFrame =
    index.join(ids.select(id.as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")

  /**
   * [[incremental]] against a PREBUILT [[corpusIndex]] — bit-identical
   * output, radically different corpus cost: the exact check probes
   * index fingerprints, candidates come from the batch-bands ⋈
   * index-bands equi-join, the size prune reads `sz` off the index,
   * and corpus TEXT is touched only for docs that survive the prune
   * (a semi-join cut re-shingles candidates, not the corpus). Per
   * batch, the standing corpus costs one index scan plus the
   * candidate sliver — the 100 TB text is read ~never.
   */
  def incrementalIndexed(batch: DataFrame, index: DataFrame,
      corpus: DataFrame, id: Column, text: Column,
      threshold: Double = 0.8, n: Int = 64, bands: Int = 16,
      shingleK: Int = 3): DataFrame = {
    // reject a parameter mismatch loudly: band keys built under other
    // (n, bands, shingleK) would simply never match — silent missed
    // duplicates. The guard rides the scan (constant-folded compare),
    // no driver action.
    val expect = indexParams(n, bands, shingleK)
    val idx =
      if (index.columns.contains("idx_params"))
        index.where(assert_true(col("idx_params") === lit(expect),
          concat(lit("corpusIndex built with "), col("idx_params"),
            lit(s", queried with $expect"))).isNull)
      else index
    val bFp = batch.select(id.as("doc_id"), TextOps.fingerprint(text).as("__fp"))
    val cFp = idx.select(col("fp").as("__fp"))
      .filter(col("__fp").isNotNull).distinct()
    val exactFlag = bFp
      .join(cFp.withColumn("__hit", lit(1)), Seq("__fp"), "left")
      .select(col("doc_id"), coalesce(col("__hit"), lit(0)).as("dup_exact"))
    val bSets = shingled(batch, id, text, shingleK)
      .localCheckpoint() // consumed by band keys, size prune, verify
    val cBands = idx.filter(col("bkeys").isNotNull)
      .select(col("doc_id").as("cid"), explode(col("bkeys")).as("bk"))
      .select(col("cid"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cands = bandKeys(sigsOf(bSets, n), bands, n)
      .join(cBands, Seq("band", "key"))
      .select(col("doc_id"), col("cid"))
      .distinct()
    val pruned = cands
      .join(bSets.select(col("doc_id"), size(col("ss")).as("bsz")), "doc_id")
      .join(idx.select(col("doc_id").as("cid"), col("sz").as("csz")), "cid")
      .filter(least(col("bsz"), col("csz")).cast("double") >=
        lit(threshold) * greatest(col("bsz"), col("csz")).cast("double"))
      .select(col("doc_id"), col("cid"))
    // only candidate corpus docs get their text re-shingled
    val touched = corpus.join(pruned.select(col("cid")).distinct(),
      id === col("cid"), "left_semi")
    val cSets = shingled(touched, id, text, shingleK)
      .select(col("doc_id").as("cid"), col("ss").as("ss2"))
    // the SAME i/u >= t formulation as incremental (borderline pairs
    // flip under rearrangement — see the note there)
    val nearIds = pruned
      .join(bSets.select(col("doc_id"), col("ss").as("ss1")), "doc_id")
      .join(cSets, "cid")
      .filter(size(array_intersect(col("ss1"), col("ss2"))).cast("double") /
        size(array_union(col("ss1"), col("ss2"))).cast("double") >= threshold)
      .select(col("doc_id")).distinct()
      .withColumn("__near", lit(1))
    exactFlag
      .join(nearIds, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_exact"),
        coalesce(col("__near"), lit(0)).as("dup_near"))
      .withColumn("keep",
        when(col("dup_exact") === 1 || col("dup_near") === 1, lit(0))
          .otherwise(lit(1)))
  }

  /**
   * Incremental dedup — the add-a-batch step of a continuously built
   * corpus: flag each NEW document against the EXISTING corpus,
   * without ever comparing corpus docs to each other. Output: one row
   * per batch doc with `dup_exact` (same normalized fingerprint as
   * some corpus doc), `dup_near` (verified shingle-Jaccard ≥
   * `threshold` with some corpus doc via MinHash+LSH banding), and
   * `keep = !(dup_exact || dup_near)` — all 0/1 ints.
   *
   * Scale shape mirrors [[minhashPairs]], but the bucket join is
   * batch×corpus instead of a self-join, so candidate volume scales
   * with |batch|, not |corpus|²: band keys are equi-join keys (one
   * shuffle each side), the (batch, corpus) candidate pairs carry
   * bare ids through the size-ratio prune, and shingle arrays rejoin
   * only the survivors. The exact check is one fingerprint semi-join.
   * In a standing pipeline, persist [[corpusIndex]] once and use
   * [[incrementalIndexed]] instead of re-deriving from text each
   * batch; batch-INTERNAL duplicates are [[exact]]/[[minhashPairs]]
   * over the batch alone — compose both for a full admission filter.
   */
  def incremental(batch: DataFrame, corpus: DataFrame, id: Column, text: Column,
      threshold: Double = 0.8, n: Int = 64, bands: Int = 16,
      shingleK: Int = 3): DataFrame = {
    // exact: normalized-content fingerprint membership (null text has
    // a null fingerprint and can never match — SQL join semantics)
    val bFp = batch.select(id.as("doc_id"), TextOps.fingerprint(text).as("__fp"))
    val cFp = corpus.select(TextOps.fingerprint(text).as("__fp"))
      .filter(col("__fp").isNotNull).distinct()
    val exactFlag = bFp
      .join(cFp.withColumn("__hit", lit(1)), Seq("__fp"), "left")
      .select(col("doc_id"), coalesce(col("__hit"), lit(0)).as("dup_exact"))
    // near: batch bands ⋈ corpus bands → id-pair candidates → exact
    // size-ratio prune (J ≤ min|·|/max|·|) → Jaccard verify
    val bSets = shingled(batch, id, text, shingleK)
    val cSets = shingled(corpus, id, text, shingleK)
    val cands = bandKeys(sigsOf(bSets, n), bands, n)
      .join(bandKeys(sigsOf(cSets, n), bands, n)
        .select(col("doc_id").as("cid"), col("band"), col("key")),
        Seq("band", "key"))
      .select(col("doc_id"), col("cid"))
      .distinct()
    val pruned = cands
      .join(bSets.select(col("doc_id"), size(col("ss")).as("bsz")), "doc_id")
      .join(cSets.select(col("doc_id").as("cid"), size(col("ss")).as("csz")), "cid")
      .filter(least(col("bsz"), col("csz")).cast("double") >=
        lit(threshold) * greatest(col("bsz"), col("csz")).cast("double"))
      .select(col("doc_id"), col("cid"))
    // the verify division matches the oracle's formulation exactly —
    // a rearranged `i >= t·u` flips borderline pairs (0.8·5 > 4.0 in
    // doubles), so the SAME `i/u >= t` must run on both engines
    val nearIds = pruned
      .join(bSets.select(col("doc_id"), col("ss").as("ss1")), "doc_id")
      .join(cSets.select(col("doc_id").as("cid"), col("ss").as("ss2")), "cid")
      .filter(size(array_intersect(col("ss1"), col("ss2"))).cast("double") /
        size(array_union(col("ss1"), col("ss2"))).cast("double") >= threshold)
      .select(col("doc_id")).distinct()
      .withColumn("__near", lit(1))
    exactFlag
      .join(nearIds, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_exact"),
        coalesce(col("__near"), lit(0)).as("dup_near"))
      .withColumn("keep",
        when(col("dup_exact") === 1 || col("dup_near") === 1, lit(0))
          .otherwise(lit(1)))
  }

  /**
   * Corpus-level duplicated-SPAN removal — the sub-document dedup the
   * big web-corpus pipelines run after document dedup (C4 drops
   * repeated three-sentence spans; the exact-substring dedup
   * literature removes any repeated 50-token window): document text is
   * cut into consecutive non-overlapping `k`-word spans, and every
   * occurrence of a span except the globally FIRST one (by
   * `(doc_id, span index)` order) is deleted from its document. The
   * trailing `len % k` words are never candidates (too short to be a
   * span) and always survive. Output: one row per input document with
   * the rebuilt text (single-space re-joined), the span count, and
   * how many spans were dropped — `n_dropped = 0` rows pass through
   * verbatim (modulo whitespace normalization, documented).
   *
   * Scale shape: spans never leave their document until the
   * first-occurrence resolution, which is one `groupBy(span)` whose
   * map-side partial `min` collapses hot boilerplate spans BEFORE the
   * shuffle (a window `row_number over (partition by span)` would
   * ship every occurrence of the hottest span to one task); the
   * keeper frame then equi-joins back on the span. Rebuild is one
   * `groupBy(doc_id)` — rows ≤ #spans, grouped on the id the next
   * pipeline stage joins on anyway. Nothing is quadratic and no
   * corpus-sized state touches the driver.
   */
  def spanDedup(docs: DataFrame, id: Column, text: Column,
      k: Int = 5): DataFrame = {
    val base = docs.select(id.as("doc_id"), split(text, " ").as("ws"))
      // non-negative sizes: floor == integer division on both engines
      .withColumn("nf", floor(size(col("ws")) / k).cast("int"))
    val spans = base.select(col("doc_id"),
        posexplode(when(col("nf") > 0,
          expr(s"transform(sequence(0, nf - 1), i -> " +
            s"array_join(slice(ws, i * $k + 1, $k), ' '))"))
          .otherwise(array().cast("array<string>"))).as(Seq("six", "span")))
    val firsts = spans.groupBy(col("span"))
      .agg(min(struct(col("doc_id"), col("six"))).as("__first"))
    val rebuilt = spans.join(firsts, "span")
      .withColumn("__keep",
        struct(col("doc_id"), col("six")) === col("__first"))
      .groupBy(col("doc_id"))
      .agg(
        // when() yields null for dropped spans; collect_list skips
        // nulls, so the sort_array is over kept (six, span) only
        sort_array(collect_list(when(col("__keep"),
          struct(col("six"), col("span"))))).as("__ks"),
        sum(when(!col("__keep"), 1L).otherwise(0L)).as("n_dropped"),
        count(lit(1)).as("n_spans"))
    base.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(filter(concat(
            coalesce(expr("transform(__ks, x -> x.span)"),
              array().cast("array<string>")),
            array(array_join(
              slice(col("ws"), col("nf") * k + 1,
                size(col("ws")) - col("nf") * k), " "))),
          x => x =!= ""), " ").as("text"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }

  /**
   * Per-source duplicated-substring report — the data-card face of
   * [[exactSubstringDedup]]: how many tokens of each source sit
   * inside duplicated ≥ l-token substrings that the cut would remove
   * (mirror crawls and re-posted boilerplate show up as high
   * `dup_share_ppm` long before anyone reads the text). Same engine
   * pass as the dedup plus one broadcast-able source join and a
   * |sources|-bounded rollup.
   */
  def exactSubstringReport(docs: DataFrame, id: Column, text: Column,
      source: Column, l: Int = 50): DataFrame = {
    import graft.functions.ldiv
    require(l >= 2, "l must be >= 2")
    // source rides the base frame through the cut: the rollup key
    // comes from scans the cut already pays (gram stream + rebuild),
    // not a THIRD corpus-scale scan-and-join
    val base = docs.select(id.as("doc_id"), split(text, " ").as("ws"),
      source.as("source"))
    cutMarkedSpans(base, markedWindows(base, l), l,
        extra = Seq("source"))
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_dropped_tokens")).as("n_dropped_tokens"),
        sum(col("n_drop_spans")).as("n_drop_spans"))
      .withColumn("dup_share_ppm",
        ldiv(col("n_dropped_tokens") * lit(1000000L),
          nullif(col("n_tokens"), lit(0L))))
  }

  /**
   * LEAKAGE-FREE train/val/test split — near-duplicate clusters are
   * assigned WHOLE to one split: a doc-level hash split puts a
   * document's near-duplicates in DIFFERENT splits, so the eval set
   * "memorizes" training text and benchmark numbers inflate (the
   * contamination the decontamination family guards against,
   * introduced by the split itself). Here the [[minhashPairs]] →
   * [[clusters]] chain labels near-dup components, every doc takes
   * its cluster representative (singletons: its own id), and the
   * REPRESENTATIVE's hash coordinate picks the split against the
   * cumulative `splits` ppm boundaries — so all members land
   * together, deterministically (re-runs and engines agree), and
   * reweighting splits only MOVES whole clusters.
   *
   * Scale shape: the cluster chain is the banded LSH pipeline (no
   * all-pairs); the assignment adds one broadcast-able left join
   * (cluster labels exist only for paired docs — sparse under
   * realistic duplication) and a scan projection. Output: `(doc_id,
   * rep_id, split)`.
   */
  def clusterSplit(docs: DataFrame, id: Column, text: Column,
      splits: Seq[(String, Long)], threshold: Double = 0.8,
      n: Int = 64, bands: Int = 16, shingleK: Int = 3): DataFrame =
    clusterSplitFromPairs(docs, id,
      minhashPairs(docs, id, text, threshold, n, bands, shingleK), splits)

  /** [[clusterSplit]] from a PRECOMPUTED near-dup pair frame
   * (`(id1, id2, …)`) — composes with ANY pair producer: MinHash,
   * [[simhashPairs]], [[graft.operators.Similarity]]'s embedding
   * near-dup pairs, or a union of several (split leakage cares about
   * every kind of duplication at once). */
  def clusterSplitFromPairs(docs: DataFrame, id: Column, pairs: DataFrame,
      splits: Seq[(String, Long)]): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 >= 0) &&
      splits.map(_._2).sum == 1000000L,
      "splits must be (name, ppm) weights summing to 1000000")
    val cl = clusters(pairs)
    val rep = docs.select(id.as("doc_id"))
      .join(cl, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("rep_id"))
    // ppm coordinate of the representative; boundaries are the
    // cumulative split weights, first match wins
    val coordPpm = floor(graft.operators.Sampling.fraction(col("rep_id"))
      * lit(1000000.0))
    val bounds = splits.scanLeft(0L) { case (acc, (_, w)) => acc + w }.tail
    val assign = splits.map(_._1).zip(bounds).reverse
      .foldLeft(lit(splits.last._1)) { case (acc, (name, hi)) =>
        when(coordPpm < lit(hi), lit(name)).otherwise(acc)
      }
    rep.withColumn("split", assign)
  }

  /**
   * EXACT-SUBSTRING dedup (Lee et al. 2022, "Deduplicating Training
   * Data Makes Language Models Better" — their ExactSubstr/
   * suffix-array semantics, token-level): remove every MAXIMAL
   * duplicated substring of ≥ `l` tokens from all but its globally
   * first occurrence. Where [[spanDedup]] cuts text into FIXED
   * non-overlapping k-spans (so a duplicated passage straddling a
   * span boundary survives), this marks duplication at ARBITRARY
   * offsets, which is what the suffix-array tools compute.
   *
   * The Spark-shaped equivalence that avoids a global suffix array:
   * a token lies in some duplicated substring of length ≥ l iff it is
   * covered by an l-window whose content occurs ≥ 2 times in the
   * corpus (any duplicated m ≥ l substring is the union of its
   * duplicated l-windows, and every duplicated l-window IS such a
   * substring) — so maximal duplicated spans are exactly maximal
   * runs of duplicated window STARTS, merged at gap ≤ l. Keep-first:
   * the globally first occurrence `min(doc_id, pos)` of each window
   * content is a KEEPER; dropped tokens = union(non-keeper windows)
   * MINUS union(keeper windows), so one copy of every duplicated
   * passage survives (ties bias to keep, deterministically).
   *
   * Scale shape: windows are 61-bit rolling hashes
   * ([[graft.functions.GramHashExpr]], one O(n) pass — never L
   * token-reads per position), the first-occurrence resolution is one
   * map-side-combinable `groupBy(gh).agg(count, min)` (hot
   * boilerplate windows collapse BEFORE the shuffle; a window
   * function over gh would ship every occurrence of the hottest gram
   * to one task), only DUPLICATED windows rejoin (broadcast-sized
   * under realistic duplication rates, AQE decides), and the
   * run-merge / interval-subtraction windows all partition by
   * `doc_id` — per-group state is bounded by the document. Nothing
   * is quadratic; the one corpus-scale shuffle is the gram count,
   * the same magnitude as any token-level histogram.
   *
   * Output: one row per input doc — rebuilt `text` (single-space
   * re-joined, [[spanDedup]]'s documented whitespace normalization),
   * `n_tokens`, dropped-token count and maximal-drop-span count.
   * Docs shorter than `l` tokens pass through verbatim.
   */
  def exactSubstringDedup(docs: DataFrame, id: Column, text: Column,
      l: Int = 50): DataFrame = {
    require(l >= 2, "l must be >= 2")
    val base = docs.select(id.as("doc_id"), split(text, " ").as("ws"))
    cutMarkedSpans(base, markedWindows(base, l), l)
  }

  /**
   * [[exactSubstringDedup]] over TRUE TOKEN IDS (`array<bigint>`) —
   * the domain Lee et al. 2022 actually define duplication on: the
   * suffix-array tools operate on the tokenizer's id stream, not
   * whitespace words, and this engine produces that stream
   * ([[graft.operators.CorpusStats.bpeEncodeIds]], pretok mode
   * included). Identical semantics and plan to the text form — the
   * rolling window hashes come from the SAME codegen expression
   * ([[graft.functions.GramHashExpr]], long-array overload: splitmix
   * per id instead of md5 per word, same 61-bit combine), the
   * mark/merge/subtract chain is shared — only the rebuild differs:
   * output is the SURVIVING ID ARRAY (`token_ids`), not re-joined
   * text, since ids round-trip losslessly where words needed the
   * single-space normalization. Docs shorter than `l` tokens pass
   * through verbatim.
   */
  def exactSubstringDedupTokens(docs: DataFrame, id: Column, tokens: Column,
      l: Int = 50): DataFrame = {
    require(l >= 2, "l must be >= 2")
    val base = docs.select(id.as("doc_id"), tokens.as("ws"))
    cutMarkedSpans(base, markedWindows(base, l), l, tokensOut = true)
  }

  /** The duplicated-window marking half: every window start whose
   * content occurs ≥ 2 times corpus-wide, flagged keeper iff it is
   * the global `min(doc_id, pos)` occurrence. Map-side-combinable
   * groupBy — hot boilerplate windows collapse before the shuffle. */
  private def markedWindows(base: DataFrame, l: Int): DataFrame = {
    val gh = gramStream(base, l)
    val firsts = gh.groupBy(col("gh"))
      .agg(count(lit(1)).as("__c"),
        min(struct(col("doc_id"), col("pos"))).as("__f"))
      .filter(col("__c") >= 2)
      .select(col("gh"), col("__f"))
    gh.join(firsts, "gh")
      .select(col("doc_id"), col("pos"),
        (struct(col("doc_id"), col("pos")) === col("__f")).as("is_first"))
  }

  /**
   * The PERSISTABLE exact-substring index: one row per distinct
   * l-window content with its globally FIRST occurrence
   * (`(gh, f struct(doc_id, pos))`) — what the incremental form
   * screens against. Min-merge is an exact homomorphism
   * ([[gramIndexUpsert]]), so the artifact a standing stream folds
   * batch-by-batch equals a from-scratch build of everything
   * ingested. Size is the corpus's distinct-window count × 16 bytes
   * — the [[corpusIndex]] size class.
   */
  def gramIndex(corpus: DataFrame, id: Column, text: Column,
      l: Int = 50): DataFrame =
    gramIndexOf(wsBase(corpus, id, text), l, gramParams(l))

  /** [[gramIndex]] over TRUE TOKEN IDS (`array<bigint>`) — the
   * standing index [[exactSubstringIncrementalTokens]] screens
   * against. Same min-merge artifact; its params tag is DISJOINT
   * from the word index's (token and word streams hash to unrelated
   * classes — cross-use would read every probe as "novel": silent
   * missed duplicates, exactly what the guard exists to catch). */
  def gramIndexTokens(corpus: DataFrame, id: Column, tokens: Column,
      l: Int = 50): DataFrame =
    gramIndexOf(corpus.select(id.as("doc_id"), tokens.as("ws")), l,
      gramParamsTokens(l))

  private def wsBase(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"), split(text, " ").as("ws"))

  private def gramIndexOf(base: DataFrame, l: Int, tag: String): DataFrame = {
    require(l >= 2, "l must be >= 2")
    gramStream(base, l)
      .groupBy(col("gh"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
      .withColumn("idx_params", lit(tag))
  }

  /** The gramIndex artifact-version tag — window hashes built under a
   * different `l` would simply never match a probe's (hash classes of
   * different window lengths are disjoint-by-construction but every
   * miss reads as "novel"): silent missed duplicates, the same
   * failure mode the [[corpusIndex]] guard closes. The token-id
   * family carries its own namespace (`esdt:`) for the same reason —
   * word and token streams hash to unrelated classes. */
  private def gramParams(l: Int): String = s"esd:l=$l"
  private def gramParamsTokens(l: Int): String = s"esdt:l=$l"

  /** Scan-checked params guard for gramIndex consumers: a mismatched
   * artifact fails loudly; legacy frames without the column adopt the
   * expected tag (they predate the guard). */
  private def guardedGramIndex(index: DataFrame, tag: String): DataFrame =
    if (index.columns.contains("idx_params"))
      index.where(assert_true(col("idx_params") === lit(tag),
        concat(lit("gramIndex built with "), col("idx_params"),
          lit(s", used with $tag"))).isNull)
    else index.withColumn("idx_params", lit(tag))

  /** Fold a batch into a [[gramIndex]]: per-gram min of first
   * occurrences — exact, order-free, batch-build + index-sized
   * merge (the [[corpusIndexUpsert]] cost shape). */
  def gramIndexUpsert(index: DataFrame, batch: DataFrame, id: Column,
      text: Column, l: Int = 50): DataFrame =
    gramIndexUpsertOf(index, wsBase(batch, id, text), l, gramParams(l))

  /** [[gramIndexUpsert]] for the token-id index. */
  def gramIndexUpsertTokens(index: DataFrame, batch: DataFrame, id: Column,
      tokens: Column, l: Int = 50): DataFrame =
    gramIndexUpsertOf(index,
      batch.select(id.as("doc_id"), tokens.as("ws")), l, gramParamsTokens(l))

  private def gramIndexUpsertOf(index: DataFrame, base: DataFrame, l: Int,
      tag: String): DataFrame =
    guardedGramIndex(index, tag).unionByName(gramIndexOf(base, l, tag))
      .groupBy(col("gh")).agg(min(col("f")).as("f"))
      .withColumn("idx_params", lit(tag))

  /**
   * TAKEDOWN propagation for the exact-substring index — the one
   * standing artifact whose delete is NOT a row retire: the index
   * keeps only each window content's MIN first occurrence, so a gram
   * whose keeper lived in a deleted doc needs a RE-MIN over the
   * remaining corpus (the dropped runner-up occurrences were never
   * stored). Three-way split, exact by construction:
   *
   *  - grams whose keeper doc survives: carried over verbatim (the
   *    corpus-wide min was a surviving doc, so it equals the
   *    remaining-corpus min);
   *  - grams whose keeper doc is deleted: re-min'd from `remaining`'s
   *    gram stream, restricted to exactly those grams;
   *  - grams occurring ONLY in deleted docs: vanish (the re-min scan
   *    finds no occurrence), as a from-scratch build would.
   *
   * Post-delete ≡ [[gramIndex]] over corpus ∖ ids, bit-for-bit
   * (spec-pinned), PROVIDED `index` is current for
   * `remaining ∪ deleted` — the standing-artifact contract.
   * `remaining` MAY still contain the deleted docs (callers often
   * have only the full corpus at hand): they are anti-joined out
   * before the re-min scan, so a deleted doc can never re-elect
   * itself as a gram's keeper — unlike the histogram/CMS deletes,
   * that contract violation would have no loud failure.
   *
   * Cost shape at 100 TB: the remaining corpus pays ONE gram-stream
   * scan (unavoidable — a deleted keeper's runner-up can live
   * anywhere), but the shuffle carries only occurrences of AFFECTED
   * grams (the semi-join cuts map-side) — vs a from-scratch rebuild's
   * corpus-scale gram shuffle. A takedown batch of k docs touches
   * ~k·doc-len grams of shuffle, not the corpus's.
   */
  def gramIndexDelete(index: DataFrame, ids: DataFrame, id: Column,
      remaining: DataFrame, rid: Column, rtext: Column,
      l: Int = 50): DataFrame =
    gramIndexDeleteOf(index, ids, id, wsBase(remaining, rid, rtext), l,
      gramParams(l))

  /** [[gramIndexDelete]] for the token-id index — identical re-min
   * contract over the remaining corpus's ID streams. */
  def gramIndexDeleteTokens(index: DataFrame, ids: DataFrame, id: Column,
      remaining: DataFrame, rid: Column, rtokens: Column,
      l: Int = 50): DataFrame =
    gramIndexDeleteOf(index, ids, id,
      remaining.select(rid.as("doc_id"), rtokens.as("ws")), l,
      gramParamsTokens(l))

  private def gramIndexDeleteOf(index: DataFrame, ids: DataFrame, id: Column,
      remainingBase: DataFrame, l: Int, tag: String): DataFrame = {
    require(l >= 2, "l must be >= 2")
    val dels = ids.select(id.as("__d")).distinct()
    val keeperDoc = col("f").getField("doc_id")
    val idx = guardedGramIndex(index, tag)
    val kept = idx.join(dels, keeperDoc === col("__d"), "left_anti")
    val affected = idx.join(dels, keeperDoc === col("__d"), "left_semi")
      .select(col("gh"))
    val remin = gramStream(
        remainingBase.join(dels, col("doc_id") === col("__d"), "left_anti"),
        l)
      .join(affected, "gh")
      .groupBy(col("gh")).agg(min(struct(col("doc_id"), col("pos"))).as("f"))
      .withColumn("idx_params", lit(tag))
    kept.unionByName(remin)
  }

  /**
   * INCREMENTAL exact-substring dedup — [[exactSubstringDedup]]'s
   * semantics for a batch screened against a standing [[gramIndex]]:
   * a batch window is duplicated iff its content occurred ANYWHERE
   * before (the index) or ≥ 2 times in batch ∪ index, and the keeper
   * is the globally smallest (doc_id, pos) across both — so the
   * output is BIT-IDENTICAL to running the batch operator over
   * corpus ∪ batch and keeping the batch's rows (spec-pinned). The
   * batch pays its own gram stream plus one join against the index;
   * the corpus text is never read.
   */
  def exactSubstringIncremental(batch: DataFrame, index: DataFrame,
      id: Column, text: Column, l: Int = 50): DataFrame =
    exactSubstringIncrementalOf(wsBase(batch, id, text), index, l,
      gramParams(l), tokensOut = false)

  /** [[exactSubstringIncremental]] over token-id arrays screened
   * against a [[gramIndexTokens]] — the incremental member of the
   * token family: output ≡ [[exactSubstringDedupTokens]] over
   * corpus ∪ batch restricted to the batch (spec-pinned), emitting
   * surviving `token_ids` arrays. */
  def exactSubstringIncrementalTokens(batch: DataFrame, index: DataFrame,
      id: Column, tokens: Column, l: Int = 50): DataFrame =
    exactSubstringIncrementalOf(
      batch.select(id.as("doc_id"), tokens.as("ws")), index, l,
      gramParamsTokens(l), tokensOut = true)

  private def exactSubstringIncrementalOf(base: DataFrame, index: DataFrame,
      l: Int, tag: String, tokensOut: Boolean): DataFrame = {
    require(l >= 2, "l must be >= 2")
    val gh = gramStream(base, l)
    val bAgg = gh.groupBy(col("gh"))
      .agg(count(lit(1)).as("__c"),
        min(struct(col("doc_id"), col("pos"))).as("__bf"))
    val joined = bAgg.join(
      guardedGramIndex(index, tag).select(col("gh"), col("f").as("__xf")),
      Seq("gh"), "left")
    // duplicated: an earlier corpus occurrence exists, or the batch
    // itself repeats the window; keeper = min over both sides
    val firsts = joined
      .filter(col("__xf").isNotNull || col("__c") >= 2)
      .select(col("gh"),
        when(col("__xf").isNotNull && col("__xf") < col("__bf"),
          col("__xf")).otherwise(col("__bf")).as("__f"))
    val marked = gh.join(firsts, "gh")
      .select(col("doc_id"), col("pos"),
        (struct(col("doc_id"), col("pos")) === col("__f")).as("is_first"))
    cutMarkedSpans(base, marked, l, tokensOut = tokensOut)
  }

  /** The per-doc position-indexed rolling window-hash stream
   * (`(doc_id, pos, gh)`) over a `(doc_id, ws)` frame. */
  private def gramStream(base: DataFrame, l: Int): DataFrame =
    base.select(col("doc_id"),
      posexplode(graft.functions.GramHashExpr.gramHashes(col("ws"), l))
        .as(Seq("pos", "gh")))

  /** The exact-substring CUT half, shared by the batch, incremental,
   * and token-id forms: merge duplicated window starts to maximal
   * intervals per (doc, keeper-class), subtract keeper intervals
   * from drop intervals, rebuild the survivors. `marked` is
   * `(doc_id, pos, is_first)` for DUPLICATED windows only.
   * `tokensOut = false` re-joins `ws` as single-spaced `text` (the
   * word paths); `true` emits the surviving elements as `token_ids`
   * (the id path — same filter, no stringification). */
  private def cutMarkedSpans(base: DataFrame, marked: DataFrame,
      l: Int, extra: Seq[String] = Nil,
      tokensOut: Boolean = false): DataFrame = {
    // maximal intervals per (doc, class): window starts sorted, new
    // island when the gap exceeds l (the [pos, pos+l) unions split)
    val ord = Window.partitionBy(col("doc_id"), col("is_first"))
      .orderBy(col("pos"))
    val iv = marked
      .withColumn("__ni",
        when(coalesce(col("pos") > lag(col("pos"), 1).over(ord) + l,
          lit(true)), 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__ni")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("is_first"), col("__isl"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + l).as("e"))
    val fi = iv.filter(col("is_first"))
      .select(col("doc_id"), col("s").as("fs"), col("e").as("fe"))
    val di = iv.filter(!col("is_first"))
      .select(col("doc_id"), col("s").as("ds"), col("e").as("de"))
    // interval subtraction D \ F: keeper intervals punch holes in
    // drop intervals (keeper sets are disjoint post-merge, so the
    // lag sweep per drop interval is a proper sweep)
    val ov = di.join(fi, Seq("doc_id"))
      .filter(col("fs") < col("de") && col("fe") > col("ds"))
    val sweep = Window.partitionBy(col("doc_id"), col("ds"))
      .orderBy(col("fs"))
    val mids = ov.select(col("doc_id"),
        greatest(col("ds"),
          coalesce(lag(col("fe"), 1).over(sweep), col("ds"))).as("ss"),
        least(col("de"), col("fs")).as("se"))
    val tails = ov.groupBy(col("doc_id"), col("ds"), col("de"))
      .agg(max(col("fe")).as("__m"))
      .select(col("doc_id"), greatest(col("ds"), col("__m")).as("ss"),
        col("de").as("se"))
    val whole = di.join(ov.select(col("doc_id"), col("ds"), col("de"))
        .distinct(), Seq("doc_id", "ds", "de"), "left_anti")
      .select(col("doc_id"), col("ds").as("ss"), col("de").as("se"))
    val segs = mids.unionByName(tails).unionByName(whole)
      .filter(col("se") > col("ss"))
    val per = segs.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("ss"), col("se"))))
          .as("__segs"),
        sum(col("se") - col("ss")).as("n_dropped_tokens"),
        count(lit(1)).as("n_drop_spans"))
    val kept = expr(
      "filter(ws, (w, i) -> NOT exists(__segs, " +
        "x -> i >= x.ss AND i < x.se))")
    val payload =
      if (tokensOut)
        when(col("__segs").isNull, col("ws")).otherwise(kept).as("token_ids")
      else
        when(col("__segs").isNull, array_join(col("ws"), " "))
          .otherwise(array_join(kept, " ")).as("text")
    base.join(per, Seq("doc_id"), "left")
      .select(col("doc_id") +: extra.map(col) ++: Seq(
        payload,
        size(col("ws")).cast("long").as("n_tokens"),
        coalesce(col("n_dropped_tokens"), lit(0L)).as("n_dropped_tokens"),
        coalesce(col("n_drop_spans"), lit(0L)).as("n_drop_spans")): _*)
  }
}
