package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * End-to-end corpus cleaning: the composition a training-data run
 * actually executes, as one DataFrame plan. Every doc gets a
 * keep/drop decision with the first applicable reason:
 *
 *   1. `exact_dup` — another doc with the same content fingerprint
 *      has a smaller id (greedy min-id keeper);
 *   2. `near_dup`  — a MinHash+LSH verified pair marks this doc as
 *      the larger id (greedy, deterministic); with
 *      `useClusters = true` the pairs instead flow through
 *      [[Dedup.clusters]] and every doc that is not its connected
 *      component's minimum id drops — one keeper per CHAIN of
 *      near-dups (A~B, B~C keeps exactly A even with no A~C pair);
 *   3. `lang`      — language ID outside the allowed set;
 *   4. `quality`   — quality score below the floor;
 *   5. `perplexity` — average NLL under the corpus-estimated unigram
 *      LM above `maxAvgNll` (the "doesn't read like the corpus"
 *      filter; disabled at the default infinity);
 *   6. `repetition` — top word-2-gram fraction above
 *      `maxTopNgramFrac` (Gopher/C4 boilerplate filter; disabled at
 *      the default 1.0);
 *   7. `contaminated` — shares a word 8-gram with the `bench` eval
 *      set (disabled when `bench` is None);
 *   8. `keep`.
 *
 * An `empty` gate precedes everything: null/empty text has no
 * fingerprint, no shingles, and no scores, so it is dropped outright
 * rather than flowing through the dedup branches.
 *
 * Plan shape: the fingerprint group-by, the LSH pipeline, and the
 * per-doc text scores are independent branches over one corpus scan
 * family, joined back on doc id. Nothing here is quadratic in the
 * corpus, and drop-list join strategies are left to AQE (the lists
 * can be a large fraction of the corpus).
 */
object Pipeline {

  /** The gram-index argument of [[takedown]]: the standing
   * first-occurrence index plus the corpus it must re-min against
   * ([[Dedup.gramIndexDelete]]'s signature — `remaining` MAY be the
   * full corpus, the delete anti-joins the ids out itself). */
  case class GramIndexRef(index: DataFrame, remaining: DataFrame,
      rid: Column, rtext: Column, l: Int = 50)

  /** Which standing artifacts a [[takedown]] call maintains — pass
   * the ones this pipeline actually persists; absent ones are simply
   * not reported on (they don't exist, so there is nothing to
   * retire). */
  case class TakedownArtifacts(
      corpusIndex: Option[DataFrame] = None,
      ivfIndex: Option[DataFrame] = None,
      pqCodes: Option[DataFrame] = None,
      gramIndex: Option[GramIndexRef] = None,
      windows: Option[DataFrame] = None)

  /** [[takedown]]'s output: the post-delete artifact frames (keyed by
   * the report's artifact names) and the audit report itself. */
  case class TakedownResult(artifacts: Map[String, DataFrame],
      report: DataFrame)

  /** The artifact families deletion CANNOT propagate into — each
   * discarded information a subtraction can't recover (KMV's beyond-
   * the-cut values, MG's destroyed decrements, the quantile grid's
   * fixed width, Bloom's OR'd bits, eval-grams' distinct-set sharing)
   * — so a takedown leaves them REBUILD-REQUIRED and the report says
   * so by name, per their operators' documented contracts
   * (CorpusStats/TextOps scaladocs). */
  val RebuildRequired: Seq[String] =
    Seq("kmv_sketch", "mg_sketch", "quantile_grid", "bloom_filter",
      "eval_grams")

  /**
   * ONE audited takedown entry point — the curator call that retires
   * a batch of ids from every configured standing artifact and
   * returns an accounting frame `(artifact, rows_removed,
   * rebuild_required)`:
   *
   *  - each present artifact retires through its own exact delete
   *    ([[Dedup.corpusIndexDelete]] / [[graft.operators.Similarity
   *    .ivfIndexDelete]] / `pqDelete` / [[Dedup.gramIndexDelete]] /
   *    [[Packing.windowsTakedown]] — post-delete ≡ from-scratch, the
   *    operators' spec-pinned contracts), appears in the report with
   *    its removed-row count, and comes back post-delete in
   *    `artifacts`;
   *  - the NON-INVERTIBLE families ([[RebuildRequired]]) always
   *    appear, flagged `rebuild_required = true` with a null count —
   *    the report's whole point is that a curator reads what a
   *    takedown did NOT cover;
   *  - the corpus STORE routes through
   *    [[graft.sources.SeriesStore.deleteKeys]] (targeted file
   *    rewrite), and the streaming form of this call is
   *    [[graft.streaming.SeriesStream.takedownStream]].
   *
   * This is an AUDIT ACTION, not a lazy plan: each delete
   * materializes once (localCheckpoint) and is counted — the returned
   * frames are those materialized results, so persisting them costs
   * no recompute. Each delete is artifact-sized (anti-joins / one
   * restricted re-min scan); nothing here re-reads corpus text except
   * the gram re-min, whose shuffle carries only affected grams.
   */
  def takedown(ids: DataFrame, id: Column,
      arts: TakedownArtifacts): TakedownResult = {
    val spark = ids.sparkSession
    val dels = ids.select(id.as("__td")).distinct().localCheckpoint()
    val updated = scala.collection.mutable.LinkedHashMap[String, DataFrame]()
    val rows = scala.collection.mutable.ArrayBuffer[(String, Option[Long],
      Boolean)]()
    // the five artifact deletes are INDEPENDENT jobs (each consumes
    // only `dels` + its own artifact), so they run from a small
    // thread pool and the Spark scheduler back-fills one delete's
    // straggler tail with the next delete's tasks (guide §2.6 —
    // r17: the serial form left the cluster idle per materialization
    // barrier; measured 2.24 → see OPTIMIZATION_r17.md). Report rows
    // and the artifacts map are assembled in the FIXED declaration
    // order below, so output order stays deterministic.
    val artDefs: Seq[(String, Option[DataFrame], DataFrame => DataFrame)] =
      Seq(
        ("corpus_index", arts.corpusIndex,
          Dedup.corpusIndexDelete(_: DataFrame, dels, col("__td"))),
        ("ivf_index", arts.ivfIndex,
          Similarity.ivfIndexDelete(_: DataFrame, dels, col("__td"))),
        ("pq_codes", arts.pqCodes,
          Similarity.pqDelete(_: DataFrame, dels, col("__td"))),
        ("gram_index", arts.gramIndex.map(_.index), (ix: DataFrame) => {
          val g = arts.gramIndex.get
          Dedup.gramIndexDelete(ix, dels, col("__td"), g.remaining,
            g.rid, g.rtext, g.l)
        }),
        ("packed_windows", arts.windows,
          Packing.windowsTakedown(_: DataFrame, dels, col("__td"))))
    val present = artDefs.count(_._2.isDefined)
    if (present > 0) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(present)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      // every delete runs under ONE cancellable job group: if a
      // delete throws, the siblings must not keep running Spark jobs
      // from background threads after this method has rethrown
      // (ADVICE r17). Await stays unbounded — a big artifact's delete
      // legitimately takes as long as it takes; a timeout here would
      // be a semantics change, not a hardening.
      val group = s"graft-takedown-${java.util.UUID.randomUUID()}"
      try {
        val futs = artDefs.flatMap { case (name, opt, del) =>
          opt.map { before =>
            (name, scala.concurrent.Future {
              spark.sparkContext.setJobGroup(group,
                s"takedown: $name", interruptOnCancel = true)
              val after = del(before).localCheckpoint()
              (after, before.count() - after.count())
            })
          }
        }
        futs.foreach { case (name, f) =>
          val (after, removed) =
            try scala.concurrent.Await
              .result(f, scala.concurrent.duration.Duration.Inf)
            catch { case e: Throwable =>
              // first failure wins: kill the siblings' jobs and the
              // pool before propagating, so no delete survives the
              // call it belongs to
              spark.sparkContext.cancelJobGroup(group)
              pool.shutdownNow()
              throw e
            }
          updated(name) = after
          rows += ((name, Some(removed), false))
        }
      } finally pool.shutdown()
    }
    RebuildRequired.foreach(n => rows += ((n, None, true)))
    import spark.implicits._
    val report = rows.toSeq
      .toDF("artifact", "rows_removed", "rebuild_required")
    TakedownResult(updated.toMap, report)
  }

  /**
   * Per-(group, reason) rollup of an already-computed verdict frame —
   * the drop-reason dashboard a curation run reads first. Takes
   * [[cleanCorpus]]'s output (or the same frame re-read from storage),
   * so the expensive verdict pass is computed ONCE and every report —
   * per source, per shard, per language — is a map-side-combined
   * aggregate over it, |groups|·|reasons| rows out. A production run
   * persists the verdict frame and reports from the parquet; re-running
   * the pipeline per dashboard view re-pays its LSH/scoring stages,
   * the single most expensive thing a 100-TB curation pass does.
   *
   * `groupCols` must exist on the verdict frame — pass them through
   * [[cleanCorpus]]'s `carryCols` so they ride the scan instead of
   * joining back on doc_id.
   */
  def report(verdicts: DataFrame, groupCols: Seq[String]): DataFrame =
    verdicts.groupBy(groupCols.map(col) :+ col("reason"): _*)
      .agg(count(lit(1)).as("n_docs"))

  /**
   * Preference-pair mining — DPO/reward-model data prep from the
   * dedup byproduct: within each near-dup cluster of ≥ 2 docs
   * ([[Dedup.clusters]] output), emit `(chosen, rejected)` = the
   * highest- and lowest-scoring members with the score margin.
   * Near-dup clusters are exactly the "same content, different
   * renditions" sets where a quality delta is a meaningful
   * preference signal rather than a topic difference. `minMargin`
   * drops low-signal pairs; at the default 0, all-tied clusters
   * still emit their deterministic (min-id, max-id) pair.
   *
   * Ties break deterministically: chosen = highest score then LOWEST
   * id, rejected = lowest score then HIGHEST id — so chosen ≠
   * rejected whenever the cluster has ≥ 2 members. One
   * map-side-combined `max(struct)`/`min(struct)` aggregate per
   * cluster — no per-cluster window, nothing corpus-sized in any
   * buffer.
   */
  /**
   * Variant taking the raw verified near-dup PAIRS frame (`id1`,
   * `id2` — [[Dedup.minhashPairs]]' direct output) and resolving the
   * transitive closure internally. Use [[preferencePairs]] itself
   * when the dedup pass has already materialized the clusters frame:
   * the miner is a BYPRODUCT consumer, and sharing the LSH build is
   * the whole point — re-running shingle→minhash→verify for the
   * miner doubles the most expensive stage of the pipeline.
   */
  def preferencePairsFromPairs(scored: DataFrame, id: Column, score: Column,
      pairs: DataFrame, minMargin: Double = 0.0,
      ckpt: CheckpointMode = CheckpointMode.Local): DataFrame =
    preferencePairs(scored, id, score, Dedup.clusters(pairs, ckpt = ckpt),
      minMargin)

  def preferencePairs(scored: DataFrame, id: Column, score: Column,
      clusters: DataFrame, minMargin: Double = 0.0): DataFrame = {
    require(minMargin >= 0, "minMargin must be >= 0")
    val q = scored.select(id.as("doc_id"), score.cast("double").as("__q"))
      .join(clusters.select(col("doc_id"), col("cluster_id")), "doc_id")
    q.groupBy(col("cluster_id"))
      .agg(
        max(struct(col("__q").as("q"), (-col("doc_id")).as("nid"))).as("b"),
        min(struct(col("__q").as("q"), (-col("doc_id")).as("nid"))).as("w"),
        count(lit(1)).as("__sz"))
      .filter(col("__sz") >= 2)
      .select(col("cluster_id"),
        (-col("b.nid")).as("chosen_id"), col("b.q").as("chosen_q"),
        (-col("w.nid")).as("rejected_id"), col("w.q").as("rejected_q"))
      // scale-0 quantization: round(x, 6) is engine-private at 5e-7
      // ties of a derived difference; round(x·10⁶) is not
      .withColumn("margin",
        round((col("chosen_q") - col("rejected_q")) * lit(1000000.0)) /
          lit(1000000.0))
      .filter(col("margin") >= minMargin)
  }

  /** `lshBands`: band count of the near-dup LSH stage —
   * [[Dedup.bandsFor]]`(jaccardThreshold)` matches the candidate
   * S-curve to the threshold (keeps just-below-threshold replica
   * cliques out of the verify); the 16-band default preserves the
   * historical maximum-recall tuning.
   *
   * `carryCols`: input columns (by name) passed through to the
   * verdict frame — a downstream per-source/shard rollup reads them
   * directly off the scan instead of joining the corpus-sized verdict
   * frame back to the corpus on doc_id (two full-volume shuffles the
   * carry avoids — the carried column rides projections only).
   *
   * `lshMaxBucket`: hot-bucket guard for the near-dup stage — ON BY
   * DEFAULT since r17 (4096, [[Dedup.minhashPairsBounded]]'s own
   * default): below `Int.MaxValue` the LSH pairs come from
   * [[Dedup.minhashPairsBounded]] (oversized buckets refine, then
   * star-cap), so a 10⁵-copy slightly-perturbed boilerplate cluster
   * costs O(k) instead of walling the pipeline at ~k²/2 verified
   * pairs — ProbeHotBucket (in git at 5b09031) measured the exact
   * path at HOURS for a k = 10⁵ cluster, a shape every web-scale
   * crawl contains (cookie banners, parked domains), which is why the
   * safe path is no longer opt-in. Pass `Int.MaxValue` to opt OUT into the exact
   * maximal-recall path ([[Dedup.minhashPairs]]) when the corpus is
   * known hot-bucket-free. Drop/cluster decisions are unchanged
   * wherever no (band, key) bucket exceeds the cap before refinement
   * (the bounded path is then bit-identical — spec-pinned); inside a
   * capped cluster the drop set follows the refined buckets and
   * anchor stars — each refined sub-bucket keeps its own min-id, so
   * a HANDFUL of keepers survive where the exact path keeps exactly
   * one (spec-pinned ~5× collapse at a tiny cap). The
   * curator-intended outcome for interchangeable boilerplate, at
   * O(k) instead of O(k²). */
  def cleanCorpus(df: DataFrame, id: Column, text: Column,
      langs: Seq[String], minQuality: Double,
      jaccardThreshold: Double = 0.8, useClusters: Boolean = false,
      maxAvgNll: Double = Double.PositiveInfinity, nllVocabK: Int = 65536,
      maxTopNgramFrac: Double = 1.0,
      bench: Option[DataFrame] = None,
      benchText: Column = col("text"),
      lshBands: Int = 16,
      carryCols: Seq[String] = Nil,
      lshMaxBucket: Int = 4096,
      maxPiiHits: Long = Long.MaxValue): DataFrame = {
    // bounded per-group state: only min(doc_id) aggregates; the dup
    // ids come from joining the fingerprint frame back (a 10^8-times-
    // duplicated boilerplate doc must not build a 10^8-element array
    // in one aggregation buffer)
    val nonEmpty = df.filter(text.isNotNull && length(text) > 0)
    val fp = nonEmpty.select(id.as("doc_id"), TextOps.fingerprint(text).as("fp"))
    val keepers = fp.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
    val exactDups0 = fp.join(keepers, "fp")
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id")).withColumn("__exact", lit(true))

    // optional stages join as more per-doc flag frames — each is its
    // own independent branch over the corpus scan family
    val pplFlags0 =
      if (maxAvgNll.isPosInfinity) None
      else Some(CorpusStats.unigramNll(nonEmpty, id, text, nllVocabK)
        .filter(col("avg_nll") > maxAvgNll)
        .select(col("doc_id")).withColumn("__ppl", lit(true)))
    val repFlags0 =
      if (maxTopNgramFrac >= 1.0) None
      else Some(TextOps.repetition(nonEmpty, id, text, n = 2)
        .filter(col("top_ngram_frac") > maxTopNgramFrac)
        .select(col("doc_id")).withColumn("__repet", lit(true)))
    val conFlags0 = bench.map(b =>
      TextOps.decontaminate(nonEmpty, id, text, b, benchText)
        .filter(col("contaminated"))
        .select(col("doc_id")).withColumn("__contam", lit(true)))
    // PII census stage (off at the default ∞ cap): docs whose total
    // checked-PII count (redactPiiV2 classes — Luhn cards, mod-97
    // IBANs, emails, IPs, phones, secrets) exceeds the cap drop as
    // "pii" — the curation policy for PII-laden pages; survivors are
    // redacted downstream (TextOps.redactPiiV2 on the keeper scan),
    // never here, so the verdict frame stays text-free. One codegen'd
    // expression over the existing corpus scan family — no shuffle.
    val piiFlags0 =
      if (maxPiiHits == Long.MaxValue) None
      else Some(nonEmpty.select(id.as("doc_id"),
          TextOps.piiHits(text).as("__npii"))
        .filter(col("__npii") > maxPiiHits)
        .select(col("doc_id")).withColumn("__pii", lit(true)))

    // the LSH stage sees only exact-dup KEEPERS: identical copies
    // share identical signatures, so feeding them through would blow a
    // single (band, key) bucket to the boilerplate multiplicity (the
    // bucket-cardinality contract in Dedup.minhashPairs). Dropping
    // them changes nothing observable — non-keepers drop as
    // `exact_dup` before `near_dup` is consulted, and a copy's pair
    // set is its keeper's pair set (same shingles), so keeper
    // drop/cluster decisions are identical with or without copies.
    def pairsOf(kd: DataFrame): DataFrame =
      if (lshMaxBucket == Int.MaxValue)
        Dedup.minhashPairs(kd, col("doc_id"), col("__text"),
          jaccardThreshold, bands = lshBands)
      else
        Dedup.minhashPairsBounded(kd, col("doc_id"), col("__text"),
          jaccardThreshold, bands = lshBands, maxBucket = lshMaxBucket)

    // With useClusters the transitive closure runs a CONVERGENCE loop
    // — eager per-round actions at build time — which used to run
    // ALONE while the (independent) scoring branches waited for the
    // caller's final action (guide §2.6: actions are only sequential
    // because the driver calls them sequentially). r18 (VERDICT r17
    // task 1): the loop runs from a single-thread pool while this
    // thread materializes the armed flag branches (perplexity /
    // repetition / decontamination / PII — each corpus-pass-heavy,
    // tiny flag output), so the Spark scheduler back-fills the loop's
    // per-round barrier tails. exactDups materializes FIRST — both
    // sides read it (the LSH keeper anti-join, the verdict join), and
    // a shared lazy frame forked across threads risks the documented
    // dual-compute race. Output frames are identical either way; only
    // job scheduling changes. The lazy (useClusters = false) path is
    // untouched: one fully-lazy plan, nothing eager to overlap.
    val (exactDups, nearDups, pplFlags, repFlags, conFlags, piiFlags) =
      if (useClusters) {
        val exactDupsM = exactDups0.localCheckpoint()
        val keeperDocs = nonEmpty.select(id.as("doc_id"), text.as("__text"))
          .join(exactDupsM.select("doc_id"), Seq("doc_id"), "left_anti")
        val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        try {
          val clustersF = scala.concurrent.Future {
            // transitive closure: a doc survives only as its
            // component's minimum — a chain A~B~C keeps exactly A
            Dedup.clusters(pairsOf(keeperDocs))
              .filter(col("doc_id") =!= col("cluster_id"))
              .select(col("doc_id")).withColumn("__near", lit(true))
              .localCheckpoint()
          }
          val flagsM = Seq(pplFlags0, repFlags0, conFlags0, piiFlags0)
            .map(_.map(_.localCheckpoint()))
          val nd = scala.concurrent.Await.result(clustersF,
            scala.concurrent.duration.Duration.Inf)
          (exactDupsM, nd, flagsM(0), flagsM(1), flagsM(2), flagsM(3))
        } finally pool.shutdown()
      } else {
        val keeperDocs = nonEmpty.select(id.as("doc_id"), text.as("__text"))
          .join(exactDups0.select("doc_id"), Seq("doc_id"), "left_anti")
        val nd = pairsOf(keeperDocs).select(col("id2").as("doc_id"))
          .distinct().withColumn("__near", lit(true))
        (exactDups0, nd, pplFlags0, repFlags0, conFlags0, piiFlags0)
      }

    val scored = df.select(Seq(id.as("doc_id"),
      (text.isNull || length(text) === 0).as("__empty"),
      TextOps.langId(text).as("__lang"),
      TextOps.qualityColumns(text).toMap.apply("quality").as("__quality")) ++
      carryCols.map(col): _*)

    // drop lists can be a large fraction of the corpus on real data —
    // no broadcast hint; AQE broadcasts them when they turn out small
    val joined = Seq(Some(exactDups), Some(nearDups), pplFlags, repFlags,
        conFlags, piiFlags)
      .flatten.foldLeft(scored)((acc, f) => acc.join(f, Seq("doc_id"), "left"))
    val pplCond =
      pplFlags.fold(lit(false))(_ => col("__ppl").isNotNull && col("__ppl"))
    val repetCond =
      repFlags.fold(lit(false))(_ => col("__repet").isNotNull && col("__repet"))
    val contamCond =
      conFlags.fold(lit(false))(_ => col("__contam").isNotNull && col("__contam"))
    val piiCond =
      piiFlags.fold(lit(false))(_ => col("__pii").isNotNull && col("__pii"))
    joined
      .withColumn("reason",
        when(col("__empty"), "empty")
          .when(col("__exact"), "exact_dup")
          .when(col("__near"), "near_dup")
          .when(!col("__lang").isInCollection(langs), "lang")
          .when(col("__quality") < minQuality, "quality")
          .when(pplCond, "perplexity")
          .when(repetCond, "repetition")
          .when(contamCond, "contaminated")
          .when(piiCond, "pii")
          .otherwise("keep"))
      .select(Seq(col("doc_id"), (col("reason") === "keep").as("keep"),
        col("reason")) ++ carryCols.map(col): _*)
  }
}
