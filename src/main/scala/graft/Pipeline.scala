package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Dedup, Sources, ZOrder}
import graft.operators.{DataMix, Graph, NearDup, Sampling, TextAnalysis}

/** The end-to-end training-data curation pipeline, composed purely from
  * the engine's operators — the "a user of the reference could run
  * their whole workflow here" demonstration, and the shape it would
  * keep on 100 TB (every stage is one of the already-scale-shaped
  * operators; no collects besides the final counts):
  *
  *   1. quality filter   — curationDecision reasons → keep
  *   1.5 span removal    — (optional) corpus-duplicated spans cut out
  *                         of surviving docs (q204's operator)
  *   2. exact dedup      — latest doc per normalized-content key
  *   3. near-dup dedup   — simhash pairs → connected components →
  *                         one canonical doc per cluster (or the
  *                         multimodal union of text/image/audio arms)
  *   3.5 embedding stage — (optional) prototype pruning + semantic
  *                         dedup over a doc-keyed vector table (the
  *                         q214 Sorscher composition)
  *   4. mixture sampling — deterministic per-source rates
  *   5. layout           — z-ordered parquet write (scan-efficient on
  *                         both doc_id and n_chars)
  *   6. planning         — leak-free train/val/test split (near-dup
  *                         clusters never straddle splits — the SAME
  *                         pair table stage 3 built) and the
  *                         per-(split × source) training manifest, the
  *                         artifact a training launcher consumes
  *
  * Returns per-stage row counts (the audit trail a production run
  * logs). `runMain graft.Pipeline [sfDir] [outDir]` prints them.
  */
object Pipeline {

  final case class StageCounts(input: Long, afterQuality: Long,
                               afterSpanRewrite: Long,
                               afterExact: Long, afterNearDup: Long,
                               afterMix: Long, manifestCells: Long,
                               afterEmbedding: Long = -1L)

  /** Stage-3.5 knobs for embedding-bearing corpora — the q214
    * composition (Sorscher prune-the-core, then SemDeDup the
    * survivors) wired into [[curate]]: documents whose vector is
    * pruned as prototypical or deduped as a semantic twin drop;
    * documents carrying no vector pass through untouched. Defaults
    * mirror the q205/q214 gate values. */
  final case class EmbedKnobs(k: Int = 8, iters: Int = 2,
                              keepBp: Int = 7000,
                              minCosine: Double = 0.45,
                              planes: Int = 5, tables: Int = 16,
                              bucketCap: Long = 32L) {
    require(k >= 1 && iters >= 0 && keepBp >= 1 && keepBp <= 10000,
      "degenerate prune shape")
    require(minCosine > 0 && minCosine <= 1, "cosine threshold in (0,1]")
  }

  /** Stage-1 quality profile. The round-4 signals (token floor,
    * stopword floor, repetition ceiling, lang match) are always on;
    * the round-9 corpus-relative signals gate behind their knobs:
    *
    *  - `dropPplBuckets` > 0 drops docs whose unigram-LM score lands
    *    in the lowest `dropPplBuckets` of `pplBuckets` corpus-relative
    *    buckets (the CCNet tail cut, q196's assignment); 0 = off.
    *  - `maxDupFrac` < 1 drops docs whose duplicated-substring
    *    fraction (q197's Lee-et-al positional metric over
    *    `dupSpanN`-grams) exceeds the ceiling; 1.0 = off.
    *
    * Both gates remove VIOLATORS by anti-join, so docs too short to
    * carry the signal (absent from the signal table) are never dropped
    * for missing it — the token floor already owns that case. The NB
    * source-confusion signal is source-level, not per-doc, so it feeds
    * the published scorecard (every signal's per-source average lands
    * there) rather than a keep/drop decision. */
  final case class QualityKnobs(minTokens: Long = 5,
                                minStopRatio: Double = 0.05,
                                maxRepRatio: Double = 0.6,
                                pplBuckets: Int = 10,
                                dropPplBuckets: Int = 0,
                                dupSpanN: Int = 5,
                                maxDupFrac: Double = 1.0,
                                nbBuckets: Int = 256,
                                nbSalt: String = "nb-v1",
                                spanDedupN: Int = 0,
                                spanDedupMinLen: Int = 0) {
    require(dropPplBuckets >= 0 && dropPplBuckets < pplBuckets,
      s"tail cut must leave at least one bucket: $dropPplBuckets/$pplBuckets")
    require(maxDupFrac > 0 && maxDupFrac <= 1.0,
      s"dup-span ceiling must be in (0, 1], got $maxDupFrac")
    require(spanDedupN == 0 || spanDedupN >= 2,
      s"span-removal width must be off (0) or a real span, got $spanDedupN")
    // spanDedupMinLen >= 1 switches stage 1.5 to the LENGTH-gated rule
    // (q213): only maximal merged spans of at least that many tokens
    // are cut — the threshold Lee et al. tune (50 on web corpora);
    // 0 keeps the fixed-width rule (every covered span, q204)
    require(spanDedupMinLen >= 0,
      s"span length gate must be off (0) or positive, got $spanDedupMinLen")
  }

  /** Stage 3's near-dup pair generator — exposed so the flood spec can
    * pin the PIPELINE's generator choice directly (a revert to the
    * uncapped band join would fail the spec's linear-volume bound, not
    * just slow a 100 TB run down by 40×). */
  private[graft] def nearDupPairs(docs: DataFrame): DataFrame =
    nearDupPairsFromFps(NearDup.simHash(docs))

  /** [[nearDupPairs]] over an ALREADY-computed fingerprint table — the
    * form [[curateWithArtifacts]] uses so the fingerprints it lands as
    * an increment artifact are the very table its own pair generator
    * consumed. */
  private[graft] def nearDupPairsFromFps(fps: DataFrame): DataFrame =
    NearDup.simHashPairsCapped(fps,
      maxHamming = DedupKnobs.SimHashMaxHamming,
      maxBucket = DedupKnobs.SimHashBucketCap)

  /** The image dedup arm's fingerprint table over `docs` (real PNG
    * decode → scale-normalized resampled aHash — q202's signal). */
  private[graft] def imageFpsOf(spark: SparkSession, docs: DataFrame): DataFrame =
    graft.operators.Multimodal.pHashesResampled(spark,
      graft.operators.Multimodal.pngPayloads(spark, docs), DedupKnobs.PHashGrid)

  /** The audio dedup arm's fingerprint table over `docs` (real WAV
    * decode → multi-band Haitsma-Kalker fingerprint — q216's signal). */
  private[graft] def audioFpsOf(spark: SparkSession, docs: DataFrame): DataFrame =
    graft.operators.Multimodal.audioFingerprintsMultiBand(spark,
      graft.operators.Multimodal.wavPayloads(spark, docs),
      DedupKnobs.AudioFpSubWindows, DedupKnobs.AudioFpBands)

  /** The image arm's document edges from its fingerprint table:
    * saturation-guarded within-class stars plus the capped class-pair
    * anchors (see [[multimodalPairs]] for why the guards are
    * load-bearing). */
  private[graft] def imageEdgesFrom(img: DataFrame): DataFrame = {
    import graft.operators.Multimodal
    Multimodal.classMemberEdges(img, Seq("ph_hi", "ph_lo"),
        DedupKnobs.PHashClassBucketCap)
      .union(Multimodal.resampledClassPairsCapped(img,
          DedupKnobs.PHashMaxHamming, DedupKnobs.PHashClassBucketCap)
        .select(col("anchor_a").as("doc_a"), col("anchor_b").as("doc_b")))
  }

  /** The audio arm's document edges from its multi-band fingerprint
    * table — the image arm's class machinery after a column rename. */
  private[graft] def audioEdgesFrom(aud: DataFrame): DataFrame = {
    import graft.operators.Multimodal
    Multimodal.classMemberEdges(aud, Seq("fp_hi", "fp_lo"),
        DedupKnobs.AudioClassBucketCap)
      .union(Multimodal.resampledClassPairsCapped(
          aud.select(col("doc_id"), col("fp_hi").as("ph_hi"),
            col("fp_lo").as("ph_lo")),
          DedupKnobs.AudioMbMaxHamming, DedupKnobs.AudioClassBucketCap)
        .select(col("anchor_a").as("doc_a"), col("anchor_b").as("doc_b")))
  }

  /** Stage 3's MULTIMODAL pair generator: the text simhash pairs
    * unioned with the image (q203 resampled-aHash) and audio (q217
    * multi-band fingerprint) dedup arms projected onto the document
    * graph — within-class star edges to each class representative
    * ([[graft.operators.Multimodal.classMemberEdges]]) plus the capped
    * class-pair tables' (anchor_a, anchor_b) representative edges. CC
    * over the union puts documents that duplicate under ANY modality
    * in one cluster, so a text-rewritten mirror of an image, or a
    * re-encoded recording, still collapses to one survivor. Every arm
    * is the already-flood-bounded generator its gate query runs; the
    * union adds no new fan-out. */
  private[graft] def multimodalPairs(spark: SparkSession,
                                     docs: DataFrame): DataFrame =
    // both fingerprint arms project through the SATURATION-guarded
    // within-class stars (classMemberEdges doc): a class bigger than
    // the cap is birthday saturation of a small fingerprint space, not
    // a duplicate crowd — the unguarded projection collapsed the sf10
    // corpus (114,890 → 1) through 500-member audio fp classes and
    // 4,000-member image hash classes. The caps are the arms' existing
    // bucket caps: the same "bounded evidence per bucket" contract.
    // The audio arm clusters on the MULTI-BAND fingerprint (q216/q217)
    // — the ≤31-bit envelope saturates at corpus scale (round 11's
    // percolation; q215 measures it), so identity on it is not
    // duplication evidence.
    nearDupPairs(docs).select(col("doc_a"), col("doc_b"))
      .union(imageEdgesFrom(imageFpsOf(spark, docs)))
      .union(audioEdgesFrom(audioFpsOf(spark, docs)))

  /** @param multimodal stage 3 clusters over the UNION of the text,
    *        image and audio dedup arms ([[multimodalPairs]]) instead
    *        of text simhash alone — the knob for corpora whose
    *        documents carry image/audio payloads (here derived from
    *        doc_id, the deterministic-fake container story).
    * @param embeddings (vec_id keyed in the doc_id space, embedding)
    *        table for embedding-bearing corpora: enables stage 3.5 —
    *        prototype pruning + semantic dedup over the vectors (the
    *        q214 composition), dropping docs whose vector is pruned
    *        as prototypical or deduped as a semantic twin; docs
    *        without a vector pass through untouched. */
  /** The staged artifacts a curate() run lands that the NEXT
    * increment consumes (the whole-corpus tables an incremental run
    * must never recompute). Since round 13 these are DURABLE handles:
    * [[writeArtifacts]] lands every frame as parquet and
    * [[readArtifacts]] rebuilds the case class in a FRESH process, so
    * a daily production increment reads landed tables by path instead
    * of replaying plan-keyed staging from the corpus.
    *
    *  - `exact`: the post-exact-dedup corpus (stage 2's output) — the
    *    doc table a compaction pass reads; [[curateIncrement]] itself
    *    never scans it (everything it needs is in the derived handles
    *    below — spec-pinned with a poisoned `exact` frame);
    *  - `cells`: the manifest's additive census
    *    ([[graft.operators.DataMix.manifestCells]]) — increments merge
    *    by summing and re-derive the budget half;
    *  - `published`: the mixed documents the run actually shipped (what
    *    `outDir` receives) — the frame equivalence specs slice, and
    *    what a compaction pass reads when revocations accumulate;
    *  - `exactKeys`: the corpus's distinct normalized-content keys
    *    (`__key`) — the batch exact-dedup anti-joins THIS, not a
    *    re-normalization of the corpus text;
    *  - `textFps`: [[graft.operators.NearDup.simHash]] over `exact` —
    *    the landed fingerprint table the incremental pair generator
    *    probes;
    *  - `pairs`: the stage-3 near-dup pair table (text simhash, or the
    *    multimodal union when the corpus was curated multimodal);
    *  - `clusters`: the landed clustering (CC over `pairs`) — the
    *    contraction base of the incremental CC (see
    *    [[graft.operators.Graph.contractedComponents]]);
    *  - `maxDocId`: the corpus id boundary (the monotone-ingest
    *    contract's left edge) — `Long.MinValue` for an empty corpus;
    *  - `imageFps`/`audioFps` (multimodal corpora): the landed
    *    per-arm fingerprint tables batch fingerprints join against;
    *  - `embVecs`/`vecClusters` (embedding-bearing corpora): the
    *    stage-3.5 vector table AFTER prototype pruning (what the
    *    corpus's semantic dedup actually paired over) and its landed
    *    vector clustering. */
  final case class CorpusArtifacts(exact: DataFrame, cells: DataFrame,
                                   published: DataFrame,
                                   exactKeys: DataFrame,
                                   textFps: DataFrame,
                                   pairs: DataFrame,
                                   clusters: DataFrame,
                                   maxDocId: Long,
                                   imageFps: Option[DataFrame] = None,
                                   audioFps: Option[DataFrame] = None,
                                   embVecs: Option[DataFrame] = None,
                                   vecClusters: Option[DataFrame] = None)

  def curate(spark: SparkSession, docs: DataFrame,
             mixRates: Map[String, Double], mixSalt: String,
             outDir: Option[String],
             knobs: QualityKnobs = QualityKnobs(),
             multimodal: Boolean = false,
             embeddings: Option[DataFrame] = None,
             embedKnobs: EmbedKnobs = EmbedKnobs()): StageCounts =
    curateWithArtifacts(spark, docs, mixRates, mixSalt, outDir,
      knobs, multimodal, embeddings, embedKnobs)._1

  /** [[curate]] that ALSO returns the staged artifacts the next
    * [[curateIncrement]] consumes. The artifact frames are lazy views
    * over tables the run computed anyway — returning them costs
    * nothing unless a consumer scans them. */
  def curateWithArtifacts(spark: SparkSession, docs: DataFrame,
             mixRates: Map[String, Double], mixSalt: String,
             outDir: Option[String],
             knobs: QualityKnobs = QualityKnobs(),
             multimodal: Boolean = false,
             embeddings: Option[DataFrame] = None,
             embedKnobs: EmbedKnobs = EmbedKnobs())
      : (StageCounts, CorpusArtifacts) = {
    // 1. quality: keep only docs passing every enabled signal — the
    // always-on round-4 reasons, then the corpus-relative perplexity
    // tail cut and the dup-span ceiling as violator ANTI-joins (see
    // QualityKnobs for why anti, not semi)
    val decisions = TextAnalysis.curationDecision(docs,
      TextAnalysis.stopwords("en"), minTokens = knobs.minTokens,
      minStopRatio = knobs.minStopRatio, maxRepRatio = knobs.maxRepRatio)
    var keepIds = decisions.filter(col("keep")).select(col("doc_id"))
    if (knobs.dropPplBuckets > 0)
      keepIds = keepIds.join(
        TextAnalysis.perplexityBucketOf(docs, knobs.pplBuckets)
          .filter(col("bucket") <= knobs.dropPplBuckets)
          .select(col("doc_id")),
        Seq("doc_id"), "left_anti")
    if (knobs.maxDupFrac < 1.0)
      keepIds = keepIds.join(
        TextAnalysis.dupSpanStats(docs, knobs.dupSpanN)
          .filter(col("dup_frac") > knobs.maxDupFrac)
          .select(col("doc_id")),
        Seq("doc_id"), "left_anti")
    // checkpointed: the frame is counted for the audit trail AND feeds
    // the dedup chain — unmaterialized, the 3-join decision stage (the
    // most expensive in the pipeline) would run once per consumer
    val quality = docs.join(keepIds, "doc_id").localCheckpoint()

    // 1.5 (optional, `spanDedupN` ≥ 2): duplicate-span REMOVAL — the
    // Lee et al. exact-substring dedup in its production form (q204):
    // instead of only DROPPING dup-heavy docs (the maxDupFrac gate),
    // REWRITE every surviving doc with its corpus-duplicated spans cut
    // out. Runs over the quality-pass corpus (duplication is defined
    // on what survives stage 1 — no compute spent on dropped docs) and
    // BEFORE exact dedup, so docs differing only in removed boilerplate
    // collapse to one normalized key in stage 2. Docs emptied by the
    // rewrite were pure corpus-duplicated boilerplate and are dropped
    // (the operator itself only rewrites; the drop is pipeline policy).
    val spanned =
      if (knobs.spanDedupN < 2) quality
      else quality
        .join((if (knobs.spanDedupMinLen >= 1)
            TextAnalysis.dedupSpansMinLen(quality, knobs.spanDedupN,
              knobs.spanDedupMinLen)
          else TextAnalysis.dedupSpans(quality, knobs.spanDedupN))
          .select(col("doc_id"), col("cleaned")), Seq("doc_id"))
        .withColumn("text", col("cleaned")).drop("cleaned")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .filter(col("n_chars") > 0)
        .localCheckpoint()

    // 2. exact dedup on the normalized content key (case/punct/space
    // insensitive); smallest doc_id is canonical
    // latestByKey keeps the max of orderBy; negating picks the SMALLEST
    // doc_id as canonical. Checkpointed: the frame feeds BOTH the
    // simhash pair pipeline and the survivors anti-join — without
    // materialization the whole upstream chain runs once per branch
    // (at 100 TB each stage would be a staging table instead).
    val exact = Dedup.latestByKey(
        spanned.withColumn("__key",
          md5(TextAnalysis.normalizeText(col("text")))),
        keys = Seq("__key"), orderBy = Seq(-col("doc_id")))
      .drop("__key")
      .localCheckpoint()

    // 3. near-dup dedup: transitive simhash clusters → survivors. The
    // cluster table is computed ONCE and checkpointed: it feeds both
    // the survivors anti-join here and stage 6's split groups — the
    // earlier dedupSurvivors + second connectedComponents form re-ran
    // the costliest computation in the pipeline (fingerprint → band
    // join → iterative CC) twice per curate().
    // CAPPED generator (q170's gated path), never the uncapped band
    // join: under band-bucket saturation the uncapped form is
    // O(bucket²) — 1465 s vs 34 s on the sf10 flood (SCALE.md round
    // 7) — and the flagship composition must survive exactly the
    // regime the containment family was hardened against. Below the
    // cap the pair set is identical (≡-exact spec), so fixture
    // clusters and survivors are unchanged; over it, flood buckets
    // star-reduce to their anchor, which keeps genuine duplicate
    // crowds connected (the CC only needs connectivity, not every
    // pairwise edge).
    val textFps = NearDup.simHash(exact)
    val (imgFps, audFps) =
      if (multimodal) (Some(imageFpsOf(spark, exact)),
        Some(audioFpsOf(spark, exact)))
      else (None, None)
    val pairs = {
      val text = nearDupPairsFromFps(textFps)
        .select(col("doc_a"), col("doc_b"))
      if (multimodal)
        text.union(imageEdgesFrom(imgFps.get))
          .union(audioEdgesFrom(audFps.get))
      else text
    }
    val clusters = Graph.connectedComponents(pairs, "doc_a", "doc_b")
      .localCheckpoint()
    val dropIds = clusters.filter(col("n") =!= col("component"))
      .select(col("n"))
    val survivors = exact
      .join(dropIds, exact("doc_id") === dropIds("n"), "left_anti")
      .localCheckpoint()

    // 3.5 (optional, embedding-bearing corpora): the q214 composition
    // — prototype-prune the vector corpus (keep each fitted cluster's
    // hardest keepBp fraction, Sorscher et al.), then semantic-dedup
    // the pruned survivors (capped multi-table LSH pairs → CC). A doc
    // whose vector is pruned as prototypical or deduped as a semantic
    // twin drops; docs carrying no vector pass through — the vector
    // table governs only the docs it covers. Restricted to vectors of
    // SURVIVING docs first: no compute on docs already dropped.
    val (embedded, embVecsArt, vecClustersArt) = embeddings match {
      case None => (survivors, None, None)
      case Some(embAll) =>
        val emb = embAll
          .join(survivors.select(col("doc_id").as("vec_id")), Seq("vec_id"))
          .localCheckpoint()
        val kept = graft.operators.KMeansQuantizer
          .prototypePruning(emb, embedKnobs.k, embedKnobs.iters,
            embedKnobs.keepBp)
          .filter(col("kept")).select(col("vec_id"))
        val keptEmb = emb.join(kept, Seq("vec_id")).localCheckpoint()
        val vecCC = Graph.connectedComponents(
            graft.operators.Similarity.nearDupPairsLsh(keptEmb,
              embedKnobs.minCosine, embedKnobs.planes, embedKnobs.tables,
              embedKnobs.bucketCap),
            "vec_a", "vec_b")
          .localCheckpoint()
        val dupVecs = vecCC.filter(col("n") =!= col("component"))
          .select(col("n").as("vec_id"))
        val vecSurvivors = keptEmb.select(col("vec_id"))
          .join(dupVecs, Seq("vec_id"), "left_anti")
        val dropDocs = emb.select(col("vec_id"))
          .join(vecSurvivors, Seq("vec_id"), "left_anti")
          .select(col("vec_id").as("doc_id"))
        (survivors.join(dropDocs, Seq("doc_id"), "left_anti")
          .localCheckpoint(), Some(keptEmb), Some(vecCC))
    }

    // 4. deterministic mixture
    val mixed = Sampling.deterministicMix(embedded, col("doc_id"),
      col("source"), mixRates, mixSalt)

    // 5. z-ordered layout (skip when no sink requested — tests count only)
    outDir.foreach { dir =>
      ZOrder.zOrderedWrite(mixed, col("doc_id"), col("n_chars"),
        bits = 16, path = dir)
    }

    // 6. planning: split the CURATED corpus leak-free (the SAME
    // cluster table stage 3 computed — a near-dup surviving the mix
    // can still have its dropped twin's split pinned by the shared
    // group) and roll up the training manifest. Checkpointed for the
    // same audit-count + sink double-consumption reason as the stages
    // above.
    // through the cells → allocation split (≡ trainManifest by
    // construction), so the additive census is available as the
    // increment artifact
    val cells = DataMix.manifestCells(mixed, clusters,
      mixSalt + "|split", trainBp = 8000, valBp = 9000)
    val manifest = DataMix.manifestFromCells(cells,
        budgetDen = 1, capEpochs = 2)
      .localCheckpoint()
    outDir.foreach { dir =>
      manifest.coalesce(1).write.mode("overwrite").parquet(dir + "_manifest")
      // the q200 quality scorecard over the CURATED corpus — the
      // per-source report published beside the manifest, so a training
      // launcher sees what quality the mix it consumes actually has
      // (|sources| rows; coalesce(1) is census-sized, not corpus-sized)
      TextAnalysis.qualityScorecard(mixed, TextAnalysis.stopwords("en"),
          knobs.dupSpanN, knobs.nbBuckets, knobs.nbSalt)
        .coalesce(1).write.mode("overwrite").parquet(dir + "_scorecard")
    }

    // the id boundary the monotone-ingest contract checks — one scalar
    // agg over the (already-checkpointed) exact table
    val maxRow = exact.agg(max(col("doc_id"))).head()
    val maxDocId = if (maxRow.isNullAt(0)) Long.MinValue else maxRow.getLong(0)
    (StageCounts(docs.count(), quality.count(), spanned.count(),
      exact.count(), survivors.count(), mixed.count(), manifest.count(),
      afterEmbedding = if (embeddings.isDefined) embedded.count() else -1L),
      CorpusArtifacts(exact, cells, mixed,
        exactKeys = exact
          .select(md5(TextAnalysis.normalizeText(col("text"))).as("__key"))
          .distinct(),
        textFps = textFps, pairs = pairs, clusters = clusters,
        maxDocId = maxDocId,
        imageFps = imgFps, audioFps = audFps,
        embVecs = embVecsArt, vecClusters = vecClustersArt))
  }

  final case class IncrementCounts(input: Long, afterQuality: Long,
                                   afterExact: Long, afterNearDup: Long,
                                   afterMix: Long, manifestCells: Long,
                                   revokedCorpusDocs: Long,
                                   afterEmbedding: Long = -1L)

  /** Curate a NEW batch against yesterday's curated corpus WITHOUT
    * re-curating the corpus — the shape a real 100 TB ingestion runs
    * daily. Every whole-corpus table is a LANDED artifact of the prior
    * run ([[CorpusArtifacts]]), probed but never rebuilt — including,
    * since round 13, the CLUSTERING: no stage here runs a job over the
    * accumulated corpus (the corpus document table is never scanned —
    * spec-pinned with a poisoned frame):
    *
    *   1. quality    — the per-doc signals on the batch alone;
    *   2. exact      — batch keys anti-join the corpus's landed key
    *                   set ([[CorpusArtifacts.exactKeys]]), then the
    *                   within-batch latest-by-key;
    *   3. near-dup   — [[graft.operators.NearDup
    *                   .incrementalSimhashPairsCapped]] over the
    *                   landed fingerprint table (batch-vs-corpus +
    *                   batch-internal pairs, union-exact caps) —
    *                   multimodal corpora add the image/audio arms'
    *                   incremental class edges
    *                   ([[graft.operators.Multimodal
    *                   .incrementalClassEdgesCapped]] against the
    *                   landed per-arm fingerprint tables) — then the
    *                   CONTRACTED incremental CC
    *                   ([[graft.operators.Graph.contractedComponents]]
    *                   over the landed clustering): the pointer-jumping
    *                   rounds run over the contracted BATCH graph
    *                   only, never the accumulated pair graph, so
    *                   increment cost is O(batch + touched clusters)
    *                   and stays flat as the corpus ages. A batch doc
    *                   connected to any corpus doc or smaller batch
    *                   doc drops;
    *   3.5 embedding — (embedding-bearing corpora) incremental
    *                   semantic dedup: batch vectors LSH-pair against
    *                   the corpus's landed post-prune vector table
    *                   ([[graft.operators.Similarity
    *                   .incrementalNearDupPairsLsh]]), contracted CC
    *                   against the landed vector clustering. Batch
    *                   docs are NOT prototype-pruned — pruning is a
    *                   corpus-relative signal (it needs the fitted
    *                   centroids and per-cluster histograms), so like
    *                   the perplexity tail it belongs to curate();
    *   4. mix        — the same pure-hash membership;
    *   5. manifest   — the batch's census cells MERGE into the corpus
    *                   cells by summation
    *                   ([[graft.operators.DataMix.mergeCells]]) and
    *                   the budget half re-derives from the merged
    *                   census — the latest-wins-by-key upsert shape of
    *                   [[graft.streaming.EventStream.upsertStreamToTable]]
    *                   with the merged row as the new version.
    *
    * EQUIVALENCE (spec-pinned): the batch survivor set equals the
    * batch slice of a full `curate(corpus ∪ batch)` rerun, and the
    * merged manifest equals the full rerun's manifest, PROVIDED
    * (a) every batch doc_id exceeds every corpus doc_id (checked
    * here — monotone ingest ids), (b) only per-doc quality signals
    * are on (corpus-relative knobs would be batch-relative: checked;
    * for the embedding stage this means keepBp = 10000 — under
    * pruning the increment's contract is the LANDED kept set, not a
    * re-prune), and (c) no batch doc BRIDGES two distinct corpus
    * clusters — a bridge means a previously published corpus survivor
    * would lose its canonical status in a full rerun. Bridged
    * survivors are DETECTED and reported (`revokedCorpusDocs` — read
    * straight off the contracted labels: every contracted corpus node
    * is a landed cluster's canonical survivor, and it is revoked iff
    * the increment merged it under a smaller min), never silently
    * retracted: published data is immutable in an incremental design,
    * and a production deployment routes revocations to a compaction
    * pass.
    *
    * Returns (batch mixed survivors, merged manifest, counts). */
  def curateIncrement(spark: SparkSession, corpus: CorpusArtifacts,
                      batch: DataFrame,
                      mixRates: Map[String, Double], mixSalt: String,
                      knobs: QualityKnobs = QualityKnobs(),
                      multimodal: Boolean = false,
                      embeddings: Option[DataFrame] = None,
                      embedKnobs: EmbedKnobs = EmbedKnobs())
      : (DataFrame, DataFrame, IncrementCounts) =
    curateIncrementWithArtifacts(spark, corpus, batch, mixRates, mixSalt,
      knobs, multimodal, embeddings, embedKnobs)._1

  /** [[curateIncrement]] that ALSO returns the UPDATED corpus
    * artifacts — the handle set for TOMORROW'S batch, so increments
    * CHAIN: every artifact advances by appending the batch's
    * contribution (union of keys/fingerprints/pairs, sum-merged
    * cells) and the clustering advances by the contracted-CC relabel
    * ([[graft.operators.Graph.relabelThrough]] over the labels this
    * increment already computed — no extra CC job). The updated
    * clustering EQUALS a from-scratch CC over the updated pair table
    * (the contraction theorem), so day 2's contraction base is
    * exactly what its own theorem needs; the monotone-id contract
    * extends day over day since each batch's ids exceed the last's.
    * Like [[curateWithArtifacts]], the returned frames are lazy views
    * — a daily driver lands them via [[writeArtifacts]]. */
  def curateIncrementWithArtifacts(spark: SparkSession,
                      corpus: CorpusArtifacts, batch: DataFrame,
                      mixRates: Map[String, Double], mixSalt: String,
                      knobs: QualityKnobs = QualityKnobs(),
                      multimodal: Boolean = false,
                      embeddings: Option[DataFrame] = None,
                      embedKnobs: EmbedKnobs = EmbedKnobs())
      : ((DataFrame, DataFrame, IncrementCounts), CorpusArtifacts) = {
    require(knobs.dropPplBuckets == 0 && knobs.maxDupFrac >= 1.0 &&
      knobs.spanDedupN == 0,
      "corpus-relative quality stages (perplexity tail, dup-span gate, " +
        "span rewrite) are whole-corpus signals — run them in curate()")
    require(!multimodal || (corpus.imageFps.isDefined &&
        corpus.audioFps.isDefined),
      "a multimodal increment needs a multimodal-curated corpus: " +
        "the artifacts carry no image/audio fingerprint tables")
    // artifact-chaining guard: arms the corpus MAINTAINS must be
    // maintained by every increment, or day 2 would contract against
    // stale fingerprint/vector tables
    require(multimodal || corpus.imageFps.isEmpty,
      "this corpus carries multimodal fingerprint artifacts — " +
        "increment it with multimodal = true so they stay current")
    require(embeddings.isDefined || corpus.embVecs.isEmpty,
      "this corpus carries embedding artifacts — increment it with " +
        "the batch's embeddings so they stay current")
    // id-ordering contract: the union anchor of any shared bucket must
    // be a corpus doc (see incrementalSimhashPairsCapped). The corpus
    // boundary is a LANDED scalar (no corpus job); the batch side is
    // one census agg. An EMPTY corpus or batch fails with the real
    // diagnosis instead of an opaque NPE (round-12 ADVICE).
    require(corpus.maxDocId != Long.MinValue,
      "curateIncrement needs a non-empty corpus: the artifacts carry " +
        "an empty exact table — run curate() first and pass its artifacts")
    val maxCorpusId = corpus.maxDocId
    val batchBounds = batch.agg(min(col("doc_id")), max(col("doc_id"))).head()
    require(!batchBounds.isNullAt(0),
      "curateIncrement got an EMPTY batch — nothing to ingest")
    val minBatchId = batchBounds.getLong(0)
    val maxBatchId = batchBounds.getLong(1)
    require(minBatchId > maxCorpusId,
      s"batch ids must exceed corpus ids (monotone ingest): " +
        s"batch min $minBatchId <= corpus max $maxCorpusId")

    // 1. per-doc quality
    val decisions = TextAnalysis.curationDecision(batch,
      TextAnalysis.stopwords("en"), minTokens = knobs.minTokens,
      minStopRatio = knobs.minStopRatio, maxRepRatio = knobs.maxRepRatio)
    val quality = batch
      .join(decisions.filter(col("keep")).select(col("doc_id")), "doc_id")
      .localCheckpoint()

    // 2. exact: within-batch latest-by-key, then the anti-join against
    // the LANDED corpus key set (the corpus canonical always has the
    // smaller id) — the corpus text is never re-normalized
    val exactB = Dedup.latestByKey(
        quality.withColumn("__key",
          md5(TextAnalysis.normalizeText(col("text")))),
        keys = Seq("__key"), orderBy = Seq(-col("doc_id")))
      .join(corpus.exactKeys, Seq("__key"), "left_anti")
      .drop("__key")
      .localCheckpoint()

    // 3. near-dup: incremental arm pairs against the landed
    // fingerprint tables, then the CONTRACTED incremental CC — the
    // landed pair graph never enters a job (its edges are self-loops
    // under the contraction; see Graph.contractedComponents' theorem)
    val batchFps = NearDup.simHash(exactB)
    val incText = NearDup.incrementalSimhashPairsCapped(corpus.textFps,
        batchFps,
        DedupKnobs.SimHashMaxHamming, DedupKnobs.SimHashBucketCap)
      .select(col("doc_a"), col("doc_b"))
    val (bImg, bAud) =
      if (multimodal) (Some(imageFpsOf(spark, exactB)),
        Some(audioFpsOf(spark, exactB)))
      else (None, None)
    val incPairs =
      if (!multimodal) incText
      else incText
        .union(graft.operators.Multimodal.incrementalClassEdgesCapped(
          corpus.imageFps.get.select(col("doc_id"), col("ph_hi"),
            col("ph_lo")),
          bImg.get.select(col("doc_id"), col("ph_hi"), col("ph_lo")),
          DedupKnobs.PHashMaxHamming, DedupKnobs.PHashClassBucketCap))
        .union(graft.operators.Multimodal.incrementalClassEdgesCapped(
          corpus.audioFps.get.select(col("doc_id"),
            col("fp_hi").as("ph_hi"), col("fp_lo").as("ph_lo")),
          bAud.get.select(col("doc_id"), col("fp_hi").as("ph_hi"),
            col("fp_lo").as("ph_lo")),
          DedupKnobs.AudioMbMaxHamming, DedupKnobs.AudioClassBucketCap))
    val ccInc = Graph.contractedComponents(corpus.clusters, incPairs,
        "doc_a", "doc_b")
      .localCheckpoint()
    val dropIds = ccInc.filter(col("n") =!= col("component"))
      .select(col("n"))
    val survivors = exactB
      .join(dropIds, exactB("doc_id") === dropIds("n"), "left_anti")
      .localCheckpoint()
    // revocation audit straight off the contracted labels: a
    // contracted corpus node is a landed component id (or a landed
    // singleton's own id) — i.e. exactly a corpus near-dup SURVIVOR's
    // doc_id — and it is revoked iff the increment merged it under a
    // smaller min. One filter over the (touched-ids-sized) contracted
    // table; the round-12 form re-ran a full corpus CC for this count.
    val revoked = ccInc
      .filter(col("n") <= maxCorpusId && col("n") =!= col("component"))
      .count()

    // 3.5 (embedding-bearing corpora): incremental semantic dedup —
    // batch vectors against the landed post-prune vector table and
    // vector clustering. Batch vectors are never pruned (see scaladoc).
    val (embedded, afterEmbedding, embUpdate) = embeddings match {
      case None => (survivors, -1L, None)
      case Some(embAll) =>
        require(corpus.embVecs.isDefined && corpus.vecClusters.isDefined,
          "an embedding increment needs an embedding-curated corpus: " +
            "the artifacts carry no vector table / vector clustering")
        val bEmb = embAll
          .join(survivors.select(col("doc_id").as("vec_id")), Seq("vec_id"))
          .localCheckpoint()
        val incVecPairs = graft.operators.Similarity
          .incrementalNearDupPairsLsh(corpus.embVecs.get, bEmb,
            embedKnobs.minCosine, embedKnobs.planes, embedKnobs.tables,
            embedKnobs.bucketCap)
        val vecCC = Graph.contractedComponents(corpus.vecClusters.get,
          incVecPairs, "vec_a", "vec_b")
        val dropDocs = vecCC
          .filter(col("n") > maxCorpusId && col("n") =!= col("component"))
          .select(col("n").as("doc_id"))
        val e = survivors.join(dropDocs, Seq("doc_id"), "left_anti")
          .localCheckpoint()
        (e, e.count(), Some((bEmb, vecCC)))
    }

    // 4. mix
    val mixed = Sampling.deterministicMix(embedded, col("doc_id"),
      col("source"), mixRates, mixSalt)

    // 5. manifest: sum-merge the batch's cells into the corpus cells,
    // re-derive the budget half from the merged census. The cluster
    // table is the contracted one — batch survivors' merged labels are
    // exactly what a full CC would assign (the contraction theorem),
    // and corpus rows in it never match a batch doc_id.
    val deltaCells = DataMix.manifestCells(mixed, ccInc,
      mixSalt + "|split", trainBp = 8000, valBp = 9000)
    val mergedCells = DataMix.mergeCells(corpus.cells, deltaCells)
    val manifest = DataMix.manifestFromCells(mergedCells,
        budgetDen = 1, capEpochs = 2)
      .localCheckpoint()

    // the UPDATED artifact set — tomorrow's contraction base. Every
    // table advances by appending the batch contribution; the merged
    // clustering is the relabel over the labels already computed (no
    // new CC job), and it equals a from-scratch CC over the updated
    // pair table by the contraction theorem.
    val updated = CorpusArtifacts(
      exact = corpus.exact.unionByName(exactB),
      cells = mergedCells,
      published = corpus.published.unionByName(mixed),
      exactKeys = corpus.exactKeys.unionByName(
        exactB.select(md5(TextAnalysis.normalizeText(col("text")))
          .as("__key"))).distinct(),
      textFps = corpus.textFps.unionByName(batchFps),
      pairs = corpus.pairs.unionByName(incPairs),
      clusters = Graph.relabelThrough(corpus.clusters, ccInc),
      maxDocId = maxBatchId,
      imageFps = corpus.imageFps.map(_.unionByName(
        bImg.get.select(corpus.imageFps.get.columns.map(col): _*))),
      audioFps = corpus.audioFps.map(_.unionByName(
        bAud.get.select(corpus.audioFps.get.columns.map(col): _*))),
      embVecs = embUpdate match {
        case Some((bEmb, _)) => corpus.embVecs.map(_.unionByName(
          bEmb.select(corpus.embVecs.get.columns.map(col): _*)))
        case None => corpus.embVecs
      },
      vecClusters = embUpdate match {
        case Some((_, vecCC)) => corpus.vecClusters.map(
          Graph.relabelThrough(_, vecCC))
        case None => corpus.vecClusters
      })

    ((mixed, manifest,
      IncrementCounts(batch.count(), quality.count(), exactB.count(),
        survivors.count(), mixed.count(), manifest.count(), revoked,
        afterEmbedding)), updated)
  }

  /** Land every [[CorpusArtifacts]] frame as parquet under `dir` — the
    * durable handles a FRESH-process increment consumes via
    * [[readArtifacts]] (the landed-stage pattern: a daily production
    * increment must read yesterday's pair/cluster/fingerprint tables
    * by path, not rebuild them from the corpus). The id boundary lands
    * as a one-row `bounds` table. */
  def writeArtifacts(a: CorpusArtifacts, dir: String): Unit = {
    def w(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name")
    w(a.exact, "exact"); w(a.cells, "cells"); w(a.published, "published")
    w(a.exactKeys, "exact_keys"); w(a.textFps, "text_fps")
    w(a.pairs, "pairs"); w(a.clusters, "clusters")
    a.imageFps.foreach(w(_, "image_fps"))
    a.audioFps.foreach(w(_, "audio_fps"))
    a.embVecs.foreach(w(_, "emb_vecs"))
    a.vecClusters.foreach(w(_, "vec_clusters"))
    a.exact.sparkSession.range(1)
      .select(lit(a.maxDocId).as("max_doc_id"))
      .write.mode("overwrite").parquet(s"$dir/bounds")
  }

  /** Rebuild [[CorpusArtifacts]] from a [[writeArtifacts]] directory —
    * every frame is a plain parquet scan, so a fresh process increments
    * against landed tables with zero corpus recomputation. */
  def readArtifacts(spark: SparkSession, dir: String): CorpusArtifacts = {
    def r(name: String): DataFrame = spark.read.parquet(s"$dir/$name")
    def opt(name: String): Option[DataFrame] = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$name")
      if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
        Some(r(name))
      else None
    }
    CorpusArtifacts(r("exact"), r("cells"), r("published"),
      r("exact_keys"), r("text_fps"), r("pairs"), r("clusters"),
      maxDocId = r("bounds").head().getLong(0),
      imageFps = opt("image_fps"), audioFps = opt("audio_fps"),
      embVecs = opt("emb_vecs"), vecClusters = opt("vec_clusters"))
  }

  def main(args: Array[String]): Unit = {
    // "multimodal" anywhere in args turns on the stage-3 union of the
    // text/image/audio dedup arms; the POSITIONAL args are what's left
    // (so `runMain graft.Pipeline multimodal` keeps the default sfDir
    // instead of reading the flag as a corpus path); a literal "-" out
    // dir means none
    val multimodal = args.contains("multimodal")
    val pos = args.filterNot(_ == "multimodal")
    val sfDir = pos.headOption.getOrElse("/root/testdata/sf0.001")
    val out = pos.drop(1).headOption.filter(_ != "-")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions).master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.rdd.compress", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rates = Map("src1" -> 1.0, "src2" -> 1.0, "src3" -> 0.5,
      "src5" -> 0.8, "src7" -> 1.0, "src11" -> 0.25)
    // the production profile turns the round-9 signals ON — cut the
    // lowest perplexity decile (CCNet tail), cap the duplicated-
    // substring fraction — and the round-10 span REWRITE (q204's
    // operator): surviving docs lose their corpus-duplicated 5-grams
    // before exact dedup
    val c = curate(spark, Sources.table(spark, sfDir, "documents"),
      rates, "pipeline-v1", out,
      knobs = QualityKnobs(dropPplBuckets = 1, maxDupFrac = 0.9,
        spanDedupN = 5),
      multimodal = multimodal)
    println(s"""{"input":${c.input},"quality":${c.afterQuality},""" +
      s""""span_rewrite":${c.afterSpanRewrite},""" +
      s""""exact":${c.afterExact},"neardup":${c.afterNearDup},""" +
      s""""mixed":${c.afterMix},"manifest_cells":${c.manifestCells}}""")
    spark.stop()
  }
}
