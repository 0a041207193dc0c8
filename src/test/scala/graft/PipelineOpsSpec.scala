package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Sources
import graft.operators._
import graft.streaming.EventStream

/** Tests for the LLM-data-pipeline operators (dedup, similarity, text
  * analysis, multimodal, streaming) over literal frames + sf0.001 fixtures. */
class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  val sfDir = "/root/testdata/sf0.001"

  private def docsOf(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text").withColumn("source", lit("s"))
      .withColumn("lang", lit("en"))

  test("minhash LSH flags identical and near-identical docs, not disjoint ones") {
    val d = docsOf(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta theta",  // exact dup
      3L -> "one two three four five six seven eight nine")   // disjoint
    val pairs = NearDup.minHashCandidates(d, 12, 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash LSH recalls every high-jaccard pair in the fixtures") {
    val d = Sources.table(spark, sfDir, "documents")
    val candidates = NearDup.minHashCandidates(d, 12, 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val groundTruth = NearDup.ngramJaccardPairs(d.withColumn("blk", lit(1)), "blk", 0.9)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(groundTruth.nonEmpty, "fixtures should contain planted near-dups")
    assert(groundTruth.subsetOf(candidates),
      s"missed: ${groundTruth -- candidates}; candidates=$candidates")
  }

  test("capped LSH bounds candidate volume under a boilerplate flood, preserving clusters") {
    // degenerate corpus: 100 identical boilerplate docs (one LSH bucket
    // per band swallows half the corpus) + 100 mutually-disjoint docs
    val boiler = "all rights reserved this page is boilerplate spark filter join"
    val d = docsOf(
      ((0L until 100L).map(i => i -> boiler) ++
        (100L until 200L).map(i =>
          i -> s"u$i v$i w$i x$i y$i z$i p$i q$i r$i s$i")): _*)
    val full = NearDup.minHashCandidates(d, 12, 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = NearDup.minHashCandidatesCapped(d, 12, 4, 3, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // uncapped: the flood alone is quadratic (100·99/2 pairs)
    assert(full.size >= 4950)
    // capped: linear — 99 star edges to the anchor (doc 0) plus nothing
    // from the disjoint docs; bound is (cap/2 + 1)·bucket_rows in
    // general, here exactly the star
    assert(capped.size <= 150, s"candidate volume not bounded: ${capped.size}")
    (1L until 100L).foreach(i => assert(capped.contains((0L, i)),
      s"star edge (0,$i) missing — flood members must reach the anchor"))
    // the reduction preserves connected components: survivors identical
    def survivors(pairs: Set[(Long, Long)]): Set[Long] = {
      val p = pairs.toSeq.toDF("doc_a", "doc_b")
      Graph.dedupSurvivors(d, "doc_id", p, "doc_a", "doc_b")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(survivors(capped) === survivors(full))
  }

  test("capped LSH equals the exact candidates when no bucket exceeds the cap") {
    val d = Sources.table(spark, sfDir, "documents")
    val exact = NearDup.minHashCandidates(d, 12, 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = NearDup.minHashCandidatesCapped(d, 12, 4, 3, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === exact,
      "fixture buckets are all under the cap — the capped path must be exact")
  }

  test("capped simhash pairs bound volume under a flood; star edges verified") {
    // 100 identical docs → identical fingerprints → every band bucket
    // flooded; plus mutually-disjoint docs that pair with nothing
    val boiler = "all rights reserved this page is boilerplate spark filter join"
    val d = docsOf(
      ((0L until 100L).map(i => i -> boiler) ++
        (100L until 150L).map(i =>
          i -> s"u$i v$i w$i x$i y$i z$i p$i q$i r$i s$i")): _*)
    val fp = NearDup.simHash(d)
    val full = NearDup.simHashPairs(fp, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.size >= 4950, "uncapped flood must be quadratic")
    val cappedRows = NearDup.simHashPairsCapped(fp, 3, 8).collect()
    val capped = cappedRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.size <= 150, s"candidate volume not bounded: ${capped.size}")
    // every flood member reaches the anchor, and every emitted edge —
    // star or not — passed the exact hamming verify
    (1L until 100L).foreach(i => assert(capped.contains((0L, i)),
      s"star edge (0,$i) missing"))
    cappedRows.foreach(r => assert(r.getAs[Long]("hamming") <= 3L))
    // star reduction preserves connected components → same survivors
    def survivors(pairs: Set[(Long, Long)]): Set[Long] = {
      val p = pairs.toSeq.toDF("doc_a", "doc_b")
      Graph.dedupSurvivors(d, "doc_id", p, "doc_a", "doc_b")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(survivors(capped) === survivors(full))
  }

  test("capped production dedup (q170/q171): clusters refine q58's, survivors superset q59's") {
    // The capped edge set is a SUBSET of the uncapped one (star
    // reduction only drops edges, never invents them), so the capped
    // components must REFINE the uncapped partition — any two docs the
    // flood-safe path clusters together must also be together under
    // the exhaustive path — and with fewer merges the survivor set can
    // only grow. Both properties hold at ANY cap value, so this spec
    // stays green whether or not the fixture has over-cap buckets.
    val capped = SparkEntry.queries("q170_capped_clusters")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val uncapped = SparkEntry.queries("q58_dedup_clusters")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped.nonEmpty, "fixtures should produce near-dup clusters")
    capped.groupBy(_._2).foreach { case (cid, members) =>
      val under = members.map { case (doc, _) => uncapped(doc) }.distinct
      assert(under.size == 1,
        s"capped cluster $cid spans uncapped clusters $under — refinement broken")
    }
    val survCapped = SparkEntry.queries("q171_capped_survivors")(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val survUncapped = SparkEntry.queries("q59_dedup_survivors")(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    assert(survUncapped.subsetOf(survCapped),
      s"capped dedup dropped docs the uncapped path keeps: ${survUncapped -- survCapped}")
    // internal consistency: q171 = docs minus q170's non-anchor members
    val nonAnchors = capped.collect { case (doc, cid) if doc != cid => doc }.toSet
    val allDocs = Sources.table(spark, sfDir, "documents")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survCapped === (allDocs -- nonAnchors))
  }

  test("capped simhash pairs equal the exact pairs when no bucket exceeds the cap") {
    val fp = NearDup.simHash(Sources.table(spark, sfDir, "documents"))
    val exact = NearDup.simHashPairs(fp, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val capped = NearDup.simHashPairsCapped(fp, 3, Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(capped === exact)
  }

  test("capped simhash64 pairs bound volume under a flood; star edges verified") {
    val boiler = "all rights reserved this page is boilerplate spark filter join"
    val d = docsOf(
      ((0L until 100L).map(i => i -> boiler) ++
        (100L until 150L).map(i =>
          i -> s"u$i v$i w$i x$i y$i z$i p$i q$i r$i s$i")): _*)
    val fp = NearDup.simHash64(d)
    val full = NearDup.simHash64Pairs(fp, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.size >= 4950, "uncapped flood must be quadratic")
    val cappedRows = NearDup.simHash64PairsCapped(fp, 3, 8).collect()
    val capped = cappedRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.size <= 150, s"candidate volume not bounded: ${capped.size}")
    (1L until 100L).foreach(i => assert(capped.contains((0L, i)),
      s"star edge (0,$i) missing"))
    cappedRows.foreach(r => assert(r.getAs[Long]("hamming") <= 3L))
  }

  test("capped simhash64 pairs equal the exact pairs when no bucket exceeds the cap") {
    val fp = NearDup.simHash64(Sources.table(spark, sfDir, "documents"))
    val exact = NearDup.simHash64Pairs(fp, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val capped = NearDup.simHash64PairsCapped(fp, 3, Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(capped === exact)
  }

  test("capped incremental candidates bound both flood regimes; anchors reached") {
    val boiler = "all rights reserved this page is boilerplate spark filter join"
    val batchBoiler = "breaking news subscribe now to read the full batch article"
    // corpus: 100-doc boilerplate flood + disjoint docs
    val corpusDocs = docsOf(
      ((0L until 100L).map(i => i -> boiler) ++
        (100L until 130L).map(i =>
          i -> s"u$i v$i w$i x$i y$i z$i p$i q$i r$i s$i")): _*)
    // batch: 5 docs hitting the flooded corpus bucket, a 50-doc
    // batch-internal flood, and disjoint docs
    val batch = docsOf(
      ((200L until 205L).map(i => i -> boiler) ++
        (300L until 350L).map(i => i -> batchBoiler) ++
        (400L until 420L).map(i =>
          i -> s"a$i b$i c$i d$i e$i f$i g$i h$i j$i k$i")): _*)
    val corpusBuckets = NearDup.lshBuckets(
      NearDup.minHashSignatures(corpusDocs, 12), 4, 3)
    val full = NearDup.incrementalCandidates(corpusBuckets, batch, 12, 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // uncapped: 5×100 corpus-flood fan-out + 50·49/2 batch-internal flood
    assert(full.size >= 500 + 1225, s"uncapped flood too small: ${full.size}")
    val capped = NearDup.incrementalCandidatesCapped(
        corpusBuckets, batch, 12, 4, 3, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.size <= 200, s"candidate volume not bounded: ${capped.size}")
    // flooded corpus bucket: every matching batch doc reaches the
    // corpus anchor (doc 0)
    (200L until 205L).foreach(i => assert(capped.contains((0L, i)),
      s"corpus-anchor edge (0,$i) missing"))
    // flooded batch bucket: star to the batch anchor (doc 300)
    (301L until 350L).foreach(i => assert(capped.contains((300L, i)),
      s"batch star edge (300,$i) missing"))
    // pre-landed corpus stats (the production path) change nothing
    val viaStats = NearDup.incrementalCandidatesCapped(
        corpusBuckets, batch, 12, 4, 3, 8,
        corpusStats = Some(NearDup.bucketStats(corpusBuckets)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaStats === capped)
  }

  test("capped incremental candidates equal the exact ones when under the cap") {
    val d = Sources.table(spark, sfDir, "documents")
    val corpusBuckets = NearDup.lshBuckets(
      NearDup.minHashSignatures(d.filter(col("doc_id") < 400), 12), 4, 3)
    val batch = d.filter(col("doc_id") >= 400)
    val exact = NearDup.incrementalCandidates(corpusBuckets, batch, 12, 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = NearDup.incrementalCandidatesCapped(
        corpusBuckets, batch, 12, 4, 3, Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === exact)
  }

  test("simhash: identical docs get identical fingerprints; hamming 0") {
    val d = docsOf(1L -> "spark scale shuffle join agg", 2L -> "spark scale shuffle join agg")
    val fps = NearDup.simHash(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) === fps(2L))
    val pairs = NearDup.simHashPairs(NearDup.simHash(d), 0).collect()
    assert(pairs.length === 1 && pairs.head.getAs[Long]("hamming") === 0L)
  }

  test("simHash64 low half equals the 32-bit simhash; identical docs pair at 0") {
    val d = docsOf(1L -> "spark scale shuffle join agg",
                   2L -> "spark scale shuffle join agg",
                   3L -> "an entirely different document body here")
    val fp32 = NearDup.simHash(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fp64 = NearDup.simHash64(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    fp64.foreach { case (id, (hi, lo)) =>
      assert(lo === fp32(id), s"doc $id: low half must be the 32-bit simhash")
      assert(hi >= 0L && lo >= 0L && hi < (1L << 32) && lo < (1L << 32))
    }
    val pairs = NearDup.simHash64Pairs(NearDup.simHash64(d), 0).collect()
    assert(pairs.length === 1 && pairs.head.getAs[Long]("hamming") === 0L)
  }

  test("ngram jaccard is 1.0 for identical docs") {
    val d = docsOf(1L -> "a b c d e", 2L -> "a b c d e")
    val r = NearDup.ngramJaccardPairs(d, "source", 0.5).collect()
    assert(r.length === 1 && math.abs(r.head.getAs[Double]("jaccard") - 1.0) < 1e-12)
  }

  test("knn: nearest neighbour of a vector is its duplicate, self excluded") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(1.0f, 0.0f, 0.0f), 0),  // identical to 1
      (3L, Array(0.0f, 1.0f, 0.0f), 1),
      (4L, Array(0.7f, 0.7f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val knn = Similarity.bruteForceKnn(emb, emb.filter($"vec_id" === 1), k = 3)
      .collect().sortBy(_.getAs[Long]("rank"))
    assert(knn.head.getAs[Long]("n_vec") === 2L)
    assert(math.abs(knn.head.getAs[Double]("cosine") - 1.0) < 1e-9)
    assert(knn.forall(_.getAs[Long]("n_vec") != 1L))
  }

  test("lsh-bucketed knn returns a subset of brute-force candidates with same scoring") {
    val emb = Sources.table(spark, sfDir, "embeddings")
    val q = emb.filter($"vec_id" < 3)
    val approx = Similarity.lshBucketedKnn(emb, q, 5, 4).collect()
    val exact = Similarity.bruteForceKnn(emb, q, 500).collect()
      .map(r => (r.getAs[Long]("q_vec"), r.getAs[Long]("n_vec")) -> r.getAs[Double]("cosine")).toMap
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val key = (r.getAs[Long]("q_vec"), r.getAs[Long]("n_vec"))
      assert(math.abs(exact(key) - r.getAs[Double]("cosine")) < 1e-9)
    }
  }

  test("ivf knn scores match brute-force for the pairs it returns, with decent recall") {
    val emb = Sources.table(spark, sfDir, "embeddings")
    val q = emb.filter($"vec_id" < 5)
    // synthetic embeddings are only weakly label-clustered → probe 4 of
    // the 10 lists for a recall the assertion can rely on
    val ivf = Similarity.ivfKnn(emb, q, Similarity.labelCentroids(emb), 5, 4).collect()
    val exact = Similarity.bruteForceKnn(emb, q, 500).collect()
      .map(r => (r.getAs[Long]("q_vec"), r.getAs[Long]("n_vec")) -> r.getAs[Double]("cosine")).toMap
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      val key = (r.getAs[Long]("q_vec"), r.getAs[Long]("n_vec"))
      assert(math.abs(exact(key) - r.getAs[Double]("cosine")) < 1e-9)
    }
    // recall@5 vs exact top-5 (data-dependent; assert it's not degenerate)
    val exactTop = Similarity.bruteForceKnn(emb, q, 5).collect()
      .map(r => (r.getAs[Long]("q_vec"), r.getAs[Long]("n_vec"))).toSet
    val got = ivf.map(r => (r.getAs[Long]("q_vec"), r.getAs[Long]("n_vec"))).toSet
    val recall = (exactTop & got).size.toDouble / exactTop.size
    assert(recall >= 0.4, s"ivf recall@5 = $recall")
  }

  test("full IVF pipeline: kmeans-fitted quantizer feeds ivfKnn") {
    val emb = Sources.table(spark, sfDir, "embeddings")
    val fitted = KMeansQuantizer.fit(emb, 8, 2)
      .select(col("centroid_id").cast("int").as("label"), col("dim"),
        col("c").as("centroid"))
    val q = emb.filter($"vec_id" < 3)
    val knn = Similarity.ivfKnn(emb, q, fitted, 5, 3).collect()
    assert(knn.nonEmpty)
    val exact = Similarity.bruteForceKnn(emb, q, 500).collect()
      .map(r => (r.getAs[Long]("q_vec"), r.getAs[Long]("n_vec")) -> r.getAs[Double]("cosine")).toMap
    knn.foreach { r =>
      val key = (r.getAs[Long]("q_vec"), r.getAs[Long]("n_vec"))
      assert(math.abs(exact(key) - r.getAs[Double]("cosine")) < 1e-9)
    }
  }

  test("kmeans: Lloyd iterations do not increase the SSE objective") {
    val emb = Sources.table(spark, sfDir, "embeddings")
    val ed = KMeansQuantizer.longForm(emb)
    val c0 = KMeansQuantizer.initCentroids(ed, 8)
    val c1 = KMeansQuantizer.lloydStep(ed, c0)
    val c2 = KMeansQuantizer.lloydStep(ed, c1)
    val s0 = KMeansQuantizer.sse(emb, c0)
    val s1 = KMeansQuantizer.sse(emb, c1)
    val s2 = KMeansQuantizer.sse(emb, c2)
    // slack covers the spec'd 6-decimal rounding of centroids/distances,
    // which can shift SSE by ~n·dims·1e-6 between near-converged steps
    val slack = 1.0
    assert(s1 <= s0 + slack, s"sse increased: $s0 -> $s1")
    assert(s2 <= s1 + slack, s"sse increased: $s1 -> $s2")
    // full centroid table: every cluster kept a member at this k
    assert(c2.count() === 8L * 64L)
  }

  test("language ID predicts en for English stopword-rich text") {
    val d = docsOf(1L -> "the cat of the house and a dog", 2L -> "der hund ist nicht ein katze")
    val preds = TextAnalysis.langIdPredictions(d)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(preds(1L) === "en")
    assert(preds(2L) === "de")
  }

  test("text stats: token counts and ratios") {
    val d = docsOf(1L -> "the quick fox")
    val r = TextAnalysis.textStats(d, Seq("the")).collect().head
    assert(r.getAs[Long]("n_tokens") === 3L)
    assert(r.getAs[Long]("n_stopwords") === 1L)
    assert(math.abs(r.getAs[Double]("avg_token_len") - 11.0 / 3) < 1e-12)
  }

  test("fingerprints are stable and order-independent") {
    val d = docsOf(1L -> "a b c d e f g")
    val f1 = TextAnalysis.fingerprints(d, 4).collect().head.getAs[String]("fingerprint")
    assert(f1.length === 4 * 32)
    val f2 = TextAnalysis.fingerprints(d.repartition(7), 4).collect().head.getAs[String]("fingerprint")
    assert(f1 === f2)
  }

  test("png payloads are genuine PNGs; decode recovers every pixel exactly") {
    val d = docsOf((0L until 20L).map(i => i -> s"doc $i"): _*)
    val blobs = Multimodal.pngPayloads(spark, d).collect()
    blobs.foreach { r =>
      val p = r.getAs[Array[Byte]]("payload")
      // PNG signature: 137 80 78 71 13 10 26 10
      assert(p.take(4).map(_ & 0xFF).toSeq === Seq(137, 80, 78, 71),
        "payload must be a real PNG stream")
    }
    val stats = Multimodal.decodePixelStats(spark, Multimodal.pngPayloads(spark, d))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    (0L until 20L).foreach { id =>
      val cid = if (id % 50 == 27) id - 27 else id
      val (w, h) = (8 + cid % 5, 8 + cid % 4)
      val sum = (for (y <- 0L until h; x <- 0L until w) yield {
        val t = (cid * 2654435761L + x * 40503L + y * 30011L +
          x * y * 12289L) % 1000003L
        (t * t % 1000003L) % 256L
      }).sum
      assert(stats(id) === ((w, h, w * h, sum)),
        s"doc $id: decoded stats must equal the encoded arithmetic")
    }
  }

  test("multimodal stub decode is deterministic and partition-parallel") {
    val d = Sources.table(spark, sfDir, "documents").limit(50)
    val a = Multimodal.decodeFeatures(spark, d).orderBy("doc_id").collect()
    val b = Multimodal.decodeFeatures(spark, d.repartition(13)).orderBy("doc_id").collect()
    assert(a.toSeq === b.toSeq)
    assert(a.forall(r => r.getAs[Long]("width") === 320 + r.getAs[Long]("n_bytes") % 320))
  }

  test("asof join picks the latest prior-or-equal right row per key") {
    val left = Seq((1L, 10L, 100L), (2L, 10L, 205L), (3L, 20L, 50L))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((91L, 10L, 100L, 1.0), (92L, 10L, 200L, 2.0), (93L, 99L, 1L, 9.0))
      .toDF("event_id", "user_id", "ts", "value")
    val out = AsOfJoin.asofLeft(left, right, Seq("user_id"), "ts",
        Map("event_id" -> "r_id", "value" -> "r_value"))
      .collect().map(r => r.getAs[Long]("event_id") ->
        (if (r.isNullAt(r.fieldIndex("r_id"))) None else Some(r.getAs[Long]("r_id")))).toMap
    assert(out(1L) === Some(91L))  // equal time matches (inclusive)
    assert(out(2L) === Some(92L))  // later left row sees the newer right row
    assert(out(3L) === None)       // no right rows for that key
  }

  test("asof join carries the matched row atomically, including its NULL fields") {
    val left = Seq((1L, 10L, 300L)).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (91L, 10L, 100L, Some(1.0)),
      (92L, 10L, 200L, None)       // newest match has a NULL value
    ).toDF("event_id", "user_id", "ts", "value")
    val r = AsOfJoin.asofLeft(left, right, Seq("user_id"), "ts",
      Map("event_id" -> "r_id", "value" -> "r_value")).collect().head
    assert(r.getAs[Long]("r_id") === 92L)
    // the NULL from row 92 must NOT be replaced by row 91's 1.0
    assert(r.isNullAt(r.fieldIndex("r_value")))
  }

  test("shingle generator handles nulls, short docs, and duplicate shingles") {
    val d = Seq((1L, "a b c b a b c"), (2L, "x y"), (3L, null))
      .toDF("doc_id", "text").withColumn("source", lit("s")).withColumn("lang", lit("en"))
    val sh = Shingles.table(d)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // doc 1: a b c / b c b / c b a / b a b / a b c(dup dropped)
    assert(sh.count(_._1 == 1L) === 4)
    assert(sh.forall(_._1 == 1L))  // doc 2 (<3 tokens) and doc 3 (null) emit nothing
  }

  test("bucketed co-located join plans without a shuffle exchange") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = Sources.table(spark, sfDir, "lineitem")
      val ord = Sources.table(spark, sfDir, "orders")
      li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/li_b").mode("overwrite").saveAsTable("li_b")
      ord.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/ord_b").mode("overwrite").saveAsTable("ord_b")
      val j = spark.table("li_b")
        .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
      assert(j.count() > 0)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free bucketed join:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }

  test("space-saving heavy hitters: guaranteed recall and error bounds") {
    val freqs = Map("a" -> 500, "b" -> 300, "c" -> 120) ++
      (1 to 200).map(i => s"t$i" -> 3).toMap
    val rnd = new scala.util.Random(7)
    val rows = rnd.shuffle(freqs.toSeq.flatMap { case (s, n) => Seq.fill(n)(s) })
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Tuple1(_)), 8)).toDF("item")
    val k = 32
    val hh = df.agg(graft.functions.SpaceSaving
        .approxHeavyHitters(col("item"), k).as("hh"))
      .head().getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("hh")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(hh.size <= k)
    val n = rows.size
    // recall: every item with true count > n/k must be reported
    val mustHave = freqs.filter(_._2 > n / k).keySet
    assert(mustHave.subsetOf(hh.map(_._1).toSet),
      s"missing heavy hitters: ${mustHave -- hh.map(_._1).toSet}")
    // per-item bound: cnt - err <= true <= cnt
    hh.foreach { case (item, cnt, err) =>
      val t = freqs.getOrElse(item, 0).toLong
      assert(cnt - err <= t && t <= cnt, s"$item: cnt=$cnt err=$err true=$t")
    }
    // the top of the report is exact on this skew
    assert(hh.take(3).map(_._1) === Seq("a", "b", "c"))
  }

  test("sketches stay within their declared error bands vs exact answers") {
    val ev = Sources.table(spark, sfDir, "events")
    val got = ev.groupBy(col("event_type")).agg(
        approx_count_distinct(col("user_id"), 0.01).as("approx_u"),
        countDistinct(col("user_id")).as("exact_u"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("approx_med"),
        expr("percentile(value, 0.5)").as("exact_med"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (au, eu) = (r.getLong(1), r.getLong(2))
      // rsd 0.01 HLL: allow a generous 5% band (small-n correction noise)
      assert(math.abs(au - eu) <= math.max(1L, (0.05 * eu).toLong),
        s"approx_count_distinct $au vs exact $eu")
      val (am, em) = (r.getDouble(3), r.getDouble(4))
      assert(math.abs(am - em) <= math.max(1.0, 0.05 * math.abs(em)),
        s"approx median $am vs exact $em")
    }
  }

  test("curation pipeline: stage counts monotone, output written z-ordered") {
    val out = java.nio.file.Files.createTempDirectory("pipe").toString + "/out"
    val rates = Map("src1" -> 1.0, "src2" -> 1.0, "src3" -> 0.5,
      "src5" -> 0.8, "src7" -> 1.0, "src11" -> 0.25)
    val c = graft.Pipeline.curate(spark,
      Sources.table(spark, sfDir, "documents"), rates, "pipeline-v1", Some(out))
    assert(c.input >= c.afterQuality &&
      c.afterQuality >= c.afterSpanRewrite &&
      c.afterSpanRewrite >= c.afterExact &&
      c.afterExact >= c.afterNearDup && c.afterNearDup >= c.afterMix,
      s"stages must only shrink: $c")
    assert(c.afterMix > 0, "the pipeline should keep something")
    val written = spark.read.parquet(out)
    assert(written.count() === c.afterMix)
    assert(written.columns.contains("text"))
    // stage 6: the training manifest lands beside the corpus and its
    // doc census reconciles with the curated output
    val manifest = spark.read.parquet(out + "_manifest")
    assert(manifest.count() === c.manifestCells)
    import org.apache.spark.sql.functions.sum
    val mDocs = manifest.agg(sum("n_docs")).collect()(0).getLong(0)
    assert(mDocs === c.afterMix,
      s"manifest cells must partition the curated corpus: $mDocs vs ${c.afterMix}")
    assert(manifest.select("split").distinct().count() <= 3)
  }

  test("curate quality knobs: perplexity tail cut and dup-span ceiling drop the right docs") {
    // three planted tiers, separable ONLY by the round-9 signals (all
    // pass the always-on round-4 reasons):
    //  - 5 gibberish docs: mostly df-1 tokens → lowest unigram-LM class
    //    (cum 5 of 46 → bucket 1 of 10; X's class starts at cum 6 →
    //    bucket 2, above the cut) → dropped by the tail cut
    //  - X/Y: a shared 40-token prefix (P P, P = 20 distinct common
    //    words) + distinct common-letter tails → dup_frac 36/38 ≈ 0.947
    //    over 5-grams (> 0.9 ceiling) while rep_ratio stays 0.45 (≤ 0.6)
    //    and every token is frequent → NOT in the tail bucket
    //  - 39 common docs: a unique token every ≤ 4 positions, so no
    //    5-gram ever repeats corpus-wide (dup_frac 0), high logprob
    def letters(i: Int): String =
      s"${('a' + i / 26).toChar}${('a' + i % 26).toChar}"
    val p = ("the of " + (1 to 18).map(i => s"c${letters(i)}").mkString(" "))
    val xy = Seq(
      (900L, s"$p $p caa cab", "src1"),
      (901L, s"$p $p cac cad", "src1"))
    val gib = (0 until 5).map(i =>
      (800L + i, s"the of " + (1 to 8).map(j => s"g${letters(i)}${letters(j)}qx").mkString(" "), "src1"))
    val common = (0 until 39).map { i =>
      val u = (1 to 3).map(j => s"u${letters(i)}${letters(j)}zz")
      (i.toLong,
        s"the cab cac cad ${u(0)} cae caf cag of ${u(1)} cah cai caj ${u(2)}",
        "src1")
    }
    val docs = (common ++ gib ++ xy).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))

    val rates = Map("src1" -> 1.0)
    // knobs OFF (defaults): every planted doc passes stage 1
    val off = graft.Pipeline.curate(spark, docs, rates, "quality-spec", None)
    assert(off.input === 46L && off.afterQuality === 46L,
      s"all tiers must pass the always-on signals: $off")
    // knobs ON: the tail cut takes the 4 gibberish docs, the dup-span
    // ceiling takes X/Y, the 39 common docs survive
    val out = java.nio.file.Files.createTempDirectory("pipeq").toString + "/o"
    val on = graft.Pipeline.curate(spark, docs, rates, "quality-spec",
      Some(out), knobs = graft.Pipeline.QualityKnobs(
        dropPplBuckets = 1, maxDupFrac = 0.9))
    assert(on.afterQuality === 39L,
      s"tail cut + dup ceiling must drop exactly gib + X/Y: $on")
    assert(on.afterQuality >= on.afterSpanRewrite &&
      on.afterSpanRewrite >= on.afterExact &&
      on.afterExact >= on.afterNearDup && on.afterNearDup >= on.afterMix)
    // the scorecard lands beside the manifest and censuses the CURATED
    // corpus (sum of its per-source doc counts = the mixed output)
    val card = spark.read.parquet(out + "_scorecard")
    assert(card.columns.toSet === Set("source", "n_docs",
      "avg_stopword_ratio", "avg_logprob", "avg_dup_frac", "nb_self_acc"))
    val cardDocs = card.agg(sum("n_docs")).collect()(0).getLong(0)
    assert(cardDocs === on.afterMix,
      s"scorecard must census the curated corpus: $cardDocs vs ${on.afterMix}")
  }

  test("curate span rewrite: boilerplate cut, emptied docs dropped, tails survive") {
    // one 10-token boilerplate phrase shared by THREE quality-passing
    // docs (every interior 5-gram occurs 3× corpus-wide), two with
    // distinct 6-token tails and one that IS the boilerplate; plus one
    // all-unique doc. spanDedupN = 5 must cut the boilerplate from all
    // three, drop the emptied doc, and leave the other two as their
    // tails — distinct, so exact dedup keeps both.
    val boiler = "the of b1 b2 b3 b4 b5 b6 b7 b8"
    val docs = Seq(
      (1L, s"$boiler alpha bravo charlie delta echo foxtrot", "src1"),
      (2L, s"$boiler zulu yankee xray whiskey victor uniform", "src1"),
      (3L, boiler, "src1"),
      (4L, "the of u1 u2 u3 u4 u5 u6", "src1"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val rates = Map("src1" -> 1.0)

    // off by default: the rewrite stage is the identity
    val off = graft.Pipeline.curate(spark, docs, rates, "span-spec", None)
    assert(off.afterQuality === 4L && off.afterSpanRewrite === 4L,
      s"default knobs must not rewrite: $off")

    val out = java.nio.file.Files.createTempDirectory("pipes").toString + "/o"
    val on = graft.Pipeline.curate(spark, docs, rates, "span-spec",
      Some(out), knobs = graft.Pipeline.QualityKnobs(spanDedupN = 5))
    assert(on.afterQuality === 4L, s"all docs pass stage 1: $on")
    assert(on.afterSpanRewrite === 3L,
      s"the pure-boilerplate doc must empty and drop: $on")
    assert(on.afterExact === 3L && on.afterNearDup === 3L,
      s"distinct tails must survive dedup: $on")
    val written = spark.read.parquet(out)
      .select(col("doc_id"), col("text"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(written(1L)._1 == "alpha bravo charlie delta echo foxtrot")
    assert(written(2L)._1 == "zulu yankee xray whiskey victor uniform")
    assert(written(4L)._1 == "the of u1 u2 u3 u4 u5 u6",
      "the all-unique doc must pass through verbatim")
    // n_chars is recomputed from the REWRITTEN text
    written.foreach { case (id, (t, n)) => assert(n == t.length, s"doc $id") }
  }

  test("curation pipeline is flood-safe: capped stage-3 generator, flood collapses") {
    // Deterministic quality-passing simhash flood: 21 distinct boiler
    // tokens, each repeated 3× consecutively. Every bit's vote is
    // 3·(odd ±1 sum) so |vote| ≥ 3, and the per-doc unique tail token
    // (±1) can never flip a bit — ALL flood docs share the boiler's
    // EXACT fingerprint, flooding every band bucket — while the tails
    // differ in letters, so normalized exact-dedup keeps them apart.
    // No 3-gram repeats (rep_ratio 0), 6/64 stopword tokens, lang en:
    // the flood sails through stage 1 and stresses stage 3 directly.
    val boilerWords = ("the of quick brown foxes jump over lazy dogs " +
      "while green ideas sleep furious under amber skies beyond silent " +
      "rivers tonight").split(" ")
    assert(boilerWords.length == 21 && boilerWords.distinct.length == 21)
    val boiler = boilerWords.flatMap(w => Seq(w, w, w)).mkString(" ")
    def letters(i: Int): String =
      s"zq${('a' + i / 26).toChar}${('a' + i % 26).toChar}"
    val flood = (0 until 100).map(i =>
      (i.toLong, s"$boiler ${letters(i)}", "src1"))
    val normal = (0 until 10).map(i =>
      (1000L + i, s"the pebble${letters(i)} canyon${letters(i)} " +
        s"marble${letters(i)} lantern${letters(i)} orchid${letters(i)} " +
        s"velvet${letters(i)} thimble${letters(i)}", "src2"))
    val docs = (flood ++ normal).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))

    // the PIPELINE's own generator must be the capped one: linear
    // star-reduced volume where the uncapped band join is quadratic
    val floodOnly = docs.filter(col("doc_id") < 1000L)
    val uncapped = NearDup.simHashPairs(NearDup.simHash(floodOnly),
      graft.DedupKnobs.SimHashMaxHamming).count()
    assert(uncapped >= 4950L, s"flood must be quadratic uncapped: $uncapped")
    val piped = graft.Pipeline.nearDupPairs(floodOnly)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(piped.size <= 150,
      s"pipeline stage-3 generator not flood-bounded: ${piped.size} pairs")
    (1L until 100L).foreach(i => assert(piped.contains((0L, i)),
      s"flood member $i must reach the anchor"))

    // end to end: every stage completes, the flood collapses to ONE
    // survivor (identical fingerprints → one connected component), and
    // the quality stage dropped nothing (the flood is crafted to pass)
    val c = graft.Pipeline.curate(spark, docs,
      Map("src1" -> 1.0, "src2" -> 1.0), "flood-spec", None)
    assert(c.input === 110L)
    assert(c.afterQuality === 110L,
      s"flood docs must pass the quality stage: $c")
    assert(c.afterExact === 110L,
      s"letter tails must survive normalized exact dedup: $c")
    assert(c.afterNearDup === 11L,
      s"flood must collapse to one survivor + 10 normal docs: $c")
    assert(c.afterMix === 11L)
  }

  test("AQE splits a skewed sort-merge join at runtime (skew=true)") {
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 200k rows, 95% on one hot key: the classic degenerate join input
      val big = spark.range(200000)
        .selectExpr("CASE WHEN id % 20 != 0 THEN 0 ELSE id END AS k", "id AS v")
      val dim = spark.range(0, 200000, 20).selectExpr("id AS k", "id * 2 AS w")
        .union(spark.range(1).selectExpr("0 AS k", "0 AS w"))
      val j = big.join(dim, "k")
      // an action on THIS dataset's QueryExecution: AQE finalizes the
      // plan per execution, and write() would run a separate one
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE should have split the hot key:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salted join equals plain join") {
    val fact = (1 to 500).map(i => (i.toLong % 3, i.toLong)).toDF("k", "payload")
    val dim = Seq((0L, "zero"), (1L, "one"), (2L, "two")).toDF("k", "name")
    val plain = fact.join(dim, "k").select("k", "payload", "name")
      .collect().map(_.toSeq).toSet
    val salted = graft.engine.Joins.saltedJoin(fact, dim, "k", 8, col("payload"))
      .select("k", "payload", "name").collect().map(_.toSeq).toSet
    assert(salted === plain)
  }

  test("streaming hourly agg equals batch hourly agg") {
    val streamed = EventStream.runHourlyOnce(spark, sfDir)
    val batch = SparkEntry.queries("q17_hourly_window")(spark, sfDir)
    assert(streamed.collect().toSeq === batch.collect().toSeq)
  }

  test("stateless operators run unchanged on streams: mixture sampling parity") {
    // Spark's unified model: the SAME deterministicMix call over a
    // readStream frame must keep exactly the rows the batch run keeps
    val rates = Map("click" -> 0.4, "view" -> 0.9, "purchase" -> 0.0)
    def sample(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Sampling.deterministicMix(
        df.filter(col("event_type").isin(rates.keys.toSeq: _*)),
        col("event_id"), col("event_type"), rates, "stream-v1")
    val name = "mix_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = sample(EventStream.readEvents(spark, sfDir))
      .select(col("event_id"))
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table(name).collect().map(_.getLong(0)).toSet
    val batch = sample(Sources.table(spark, sfDir, "events"))
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    assert(batch.nonEmpty && streamed === batch)
  }

  test("stream-static join: streaming events enrich against a static frame") {
    val dim = Sources.table(spark, sfDir, "events")
      .select(col("user_id")).distinct()
      .withColumn("segment", pmod(col("user_id"), lit(3)))
    val name = "ss_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = EventStream.readEvents(spark, sfDir)
      .join(dim, "user_id") // static side broadcast per micro-batch
      .groupBy(col("segment")).agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table(name)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = Sources.table(spark, sfDir, "events").join(dim, "user_id")
      .groupBy(col("segment")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(streamed === batch && batch.nonEmpty)
  }

  test("streaming session_window agg runs with watermark (stateful sessions)") {
    val stream = EventStream.readEvents(spark, sfDir)
      .withWatermark("ts_utc", "2 hours")
      .groupBy(session_window(col("ts_utc"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val name = "sess_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = stream.writeStream.outputMode("append").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table(name).count() > 0)
  }

  test("incremental LSH candidates equal the batch-involving slice of a full run") {
    val d = Sources.table(spark, sfDir, "documents")
    val corpus = d.filter(col("doc_id") < 400)
    val batch = d.filter(col("doc_id") >= 400)
    val corpusBuckets = NearDup.lshBuckets(
      NearDup.minHashSignatures(corpus, 12), 4, 3)
    val got = NearDup.incrementalCandidates(corpusBuckets, batch, 12, 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = NearDup.minHashCandidates(d, 12, 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.filter(p => p._1 >= 400 || p._2 >= 400)
    assert(expected.nonEmpty, "fixtures should have batch-involving pairs")
    assert(got === expected)
  }

  test("tableDiff classifies added/removed/changed/unchanged per key") {
    val v1 = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, null.asInstanceOf[String], 40.0)).toDF("k", "s", "v")
    val v2 = Seq((2L, "b", 20.0), (3L, "CHANGED", 30.0),
      (4L, null.asInstanceOf[String], 40.0), (5L, "new", 50.0)).toDF("k", "s", "v")
    val got = graft.engine.Dedup.tableDiff(v1, v2, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got === Map(1L -> "removed", 2L -> "unchanged", 3L -> "changed",
      4L -> "unchanged", 5L -> "added"))
    // column order must not matter
    val gotReordered = graft.engine.Dedup
      .tableDiff(v1.select(col("v"), col("k"), col("s")), v2, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(gotReordered === got)
  }

  test("asofNearest picks the closer side, ties backward, handles edges") {
    val views = Seq((1L, "u", 100L), (2L, "u", 10L), (3L, "u", 205L),
        (4L, "v", 50L), (5L, "w", 7L))
      .toDF("event_id", "user_id", "ts")
    // u: clicks at 90 (d=10 back for v1) and 105 (d=5 fwd for v1);
    //    v2@10: back none, fwd 90 (d=80); v3@205: back 105 (d=100), no fwd
    // v: clicks at 45 and 55 — equidistant from 50 → tie → backward (45)
    // w: no clicks at all → null match
    val clicks = Seq((90L, "u", 90L, 9.0), (105L, "u", 105L, 1.5),
        (45L, "v", 45L, 4.5), (55L, "v", 55L, 5.5))
      .toDF("event_id", "user_id", "ts", "value")
    val got = graft.operators.AsOfJoin.asofNearest(views, clicks,
        Seq("user_id"), "ts",
        Map("event_id" -> "click_id", "value" -> "click_value"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(3)).map(_.asInstanceOf[Long]), Option(r.get(4)))).toMap
    assert(got(1L) === (Some(105L), Some(1.5)))  // fwd d=5 beats back d=10
    assert(got(2L) === (Some(90L), Some(9.0)))   // only fwd exists
    assert(got(3L) === (Some(105L), Some(1.5)))  // only back exists
    assert(got(4L) === (Some(45L), Some(4.5)))   // tie -> backward
    assert(got(5L) === (None, None))             // no right rows
  }

  test("connected components: path graph, isolated pair, direction-blind") {
    // path 1-2-3-4-5 needs several propagation rounds; (10,11) separate;
    // edge (9,8) reversed to confirm direction is ignored
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L), (9L, 8L))
      .toDF("a", "b")
    val got = graft.operators.Graph.connectedComponents(edges, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 8L -> 8L, 9L -> 8L))
  }

  test("components on a 300-node path need O(log n) rounds (pointer jumping)") {
    // plain synchronous propagation needs ~diameter rounds (~300 here);
    // converging within 12 proves the lbl(lbl(n)) jump halves distances
    val path = (0L until 299L).map(i => (i, i + 1)).toDF("a", "b")
    val escBefore = graft.operators.Graph.escalations.get()
    val got = graft.operators.Graph.connectedComponents(path, "a", "b", maxIter = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === 300 && got.forall(_._2 === 0L))
    assert(graft.operators.Graph.escalations.get() === escBefore,
      "12 rounds must suffice without the star fallback")
  }

  test("components on a 10k-node path stay within the O(log n) round bound") {
    // diameter 10_000: plain propagation needs ~10k rounds; the
    // propagate+jump fast path must land well inside 24 (≈ 1.5·log₂ n)
    // WITHOUT escalating to the star fallback — the scale evidence the
    // 300-node case can't give
    val path = (0L until 9999L).map(i => (i, i + 1)).toDF("a", "b")
    val escBefore = graft.operators.Graph.escalations.get()
    val got = graft.operators.Graph.connectedComponents(path, "a", "b", maxIter = 24)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === 10000 && got.forall(_._2 === 0L))
    // the fallback returns identical labels, so the round-bound claim is
    // only falsifiable through the escalation probe
    assert(graft.operators.Graph.escalations.get() === escBefore,
      "fast path must converge within 24 rounds WITHOUT the star fallback")
  }

  test("star fallback (maxIter=0) matches the fast path on paths and pairs") {
    // maxIter=0 skips min-label propagation entirely, exercising the
    // pure Kiveris large-star/small-star escalation path end-to-end —
    // the operator must now FINISH instead of require()-crashing when
    // the round budget is exhausted
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L), (9L, 8L))
      .toDF("a", "b")
    val got = graft.operators.Graph.connectedComponents(edges, "a", "b", maxIter = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 8L -> 8L, 9L -> 8L))
    // long-diameter graph with a tiny fast-path budget: 2 rounds of
    // propagation cannot close a 500-hop chain, so this ONLY passes via
    // the fallback (and proves seeding with partial labels is sound)
    val path = (0L until 499L).map(i => (i, i + 1)).toDF("a", "b")
    val escBefore = graft.operators.Graph.escalations.get()
    val viaFallback = graft.operators.Graph
      .connectedComponents(path, "a", "b", maxIter = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(viaFallback.length === 500 && viaFallback.forall(_._2 === 0L))
    assert(graft.operators.Graph.escalations.get() > escBefore,
      "this case must actually exercise the escalation path")
  }

  test("connected components and survivors handle an EMPTY pair set") {
    val noEdges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(graft.operators.Graph.connectedComponents(noEdges, "a", "b").isEmpty)
    val d = Seq((1L, "s"), (2L, "s")).toDF("doc_id", "source")
    val kept = graft.operators.Graph
      .dedupSurvivors(d, "doc_id", noEdges, "a", "b")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L), "duplicate-free corpus survives intact")
  }

  test("tableDiff canonicalizes map columns; as-of joins reject reserved names") {
    val m1 = Seq((1L, Map("x" -> 1, "y" -> 2))).toDF("k", "m")
    val m2 = Seq((1L, Map("y" -> 2, "x" -> 1))).toDF("k", "m")
    val st = graft.engine.Dedup.tableDiff(m1, m2, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(st === Map(1L -> "unchanged"), "same logical map must hash equal")
    val bad = Seq((1L, "u", 5L)).toDF("event_id", "user_id", "__side")
    val r = Seq((2L, "u", 3L, 1.0)).toDF("event_id", "user_id", "ts", "value")
    val e = intercept[IllegalArgumentException] {
      graft.operators.AsOfJoin.asofNearest(bad, r, Seq("user_id"), "ts",
        Map("value" -> "v"))
    }
    assert(e.getMessage.contains("__side"))
  }

  test("dedupSurvivors keeps the canonical doc per cluster plus unpaired docs") {
    val d = Seq((1L, "s"), (2L, "s"), (3L, "s"), (7L, "s")).toDF("doc_id", "source")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val got = graft.operators.Graph
      .dedupSurvivors(d, "doc_id", pairs, "doc_a", "doc_b")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 7L)) // 2,3 fold into cluster 1; 7 untouched
  }

  test("range join matches the naive BETWEEN join, incl. multi-bucket spans") {
    val points = Seq((1L, 0L), (2L, 5L), (3L, 7L), (4L, 19L), (5L, 20L), (6L, 100L))
      .toDF("pid", "t")
    // intervals: [0,7) single-bucket, [5,25) spans 3+ buckets (width 7),
    // [20,21) point-width, [50,50) empty (lo == hi, must drop)
    val ivals = Seq((10L, 0L, 7L), (20L, 5L, 25L), (30L, 20L, 21L), (40L, 50L, 50L))
      .toDF("iid", "lo_t", "hi_t")
    val got = graft.engine.Joins
      .rangeJoin(points, col("t"), ivals, col("lo_t"), col("hi_t"), bucketWidth = 7)
      .select(col("pid"), col("iid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = points.crossJoin(ivals)
      .filter(col("t") >= col("lo_t") && col("t") < col("hi_t"))
      .select(col("pid"), col("iid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(naive.nonEmpty && got === naive)
    assert(got.contains((5L, 20L)) && got.contains((5L, 30L))) // multi-match point
    assert(!got.exists(_._2 == 40L))                           // empty interval
  }

  test("range join handles negative points/bounds (floor-div bucketing)") {
    val points = Seq((1L, -15L), (2L, -7L), (3L, -1L), (4L, 0L), (5L, 3L))
      .toDF("pid", "t")
    // [-10, 5) straddles zero across buckets; [-20, -14) fully negative
    val ivals = Seq((10L, -10L, 5L), (20L, -20L, -14L)).toDF("iid", "lo_t", "hi_t")
    val got = graft.engine.Joins
      .rangeJoin(points, col("t"), ivals, col("lo_t"), col("hi_t"), bucketWidth = 7)
      .select(col("pid"), col("iid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = points.crossJoin(ivals)
      .filter(col("t") >= col("lo_t") && col("t") < col("hi_t"))
      .select(col("pid"), col("iid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(naive === Set((1L, 20L), (2L, 10L), (3L, 10L), (4L, 10L), (5L, 10L)))
    assert(got === naive)
  }

  test("range join rejects inputs using its reserved internal column prefix") {
    val points = Seq((1L, 2L)).toDF("pid", "__graft_rj_pt")
    val ivals = Seq((1L, 0L, 5L)).toDF("iid", "lo_t", "hi_t")
    val e = intercept[IllegalArgumentException] {
      graft.engine.Joins.rangeJoin(points, col("__graft_rj_pt"),
        ivals, col("lo_t"), col("hi_t"), 7)
    }
    assert(e.getMessage.contains("__graft_rj_"))
  }

  test("bloom semi-join rejects mismatched key types instead of dropping rows") {
    val probe = Seq(1, 2, 3).toDF("k")                 // INT
    val build = Seq(1L, 2L).toDF("bk")                 // BIGINT
    val e = intercept[IllegalArgumentException] {
      graft.engine.Joins.bloomSemiJoin(probe, col("k"), build, col("bk"), 100L)
    }
    assert(e.getMessage.contains("identical types"))
    // casting to a common type restores the exact-semi-join contract
    val got = graft.engine.Joins
      .bloomSemiJoin(probe, col("k").cast("long"), build, col("bk"), 100L)
      .collect().map(_.getInt(0)).toSet
    assert(got === Set(1, 2))
  }

  test("TopKPerGroup partial phase degrades to pass-through past its row budget") {
    import graft.plans.TopKPerGroupPartialExec
    // many groups × few rows: budget of 4 buffered rows forces the
    // partial phase to pass most rows through; the final phase must
    // still produce the exact per-group top-k. The budget is set on the
    // physical plan, which is built with AQE off so the tree is plain.
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    val plan = try {
      val df = spark.range(200).selectExpr(
        "id % 50 as g", "id as v").repartition(2)
      graft.engine.Ranking.topKPerGroup(df, Seq("g"), Seq("v" -> false), 2)
        .queryExecution.executedPlan
    } finally spark.conf.set(aqe, prev)
    val budgeted = plan.transform {
      case p: TopKPerGroupPartialExec => p.copy(maxBuffered = 4)
    }
    assert(budgeted.collect { case p: TopKPerGroupPartialExec => p.maxBuffered } === Seq(4L))
    val got = budgeted.executeCollect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expect = (0L until 50L).flatMap { g =>
      val vs = (0L until 200L).filter(_ % 50 == g).sorted(Ordering[Long].reverse).take(2)
      vs.zipWithIndex.map { case (v, i) => (g, v, (i + 1).toLong) }
    }.toSet
    assert(got === expect)
  }

  test("bloom semi-join equals the exact semi join; empty build side is empty") {
    val probe = (1L to 200L).map(i => (i, s"p$i")).toDF("k", "payload")
    val build = Seq(3L, 7L, 150L, 999L).toDF("bk")
    val got = graft.engine.Joins
      .bloomSemiJoin(probe, col("k"), build, col("bk"), expectedItems = 1000L)
      .select(col("k")).collect().map(_.getLong(0)).toSet
    assert(got === Set(3L, 7L, 150L))
    val empty = graft.engine.Joins.bloomSemiJoin(
      probe, col("k"), build.filter(col("bk") < 0), col("bk"), 1000L)
    assert(empty.count() === 0L)
  }

  test("custom TopKPerGroup operator matches the window idiom, two-phase plan") {
    import org.apache.spark.sql.expressions.Window
    val orders = Sources.table(spark, sfDir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
    val got = graft.engine.Ranking.topKPerGroup(orders,
      Seq("o_orderpriority"), Seq("o_totalprice" -> false, "o_orderkey" -> true), 3)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroupFinal") && plan.contains("TopKPerGroupPartial"),
      s"expected the custom two-phase operator:\n$plan")
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val expect = orders.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))
    assert(got.collect().map(key).toSet === expect.collect().map(key).toSet)
  }

  test("optimizer rewrites the row_number window idiom into TopKPerGroup") {
    import org.apache.spark.sql.expressions.Window
    val li = Sources.table(spark, sfDir, "lineitem")
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
    val idiom = li.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
    val plan = idiom.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroupFinal") && !plan.contains("WindowExec"),
      s"rewrite should have replaced the window:\n$plan")
    // results identical to the un-rewritten idiom (windows survive when
    // no rank bound exists, so build the expected set via collect+group)
    val got = idiom.select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("rn"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    val expect = li.select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .collect()
      .groupBy(_.getLong(0)).toSeq.flatMap { case (sk, rows) =>
        rows.sortBy(r => (-r.getDouble(3), r.getLong(1), r.getInt(2))).take(2).zipWithIndex
          .map { case (r, i) => (sk, r.getLong(1), r.getInt(2), i + 1) }
      }.toSet
    assert(got === expect)
  }

  test("TopKPerGroup keeps all rows when k exceeds the group size") {
    val df = Seq(("a", 1L, 5.0), ("a", 2L, 3.0), ("b", 3L, 9.0))
      .toDF("g", "id", "v")
    val got = graft.engine.Ranking.topKPerGroup(
        df, Seq("g"), Seq("v" -> false, "id" -> true), 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
    assert(got === Set(("a", 1L, 1L), ("a", 2L, 2L), ("b", 3L, 1L)))
  }

  test("foreachBatch streaming upsert sink: converges to batch latest-by-key, idempotent") {
    val target = java.nio.file.Files.createTempDirectory("upsert_t").toString + "/t"
    val keys = Seq("user_id", "event_type")
    def runOnce(): Unit = EventStream.upsertStreamToTable(
      EventStream.readEvents(spark, sfDir), keys, "event_id", target)
    runOnce()
    val expect = graft.engine.Dedup.latestByKey(
        Sources.table(spark, sfDir, "events"), keys, Seq(col("event_id")))
      .select(col("user_id"), col("event_type"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    def readBack() = spark.read.parquet(target)
      .select(col("user_id"), col("event_type"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(readBack() === expect)
    runOnce() // re-ingesting the same data must not change the table
    assert(readBack() === expect)
  }

  test("watermarked stream dedup: one row per key when batch has no late dupes") {
    val deduped = EventStream.dedupedStream(
      EventStream.readEvents(spark, sfDir), Seq("user_id", "event_type"), "1 hour")
    val name = "dd_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    val perKey = spark.table(name).groupBy(col("user_id"), col("event_type"))
      .count().agg(max(col("count"))).collect().head.getLong(0)
    assert(perKey === 1L, "watermarked dedup must emit each key once")
  }

  test("streaming dedup summary equals batch DISTINCT (q131 shape)") {
    // survivor identity is arrival-order dependent; the surviving KEY SET
    // is not — runDedupOnce's summary must equal batch distinct-key counts
    val streamed = EventStream.runDedupOnce(spark, sfDir).collect().toSeq
    val batch = Sources.table(spark, sfDir, "events")
      .select(col("user_id"), col("event_type"),
        date_format(col("ts_utc"), "yyyy-MM-dd").as("day"))
      .distinct()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_keys"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("day")).as("n_days"))
      .orderBy(col("event_type").asc)
      .collect().toSeq
    assert(streamed === batch)
  }

  test("streaming dedup is state-store-backend agnostic (RocksDB = default)") {
    // the default HDFSBackedStateStore keeps state on-heap — fine for a
    // gate fixture, memory-bound at 100 TB key cardinalities. RocksDB is
    // the cluster-scale backend (off-heap, spillable, incremental
    // checkpoints); the streamed result must be identical under both.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    val rocks = try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      EventStream.runDedupOnce(spark, sfDir).collect().toSeq
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val default = EventStream.runDedupOnce(spark, sfDir).collect().toSeq
    assert(rocks === default)
  }

  test("exact-state streaming user stats are bit-identical to batch (q132 shape)") {
    // not approximate: BigDecimal state + identical post-expressions
    // must reproduce the batch decimal aggregation exactly
    val streamed = EventStream.runUserStatsExactOnce(spark, sfDir).collect().toSeq
    val v6 = col("value").cast("decimal(18,6)")
    val meanRaw = col("sv").cast("double") / col("n_events")
    val varRaw = greatest(
      col("sq").cast("double") / col("n_events") - meanRaw * meanRaw, lit(0.0))
    val batch = Sources.table(spark, sfDir, "events")
      .filter(graft.engine.Cleaning.notMissing(col("value")))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(v6).as("sv"), sum(v6 * v6).as("sq"))
      .select(col("user_id"), col("n_events"),
        graft.engine.Aggregates.round6Portable(meanRaw).as("mean_value"),
        graft.engine.Aggregates.round6Portable(sqrt(varRaw)).as("stddev_value"))
      .orderBy(col("user_id").asc)
      .collect().toSeq
    assert(streamed === batch)
  }

  test("text normalization: NFD and NFC forms of the same text get one dedup key") {
    // "café" with precomposed é (U+00E9) vs e + combining acute (U+0301),
    // plus casing/punctuation/whitespace noise; the letter must SURVIVE
    // normalization (every script's letters are kept) so key equality
    // proves the NFC expression, not accent-stripping
    val d = Seq(
      (1L, "Cafe\u0301 society!"),          // NFD: e + combining acute
      (2L, "caf\u00e9   SOCIETY?"),          // NFC: precomposed e-acute
      (3L, "something else")).toDF("doc_id", "text")
    val keys = d.select(col("doc_id"),
        md5(TextAnalysis.normalizeText(col("text"))).as("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(keys(1L) === keys(2L), "NFD/NFC + case/punct noise must collapse")
    assert(keys(1L) !== keys(3L))
  }

  test("SQL surface: injected functions work through pure spark.sql") {
    Sources.table(spark, sfDir, "embeddings").createOrReplaceTempView("emb_v")
    val sqlKnn = spark.sql(
      """SELECT vec_id,
                round(sqrt(graft_dot(CAST(embedding AS ARRAY<DOUBLE>),
                                     CAST(embedding AS ARRAY<DOUBLE>))), 6) AS l2,
                graft_nfc('Café') AS norm
         FROM emb_v WHERE vec_id < 3 ORDER BY vec_id""").collect()
    assert(sqlKnn.length === 3)
    val apiNorms = Similarity.norms(Sources.table(spark, sfDir, "embeddings"))
      .filter(col("vec_id") < 3).orderBy(col("vec_id"))
      .collect().map(r => BigDecimal(r.getDouble(2))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(sqlKnn.map(_.getDouble(1)).toSeq === apiNorms.toSeq)
    assert(sqlKnn.forall(_.getString(2) === "café"),
      "graft_nfc in SQL must compose NFC + simple lowercase")
    // the custom TypedImperativeAggregate is a plain SQL aggregate too
    val hh = spark.sql(
      """SELECT inline(graft_heavy_hitters(lang, 8))
         FROM (SELECT lang FROM parquet.`/root/testdata/sf0.001/documents.parquet`)""")
      .collect()
    assert(hh.nonEmpty && hh.forall(_.getLong(1) > 0))
  }

  test("normalization lowercases with SIMPLE per-codepoint mapping (engine-portable)") {
    // full casing maps final-position \u03a3 to \u03c2 and \u0130 to i+combining
    // dot; utf8proc engines (the oracle) use the simple 1:1 mapping
    val d = Seq((1L, "\u03a3\u039f\u03a6\u0399\u0391\u03a3"), (2L, "\u0130stanbul")).toDF("doc_id", "text")
    val norm = d.select(col("doc_id"),
        TextAnalysis.normalizeText(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(norm(1L) === "\u03c3\u03bf\u03c6\u03b9\u03b1\u03c3",
      "final sigma must use the simple mapping \u03c3, not \u03c2")
    assert(norm(2L) === "istanbul" && norm(2L).length === 8,
      "dotted \u0130 must map to plain i, not i + combining dot")
  }

  test("deterministic upsample: copy counts are rate-shaped and rerun-stable") {
    val d = Sources.table(spark, sfDir, "documents")
    val rates = Map("src3" -> 2.5, "src7" -> 1.0)
    def run() = graft.operators.Sampling.deterministicUpsample(
        d, col("doc_id"), col("source"), rates, "t-v1")
      .select(col("doc_id"), col("source"), col("copy_no"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val a = run()
    assert(a === run(), "pure function of (id, salt): rerun-identical")
    val bySrc = a.groupBy(_._2)
    // rate 1.0: exactly one copy per doc; rate 2.5: every doc 2 or 3 copies
    assert(bySrc("src7").forall(_._3 == 1L))
    val s3 = bySrc("src3").groupBy(_._1).view.mapValues(_.size)
    assert(s3.values.forall(n => n == 2 || n == 3))
    val total = s3.values.sum.toDouble / s3.size
    assert(total > 2.2 && total < 2.8, s"mean copies $total should approach 2.5")
    assert(!a.exists(_._2 == "src0"), "absent groups drop (rate 0)")
  }

  test("deterministic mix: rerun-stable, rate-accurate, salt-decorrelated") {
    val d = Sources.table(spark, sfDir, "documents")
    def ids(salt: String) = Sampling.deterministicMix(
        d, col("doc_id"), col("source"),
        (0 until 20).map(i => s"src$i" -> 0.5).toMap, salt)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val a = ids("s1")
    assert(a === ids("s1"), "same salt must select the identical subset")
    val b = ids("s2")
    val n = d.count().toDouble
    assert(math.abs(a.size / n - 0.5) < 0.1, s"rate off: ${a.size / n}")
    // independent salts overlap ≈ rate² = 25%, far from 50%
    assert(math.abs(a.intersect(b).size / n - 0.25) < 0.1)
  }

  test("frame sampling emits the right nested frame array") {
    val d = docsOf(1L -> ("x" * 5000))  // 5000 bytes → 5 frames, sample 0 and 4
    val r = Multimodal.sampleFrames(spark, d, frameSize = 1024, every = 4)
      .collect().head
    assert(r.getAs[Long]("n_frames") === 5L)
    assert(r.getAs[Long]("n_sampled") === 2L)
    val frames = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("frames")
    assert(frames.map(f => (f.getLong(0), f.getLong(1), f.getLong(2))).toSeq ===
      Seq((0L, 0L, 1024L), (4L, 4096L, 904L)))
    assert(r.getAs[Long]("sampled_bytes") === 1024L + 904L)
  }

  test("z-ordered layout gives per-file locality on BOTH columns") {
    import graft.engine.ZOrder
    val li = Sources.table(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    def avgFileRange(path: String): (Double, Double) = {
      val perFile = spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg((max(col("l_orderkey")) - min(col("l_orderkey"))).as("ro"),
          (max(col("l_partkey")) - min(col("l_partkey"))).as("rp"))
        .agg(avg(col("ro")), avg(col("rp"))).collect().head
      (perFile.getDouble(0), perFile.getDouble(1))
    }
    val base = java.nio.file.Files.createTempDirectory("zorder").toString
    // baseline: single-column sort — perfect on orderkey, useless on partkey
    li.sort(col("l_orderkey")).write.mode("overwrite")
      .option("maxRecordsPerFile", 500L).parquet(s"$base/by_order")
    ZOrder.zOrderedWrite(li, col("l_orderkey"), col("l_partkey"), bits = 16,
      s"$base/by_z", maxRecordsPerFile = 500)
    val (oRangeSorted, pRangeSorted) = avgFileRange(s"$base/by_order")
    val (oRangeZ, pRangeZ) = avgFileRange(s"$base/by_z")
    // area per file is layout-invariant (~total/nFiles); what z-order
    // changes is the SHAPE: the single-column sort gives a thin slab
    // (tiny orderkey range, full partkey range), z-order a square-ish
    // rectangle — BOTH ranges well below the full dimension width.
    val fullO = li.agg(max(col("l_orderkey")) - min(col("l_orderkey")))
      .collect().head.getLong(0).toDouble
    val fullP = li.agg(max(col("l_partkey")) - min(col("l_partkey")))
      .collect().head.getLong(0).toDouble
    assert(pRangeSorted > 0.8 * fullP,
      s"sorted baseline should have ~full partkey range: $pRangeSorted vs $fullP")
    assert(pRangeZ < 0.55 * fullP,
      s"partkey range/file: z=$pRangeZ vs full=$fullP")
    assert(oRangeZ < 0.55 * fullO,
      s"orderkey range/file: z=$oRangeZ vs full=$fullO")
    assert(oRangeSorted < oRangeZ, "single-column sort stays best on its own key")
  }

  test("3-column z-order bounds every column's per-file range") {
    import graft.engine.ZOrder
    val li = Sources.table(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    val base = java.nio.file.Files.createTempDirectory("zorder3").toString
    ZOrder.zOrderedWriteN(li,
      Seq(col("l_orderkey"), col("l_partkey"), col("l_suppkey")), bits = 12,
      s"$base/z3", maxRecordsPerFile = 250)
    val per = spark.read.parquet(s"$base/z3")
      .groupBy(input_file_name())
      .agg((max(col("l_orderkey")) - min(col("l_orderkey"))).as("ro"),
        (max(col("l_partkey")) - min(col("l_partkey"))).as("rp"),
        (max(col("l_suppkey")) - min(col("l_suppkey"))).as("rs"))
      .agg(avg(col("ro")), avg(col("rp")), avg(col("rs"))).collect().head
    def full(c: String): Double =
      li.agg(max(col(c)) - min(col(c))).collect().head.getLong(0).toDouble
    // a single-column sort leaves two of the three at ~full range; the
    // 3-way interleave must keep ALL of them clearly below full width
    assert(per.getDouble(0) < 0.7 * full("l_orderkey"),
      s"orderkey range/file ${per.getDouble(0)}")
    assert(per.getDouble(1) < 0.7 * full("l_partkey"),
      s"partkey range/file ${per.getDouble(1)}")
    assert(per.getDouble(2) < 0.7 * full("l_suppkey"),
      s"suppkey range/file ${per.getDouble(2)}")
  }

  test("compact rewrites a many-file table into few files, data intact") {
    val base = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    val d = Sources.table(spark, sfDir, "orders").select(col("o_orderkey"))
    d.repartition(40).write.mode("overwrite").parquet(base)  // small-files mess
    def files() = new java.io.File(base).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    val before = spark.read.parquet(base).collect().map(_.getLong(0)).sorted.toSeq
    assert(files() >= 40)
    Sources.compact(spark, base, rowsPerFile = 1000)
    assert(files() <= (before.size / 1000 + 1))
    val after = spark.read.parquet(base).collect().map(_.getLong(0)).sorted.toSeq
    assert(after === before)
  }

  test("pure-SQL surface: registered views answer a join query end to end") {
    Sources.registerTables(spark, sfDir)
    val got = spark.sql(
      """SELECT r_name, count(*) AS n
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""").collect()
    assert(got.length === 5 && got.map(_.getLong(1)).sum === 25)
  }

  test("checkpointed file stream resumes exactly-once: no reprocess, new files only") {
    val base = java.nio.file.Files.createTempDirectory("ckpt")
    val (src, out, ck) = (s"$base/src", s"$base/out", s"$base/ck")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    def addFile(n: String): Unit = java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(s"$src/$n"))
    def runOnce(): Unit = {
      val q = spark.readStream.schema(Sources.events).parquet(src)
        .select(col("event_id"), col("user_id"))
        .writeStream.format("parquet")
        .option("checkpointLocation", ck).option("path", out)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    addFile("p1.parquet")
    runOnce()
    val n1 = spark.read.parquet(out).count()
    assert(n1 > 0)
    runOnce() // same source state: the checkpoint must prevent reprocessing
    assert(spark.read.parquet(out).count() === n1)
    addFile("p2.parquet") // a NEW file is exactly the increment processed
    runOnce()
    assert(spark.read.parquet(out).count() === 2 * n1)
  }

  test("bm25: scores rank multi-term high-tf docs first, n_terms counts matches") {
    val d = docsOf(
      1L -> "spark spark spark join alpha",
      2L -> "spark alpha beta gamma delta",
      3L -> "alpha beta gamma delta epsilon")
    val got = Retrieval.bm25TopK(d, Seq("spark", "join"), k = 10).collect()
    assert(got.map(_.getAs[Long]("doc_id")).toSeq === Seq(1L, 2L),
      "doc 3 matches nothing and must be absent; doc 1 outranks doc 2")
    assert(got.head.getAs[Long]("n_terms") === 2L)
    assert(got(1).getAs[Long]("n_terms") === 1L)
    val scores = got.map(_.getAs[Double]("score"))
    assert(scores.sameElements(scores.sorted(Ordering[Double].reverse)))
  }

  test("bm25: closed-form score on a one-doc corpus") {
    // N=1, df=1 → idf = ln(1 + 0.5/1.5); tf=1, dl=2=avgdl →
    // norm = (k1+1)/(1 + k1·(1−b+b)) = 1, so score = round6(idf)
    val got = Retrieval.bm25TopK(docsOf(1L -> "a b"), Seq("a"), k = 1).collect()
    assert(got.length === 1)
    val expected = BigDecimal(math.log(1.0 + 0.5 / 1.5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.head.getAs[Double]("score") === expected)
  }

  test("chunking: stride windows cover every token; tail chunk is short") {
    val text100 = (1 to 100).map(i => s"t$i").mkString(" ")
    val chunks = TextAnalysis.chunkTokens(docsOf(1L -> text100), 50, 40)
      .orderBy(col("chunk_id")).collect()
    assert(chunks.map(_.getAs[Long]("chunk_id")).toSeq === Seq(0L, 1L, 2L))
    assert(chunks.map(_.getAs[Long]("n_tokens")).toSeq === Seq(50L, 50L, 20L))
    // every token index is inside at least one [start, start+50) window
    // when stride ≤ size: total coverage ≥ n_tokens
    assert(chunks.map(_.getAs[Long]("n_tokens")).sum >= 100L)
    // first chunk hash = md5 of tokens 1..50 verbatim
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest((1 to 50).map(i => s"t$i").mkString(" ").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(chunks.head.getAs[String]("chunk_hash") === h)
  }

  test("chunking: a doc shorter than the chunk size is its own single chunk") {
    val got = TextAnalysis.chunkTokens(docsOf(1L -> "x y z"), 50, 40).collect()
    assert(got.length === 1 && got.head.getAs[Long]("n_tokens") === 3L)
  }

  test("redact: scrubs the pattern, counts matches, leaves the rest") {
    val got = TextAnalysis.redact(docsOf(1L -> "customer pays order for value"),
      "\\b(customer|order)\\b", "[PII]").collect().head
    assert(got.getAs[Long]("n_redacted") === 2L)
    assert(got.getAs[String]("text") === "[PII] pays [PII] for value")
  }

  test("fuzzy pairs: delete-one blocking finds exactly the distance-1 pairs") {
    val toks = Seq("the", "teh", "thee", "spark", "spork", "zebra")
      .toDF("tok")
    val got = Fuzzy.editDistanceOnePairs(toks, "tok")
      .collect().map(r => (r.getAs[String]("tok_a"), r.getAs[String]("tok_b"))).toSet
    // brute-force ground truth over the same set
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val vocab = Seq("the", "teh", "thee", "spark", "spork", "zebra")
    val expected = (for (a <- vocab; b <- vocab if a < b && lev(a, b) <= 1)
      yield (a, b)).toSet
    assert(got === expected, s"got $got expected $expected")
    assert(expected.contains(("spark", "spork")) && expected.contains(("the", "thee")))
  }

  test("funnel: stage membership requires strict event order") {
    val ev = Seq(
      // user 1: view(1) → click(2) → purchase(3): all 3 stages
      (1L, 1L, "view"), (2L, 1L, "click"), (3L, 1L, "purchase"),
      // user 2: click BEFORE first view — click stage not reached
      (4L, 2L, "click"), (5L, 2L, "view"),
      // user 3: view then purchase but no click — purchase not reached
      (6L, 3L, "view"), (7L, 3L, "purchase"))
      .toDF("event_id", "user_id", "event_type")
    // exercise the same join-chain shape directly (SparkEntry.q90 binds
    // to the fixture dir; here we reproduce its logic on literal rows)
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("event_id")).as("e1"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("event_id") > col("e1"))
      .groupBy(col("user_id")).agg(min(col("event_id")).as("e2"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("event_id") > col("e2"))
      .groupBy(col("user_id")).agg(min(col("event_id")).as("e3"))
    assert(v.count() === 3 && c.count() === 1 && p.count() === 1)
    assert(c.collect().head.getAs[Long]("user_id") === 1L)
  }

  test("exact-moment correlation agrees with built-in corr to float tolerance") {
    import org.apache.spark.sql.types.DecimalType
    val df = Sources.table(spark, sfDir, "lineitem")
    val builtin = df.groupBy(col("l_returnflag"))
      .agg(corr(col("l_quantity"), col("l_extendedprice")).as("c"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val d38 = DecimalType(38, 12)
    def dbl(c: String) = col(c).cast("double")
    val exact = df.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(d38)).as("sx"),
        sum(col("l_extendedprice").cast(d38)).as("sy"),
        sum((col("l_quantity") * col("l_extendedprice")).cast(d38)).as("sxy"),
        sum((col("l_quantity") * col("l_quantity")).cast(d38)).as("sxx"),
        sum((col("l_extendedprice") * col("l_extendedprice")).cast(d38)).as("syy"))
      .select(col("l_returnflag"),
        (((col("n") * dbl("sxy")) - (dbl("sx") * dbl("sy"))) /
          (sqrt((col("n") * dbl("sxx")) - (dbl("sx") * dbl("sx"))) *
           sqrt((col("n") * dbl("syy")) - (dbl("sy") * dbl("sy"))))).as("c"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    exact.foreach { case (k, v) =>
      assert(math.abs(v - builtin(k)) < 1e-9, s"flag $k: exact $v vs builtin ${builtin(k)}")
      assert(v >= -1.0 && v <= 1.0)
    }
  }

  test("min-gap thinning keeps spaced events and drops rapid-fire ones") {
    // µs domain — the SAME unit and 60 s constant q94 runs in, so a
    // regression in the production gap literal is visible here
    val us = 1000000L
    val ev = Seq(
      (1L, 1L, 0L * us), (2L, 1L, 10L * us), (3L, 1L, 70L * us),   // gap 10s dropped, 60s kept
      (4L, 2L, 0L * us), (5L, 2L, 60L * us), (6L, 2L, 120L * us))  // all kept
      .toDF("event_id", "user_id", "ts")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val kept = ev.withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(count(when(col("prev_ts").isNull ||
        col("ts") - col("prev_ts") >= lit(60000000L), lit(1))).as("n_kept"))
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_kept")).toMap
    assert(kept === Map(1L -> 2L, 2L -> 3L))
  }

  test("k-core peel: paths dissolve, cycles survive, cliques keep full degree") {
    // 2-core of a path is empty: endpoints peel, exposing new endpoints
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    assert(Graph.kCoreFixedRounds(path, "a", "b", k = 2, rounds = 4)
      .count() === 0)
    // a cycle IS its own 2-core (every node degree exactly 2)
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    val c = Graph.kCoreFixedRounds(cycle, "a", "b", k = 2, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c === Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
    // K4 plus a pendant chain: the chain peels, the clique stays at k=3
    val k4tail = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val k3 = Graph.kCoreFixedRounds(k4tail, "a", "b", k = 3, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(k3 === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // idempotence past convergence: extra rounds change nothing
    val more = Graph.kCoreFixedRounds(k4tail, "a", "b", k = 3, rounds = 9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(more === k3)
    // orientation/duplicate noise is canonicalized away
    val messy = Seq((2L, 1L), (1L, 2L), (3L, 1L), (4L, 1L), (3L, 2L),
      (4L, 2L), (4L, 3L), (5L, 4L), (6L, 5L)).toDF("a", "b")
    val m = Graph.kCoreFixedRounds(messy, "a", "b", k = 3, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === k3)
  }

  test("count-min estimates dominate exact counts (q148 invariant)") {
    val r = SparkEntry.queries("q148_count_min")(spark, sfDir).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getAs[Long]("cms_est") >= row.getAs[Long]("exact_n"),
        s"CMS must never undercount: $row")
      assert(row.getAs[Long]("overcount") ===
        row.getAs[Long]("cms_est") - row.getAs[Long]("exact_n"))
    }
  }

  test("triangle counts: K4 gives every node 3 triangles; paths give none") {
    // K4 on {1,2,3,4}: C(4,3)=4 triangles, each node in C(3,2)=3
    val k4 = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L)).toDF("s","d")
    val got = Graph.triangleCounts(k4, "s", "d")
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("n_triangles")).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // orientation-independence: reversed/duplicated edges change nothing
    val messy = Seq((2L,1L),(1L,3L),(4L,1L),(3L,2L),(2L,4L),(3L,4L),(1L,2L)).toDF("s","d")
    val got2 = Graph.triangleCounts(messy, "s", "d")
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("n_triangles")).toMap
    assert(got2 === got)
    val path = Seq((1L,2L),(2L,3L),(3L,4L)).toDF("s","d")
    assert(Graph.triangleCounts(path, "s", "d").count() === 0)
  }

  test("watermarked streaming agg runs (state-bounded variant)") {
    val agg = EventStream.hourlyAgg(
      EventStream.readEvents(spark, sfDir).withWatermark("ts_utc", "2 hours"))
    val name = "wm_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    // append mode emits only watermark-closed windows; with a 2h watermark
    // all but the final windows close
    assert(spark.table(name).count() > 0)
  }

  test("wordNgrams emits every positional n-gram; short docs emit none") {
    val d = docsOf(1L -> "a b c d", 2L -> "x")
    val grams = TextAnalysis.wordNgrams(d, 2).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(grams.toSet === Set((1L, "a b"), (1L, "b c"), (1L, "c d")))
    // duplicates preserved per POSITION
    val rep = TextAnalysis.wordNgrams(docsOf(3L -> "a b a b a"), 2)
      .collect().map(_.getString(1))
    assert(rep.sorted.toSeq === Seq("a b", "a b", "b a", "b a"))
  }

  test("ngram contamination: leaked passage flagged, clean doc absent") {
    val evalSet = docsOf(100L -> "the quick brown fox jumps over the lazy dog")
    val train = docsOf(
      1L -> "intro text then the quick brown fox jumps over the fence", // shares 5-grams
      2L -> "completely unrelated content with no overlap at all here")
    val out = TextAnalysis.ngramContamination(train, evalSet, 5)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_contaminated"))).toMap
    // doc 1 shares "the quick brown fox jumps", "quick brown fox jumps
    // over" and "brown fox jumps over the" verbatim with the eval doc
    assert(out(1L)._2 === 3L)
    assert(out(2L)._2 === 0L)
    assert(out(1L)._1 === 7L) // 11 tokens → 7 distinct 5-grams
  }

  test("packedSpans: offsets accumulate in order, chunk spans cross boundaries") {
    val d = Seq(("s", 1L, 100L), ("s", 2L, 200L), ("s", 3L, 30L),
                ("t", 9L, 300L))
      .toDF("source", "doc_id", "n_tokens")
    val out = Packing.packedSpans(d, "source", "doc_id", col("n_tokens"), 128)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getAs[Long]("tok_offset"), r.getAs[Long]("first_chunk"),
         r.getAs[Long]("last_chunk"))).toMap
    assert(out(("s", 1L)) === ((0L, 0L, 0L)))    // [0, 100)   → chunk 0
    assert(out(("s", 2L)) === ((100L, 0L, 2L)))  // [100, 300) → chunks 0-2
    assert(out(("s", 3L)) === ((300L, 2L, 2L)))  // [300, 330) → chunk 2
    assert(out(("t", 9L)) === ((0L, 0L, 2L)))    // groups pack independently
  }

  test("adjacent pair counts preserve multiplicity and direction") {
    val out = TextAnalysis.adjacentPairCounts(docsOf(1L -> "a b a b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("a b" -> 2L, "b a" -> 1L))
  }

  test("cooccurrence lift: perfectly coupled tokens score n_docs/df") {
    // x and y always co-occur (2 of 4 docs); z co-occurs with them once
    val d = docsOf(1L -> "x y p q", 2L -> "x y z r", 3L -> "z s t u", 4L -> "v w s p")
    val out = TextAnalysis.cooccurrenceLift(d, vocabSize = 50, minPairDf = 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("df_ab"), r.getAs[Double]("lift"))).toMap
    // lift(x,y) = N·df_ab/(df_a·df_b) = 4·2/(2·2) = 2.0
    assert(out(("x", "y")) === ((2L, 2.0)))
    // lift(x,z) = 4·1/(2·2) = 1.0 (independent-looking)
    assert(out(("x", "z")) === ((1L, 1.0)))
  }

  test("cooccurrence lift: vocabulary bound caps the pair universe") {
    val d = Sources.table(spark, sfDir, "documents")
    val vocabOnly = TextAnalysis.cooccurrenceLift(d, vocabSize = 10, minPairDf = 1L)
      .select(explode(array(col("tok_a"), col("tok_b"))).as("t")).distinct().count()
    assert(vocabOnly <= 10)
  }

  test("fitLineExact recovers a perfect line; degenerate x yields NULLs") {
    import graft.engine.SlopeOLS
    val pts = Seq(("g", 1.0, 3.0), ("g", 2.0, 5.0), ("g", 3.0, 7.0),
                  ("v", 2.0, 1.0), ("v", 2.0, 9.0)) // vertical: var x = 0
      .toDF("k", "x", "y")
    val fit = SlopeOLS.fitLineExact(pts, Seq("k"), col("x"), col("y"), minN = 1)
      .collect().map(r => r.getString(0) ->
        (Option(r.get(r.fieldIndex("slope"))), Option(r.get(r.fieldIndex("intercept"))),
         Option(r.get(r.fieldIndex("r2"))))).toMap
    assert(fit("g") === ((Some(2.0), Some(1.0), Some(1.0)))) // y = 2x + 1 exactly
    assert(fit("v") === ((None, None, None)))
  }

  test("token gini: concentration lowers diversity; uniform tokens maximize it") {
    val out = TextAnalysis.tokenGini(docsOf(
        1L -> "a a b",       // p = (2/3, 1/3) → 1 − 5/9
        2L -> "a b c",       // uniform → 1 − 3/9
        3L -> "a a a a"))    // single token → 0
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_distinct"),
         r.getAs[Double]("gini"))).toMap
    assert(out(1L) === ((3L, 2L, 1.0 - 5.0 / 9.0)))
    assert(out(2L) === ((3L, 3L, 1.0 - 3.0 / 9.0)))
    assert(out(3L) === ((4L, 1L, 0.0)))
  }

  test("vocab jaccard: overlap ratio from exact set sizes") {
    val d = Seq((1L, "a b c d", "s1"), (2L, "c d e f", "s2"), (3L, "x y", "s3"))
      .toDF("doc_id", "text", "source").withColumn("lang", lit("en"))
    val out = TextAnalysis.vocabJaccardMatrix(d, "source")
      .collect().map(r => (r.getAs[String]("g_a"), r.getAs[String]("g_b")) ->
        (r.getAs[Long]("n_common"), r.getAs[Double]("jaccard"))).toMap
    // s1={a,b,c,d}, s2={c,d,e,f}: ∩=2, ∪=6 → 1/3; s3 shares nothing → absent
    assert(out === Map(("s1", "s2") -> ((2L, 2.0 / 6.0))))
  }

  test("ks2Sample: identical samples give D=0, disjoint ranges give D=1") {
    import graft.engine.Aggregates
    def ks(rows: Seq[(Double, Boolean)]): (Long, Long, Double) = {
      val r = Aggregates.ks2Sample(rows.toDF("value", "is_a"),
        col("value"), col("is_a"), v => floor(v).cast("long")).head()
      (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Double]("ks_d"))
    }
    val same = ks(Seq(1.0 -> true, 2.0 -> true, 1.0 -> false, 2.0 -> false))
    assert(same === ((2L, 2L, 0.0)))
    val disjoint = ks(Seq(1.0 -> true, 2.0 -> true, 11.0 -> false, 12.0 -> false))
    assert(disjoint === ((2L, 2L, 1.0)))
    // interleaved: A={1,3}, B={2,4} → max gap 1/2 (after 1, after 3)
    val inter = ks(Seq(1.0 -> true, 3.0 -> true, 2.0 -> false, 4.0 -> false))
    assert(inter === ((2L, 2L, 0.5)))
  }

  test("ks2Sample agrees with a single-window reference on fixture events") {
    import graft.engine.Aggregates
    import org.apache.spark.sql.expressions.Window
    val ev = Sources.table(spark, sfDir, "events")
      .filter(col("value").isNotNull && !isnan(col("value")))
      .filter(col("event_type").isin("view", "click"))
    val fast = Aggregates.ks2Sample(ev, col("value"),
      col("event_type") === "view", v => floor(v).cast("long")).head()
    // reference: one global cumulative window (fine at spec scale)
    val per = ev.groupBy(col("value").as("v"))
      .agg(count(when(col("event_type") === "view", 1)).as("ca"),
        count(when(col("event_type") === "click", 1)).as("cb"))
    val w = Window.orderBy(col("v").asc).rowsBetween(Window.unboundedPreceding, 0)
    val cum = per.withColumn("a", sum("ca").over(w)).withColumn("b", sum("cb").over(w))
    val na = cum.agg(max("a")).head().getLong(0)
    val nb = cum.agg(max("b")).head().getLong(0)
    val dnum = cum.select(abs(col("a") * nb - col("b") * na).as("d"))
      .agg(max("d")).head().getLong(0)
    assert(fast.getAs[Long]("n_a") === na && fast.getAs[Long]("n_b") === nb)
    assert(fast.getAs[Double]("ks_d") === dnum.toDouble / (na.toDouble * nb.toDouble))
  }

  test("fixed-point pagerank: symmetric clique stays uniform; path centers rank higher") {
    val clique = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val cr = Graph.pageRankFixedPoint(clique, "a", "b", iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cr.values.toSet.size === 1, s"clique must stay uniform: $cr")
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val pr = Graph.pageRankFixedPoint(path, "a", "b", iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr(2L) > pr(1L) && pr(1L) === pr(3L),
      s"path center must outrank symmetric ends: $pr")
    // truncation only ever LOSES mass, and not much of it
    val total = pr.values.sum
    assert(total <= 1000000000000L && total > 990000000000L)
  }

  test("row-local simhash64 is bit-identical to the batch aggregation form") {
    val d = Sources.table(spark, sfDir, "documents")
    val batch = NearDup.simHash64(d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rowLocal = d.select(col("doc_id"),
        NearDup.simHash64Row(col("text")).as("fp"))
      .select(col("doc_id"), col("fp.fp_hi"), col("fp.fp_lo"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rowLocal === batch)
    // empty text and repeated tokens hit the vote edge cases (tie → 0
    // bit; multiplicity = weight) through both forms identically
    val edge = docsOf(1L -> "", 2L -> "a a a b", 3L -> "a  b")
    val be = NearDup.simHash64(edge)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val re = edge.select(col("doc_id"),
        NearDup.simHash64Row(col("text")).as("fp"))
      .select(col("doc_id"), col("fp.fp_hi"), col("fp.fp_lo"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(re === be)
  }

  /** The batch mirror of the streaming online dedup: retained members
    * are the first `cap` docs per (band, bv) in doc_id order; a doc is
    * a dup of its earliest hamming-verified retained earlier match. */
  private def onlineDedupBatchMirror(docs: org.apache.spark.sql.DataFrame,
                                     maxHamming: Int, cap: Int) = {
    import org.apache.spark.sql.expressions.Window
    val banded = NearDup.simHash64(docs)
      .select(col("doc_id"), col("fp_hi"), col("fp_lo"),
        explode(NearDup.band64(col("fp_hi"), col("fp_lo"))).as("x"))
      .select(col("x.band").as("band"), col("x.bv").as("bv"),
        col("doc_id"), col("fp_hi"), col("fp_lo"))
    val held = banded
      .withColumn("r", row_number().over(
        Window.partitionBy(col("band"), col("bv")).orderBy(col("doc_id").asc)))
      .filter(col("r") <= cap)
      .select(col("band"), col("bv"), col("doc_id").as("y_id"),
        col("fp_hi").as("y_hi"), col("fp_lo").as("y_lo"))
    val m = banded.join(held, Seq("band", "bv"))
      .filter(col("y_id") < col("doc_id"))
      .filter((bit_count(col("fp_hi").bitwiseXOR(col("y_hi"))) +
        bit_count(col("fp_lo").bitwiseXOR(col("y_lo")))) <= maxHamming)
      .groupBy(col("doc_id")).agg(min(col("y_id")).as("dup_of"))
    banded.select(col("doc_id")).distinct()
      .join(m, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of").isNotNull.as("is_dup"), col("dup_of"))
      .orderBy(col("doc_id").asc)
  }

  test("streaming online near-dup dedup equals its batch mirror (q178 shape)") {
    val streamed = graft.streaming.NearDupStream
      .runOnlineDedupOnce(spark, sfDir, 3, 8).collect().toSeq
    val batch = onlineDedupBatchMirror(
      Sources.table(spark, sfDir, "documents"), 3, 8).collect().toSeq
    assert(streamed === batch)
    assert(streamed.exists(_.getBoolean(1)),
      "fixtures should contain planted near-dups for the stream to flag")
  }

  test("streaming online dedup is micro-batch-split-proof under monotone arrival") {
    // the determinism contract: under doc_id-monotone file arrival the
    // verdicts must not depend on where the source cuts micro-batches —
    // 3 id-ranged files, one per micro-batch, vs the single-batch run
    val d = Sources.table(spark, sfDir, "documents").orderBy(col("doc_id").asc)
    val ids = d.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val cuts = Seq(ids(ids.length / 3), ids(2 * ids.length / 3))
    val dir = java.nio.file.Files.createTempDirectory("odq_split")
    val target = new java.io.File(dir.toFile, "documents.parquet")
    target.mkdirs()
    Seq(
      d.filter(col("doc_id") <= cuts(0)),
      d.filter(col("doc_id") > cuts(0) && col("doc_id") <= cuts(1)),
      d.filter(col("doc_id") > cuts(1))
    ).zipWithIndex.foreach { case (part, i) =>
      val tmp = new java.io.File(dir.toFile, s"w$i")
      part.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(target, f"part-$i%04d.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      // strictly increasing mtimes pin the source's processing order
      dst.setLastModified(1000000000000L + i * 60000L)
    }
    val split = {
      val stream = spark.readStream
        .schema(Sources.documents)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/documents.parque[t]")
      graft.streaming.NearDupStream.runOnlineDedupOn(stream, 3, 8)
    }.collect().toSeq
    val oneShot = graft.streaming.NearDupStream
      .runOnlineDedupOnce(spark, sfDir, 3, 8).collect().toSeq
    assert(split === oneShot)
  }

  test("online dedup verdicts are state-store-backend agnostic (RocksDB)") {
    // same contract as the q131 backend spec: HDFSBackedStateStore is
    // the on-heap gate backend, RocksDB the off-heap cluster-scale one —
    // the online dedup's verdicts must not depend on the choice
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    val rocks = try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      graft.streaming.NearDupStream
        .runOnlineDedupOnce(spark, sfDir, 3, 8).collect().toSeq
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val default = graft.streaming.NearDupStream
      .runOnlineDedupOnce(spark, sfDir, 3, 8).collect().toSeq
    assert(rocks === default)
  }

  test("online dedup bucket state survives a checkpointed restart") {
    // the production shape: the stream STOPS mid-corpus and a new query
    // resumes from the checkpoint — docs arriving after the restart must
    // still be judged against members retained BEFORE it (state store
    // recovery), and already-processed files must not replay
    val base = java.nio.file.Files.createTempDirectory("odq_ck")
    val (src, out, ck) = (s"$base/src/documents.parquet", s"$base/out", s"$base/ck")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    val d = Sources.table(spark, sfDir, "documents")
    val ids = d.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val mid = ids(ids.length / 2)
    def land(part: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = new java.io.File(base.toFile, s"w_$name")
      part.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(src, s"$name.parquet"))
    }
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(Sources.documents)
        .parquet(s"$base/src/documents.parque[t]")
      val q = graft.streaming.NearDupStream.onlineDedup(stream, 3, 8).toDF()
        .writeStream.format("parquet")
        .option("checkpointLocation", ck).option("path", out)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    land(d.filter(col("doc_id") <= mid), "half1")
    runOnce()
    land(d.filter(col("doc_id") > mid), "half2")
    runOnce()
    val resumed = spark.read.parquet(out)
      .groupBy(col("doc_id")).agg(min(col("dup_of")).as("dup_of"))
      .select(col("doc_id"), col("dup_of").isNotNull.as("is_dup"), col("dup_of"))
      .orderBy(col("doc_id").asc).collect().toSeq
    val oneShot = graft.streaming.NearDupStream
      .runOnlineDedupOnce(spark, sfDir, 3, 8).collect().toSeq
    assert(resumed === oneShot)
  }

  test("LSH near-dup pairs: capped ⊆ uncapped ⊆ exact, with recall on the fixtures") {
    val emb = Sources.table(spark, sfDir, "embeddings")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Similarity.nearDupPairs(emb, 0.45)
      .select(col("vec_a"), col("vec_b")))
    val uncapped = pairSet(Similarity.nearDupPairsLsh(emb, 0.45, 5, 16, 1000000L)
      .select(col("vec_a"), col("vec_b")))
    val capped = pairSet(Similarity.nearDupPairsLsh(emb, 0.45, 5, 16, 32L)
      .select(col("vec_a"), col("vec_b")))
    // precision 1 relative to the exact generator (every edge is
    // cosine-verified); the star reduction can only shrink the pair set
    assert(capped.subsetOf(uncapped), s"star arm invented pairs: ${capped -- uncapped}")
    assert(uncapped.subsetOf(exact), s"bucketing invented pairs: ${uncapped -- exact}")
    assert(capped.nonEmpty, "fixture near-dups should share LSH signatures")
  }

  test("LSH near-dup cap bounds a flooded bucket to star edges") {
    // 40 copies of one vector + 5 distant ones: the identical vectors
    // share a signature bucket (> cap), so the capped generator must
    // emit exactly the 39 anchor star edges for the flood, never 40·39/2
    val base = (0 until 64).map(i => (i % 7).toFloat - 3f)
    val far = (0 until 64).map(i => -((i % 5).toFloat - 2f))
    val emb = ((0L until 40L).map(i => (i, base)) ++
        (100L until 105L).map(i => (i, far)))
      .toDF("vec_id", "embedding")
    val got = Similarity.nearDupPairsLsh(emb, 0.45, 5, 16, 8L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val floodEdges = got.filter(_._2 < 40L)
    assert(floodEdges === (1L until 40L).map(b => (0L, b)).toSet,
      s"flood must star-reduce onto vec 0: $floodEdges")
  }

  test("semantic dedup survivors are exactly the cluster roots plus unclustered vectors") {
    val clusters = SparkEntry.queries("q180_semantic_clusters")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val survivors = SparkEntry.queries("q181_semantic_survivors")(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val all = Sources.table(spark, sfDir, "embeddings")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val nonRoots = clusters.filter { case (v, c) => v != c }.map(_._1).toSet
    assert(clusters.nonEmpty, "fixtures should produce at least one semantic cluster")
    assert(survivors === (all -- nonRoots))
    assert(clusters.map(_._2).toSet.subsetOf(survivors), "every cluster root survives")
  }

  test("online dedup state cap bounds retained members, still collapses a flood") {
    // 20 identical docs: every bucket floods past cap=8, yet each later
    // doc still matches the earliest member (state holds the first 8);
    // 5 disjoint docs stay clean
    val boiler = "all rights reserved this page is boilerplate spark filter join"
    val d = docsOf(
      ((0L until 20L).map(i => i -> boiler) ++
        (100L until 105L).map(i =>
          i -> s"u$i v$i w$i x$i y$i z$i p$i q$i r$i s$i")): _*)
    val dir = java.nio.file.Files.createTempDirectory("odq_flood")
    d.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val out = graft.streaming.NearDupStream
      .runOnlineDedupOnce(spark, dir.toString, 3, 8)
      .collect().map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    val (dups, clean) = out.partition(_._1 < 100L)
    assert(dups.filter(_._1 > 0L).forall(x => x._2 && x._3 === 0L),
      s"every later flood doc must collapse onto doc 0: ${dups.toSeq}")
    assert(!dups.head._2, "the first-seen doc survives")
    assert(clean.forall(!_._2), s"disjoint docs must stay clean: ${clean.toSeq}")
  }
}
