package graft

import org.scalatest.funsuite.AnyFunSuite

/** Automated plan audit over the full query catalog: the scale
  * properties SCALE.md claims, asserted on the actual physical plans.
  * Mostly planning-only, but a few query BUILDERS run real jobs (q30's
  * stream, q48's eager bloom build, q44's per-iteration collects), so
  * plans are memoized — each query is constructed exactly once.
  */
class PlanInvariantsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  private val planCache = scala.collection.mutable.Map.empty[String, String]
  private def planOf(name: String): String = planCache.getOrElseUpdate(name,
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString)

  test("no query plans a CartesianProduct (unbroadcast cross join)") {
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val plan = planOf(name)
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n$plan")
    }
  }

  test("star join broadcasts every dimension") {
    val plan = planOf("q11_star_revenue")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 3, s"expected >=3 broadcast dims in q11:\n$plan")
  }

  test("filter chain pushes predicates into the parquet scan") {
    val plan = planOf("q32_clean_filter_chain")
    assert(plan.contains("PushedFilters: [In(event_type") ||
      plan.contains("PushedFilters: [IsNotNull"),
      s"q32 scan should carry pushed filters:\n$plan")
  }

  test("global top-k plans TakeOrderedAndProject (no full sort)") {
    val plan = planOf("q14_topk_orders")
    assert(plan.contains("TakeOrderedAndProject"), s"q14:\n$plan")
  }

  test("keyset page (q219) is cursor-predicate + top-k — no global sort-then-skip") {
    val plan = planOf("q219_keyset_page")
    assert(plan.contains("TakeOrderedAndProject"), s"q219:\n$plan")
    // the OFFSET form's skip operator must be absent: the deep-page
    // cost model is the whole point of the keyset rewrite
    assert(!plan.contains("Offset"), s"q219 must not sort-then-skip:\n$plan")
    // the composite cursor predicate reaches the parquet scan
    val scan = plan.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scan.contains("o_totalprice"),
      s"q219 cursor filter should push to the scan: $scan")
  }

  test("column pruning: q01 reads only the referenced event columns") {
    val plan = planOf("q01_avg_value_by_user")
    val scan = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(scan.contains("user_id") && scan.contains("value"))
    assert(!scan.contains("props"), s"q01 scan reads unused columns: $scan")
  }

  test("per-group top-k idiom is rewritten to the custom operator") {
    Seq("q25_knn_cosine", "q09_dedup_latest", "q49_topk_per_group",
        "q60_idf_terms", "q88_stratified_sample").foreach { n =>
      val plan = planOf(n)
      assert(plan.contains("TopKPerGroupFinal"), s"$n should use TopKPerGroup:\n$plan")
    }
  }

  test("round-4 selection/sketch queries run on bounded heaps, not window sorts") {
    Seq("q111_kmv_distinct", "q120_weighted_select",
        "q121_residual_outliers").foreach { n =>
      val plan = planOf(n)
      assert(plan.contains("TopKPerGroupFinal"), s"$n should use TopKPerGroup:\n$plan")
      assert(!plan.contains("row_number"), s"$n should not plan a window sort:\n$plan")
    }
  }

  test("residual scoring broadcasts the per-group fit, never shuffles the fact for it") {
    val plan = planOf("q121_residual_outliers")
    assert(plan.contains("BroadcastHashJoin"), s"q121 fit join should broadcast:\n$plan")
  }

  test("skyline prune joins a broadcast threshold table") {
    val plan = planOf("q108_skyline")
    assert(plan.contains("BroadcastHashJoin"), s"q108:\n$plan")
  }

  test("rolling z-score plans growing frames, not a bounded sliding frame") {
    val plan = planOf("q113_anomaly_zscore")
    assert(plan.contains("unboundedpreceding"),
      s"q113 should use prefix frames:\n$plan")
    // the O(frame)-per-row shape this operator exists to avoid
    assert(!plan.contains("-20, -1"), s"q113 still plans a sliding frame:\n$plan")
  }

  test("grouping-set queries Expand the per-group re-agg, not the fact scan") {
    Seq("q39_rollup_revenue", "q52_cube_quantity", "q62_grouping_sets").foreach { n =>
      val plan = planOf(n)
      assert(plan.contains("Expand"), s"$n should plan grouping sets:\n$plan")
      // the hierarchical re-agg puts a HashAggregate (the fine groupBy)
      // BELOW Expand; Expand directly over the scan would mean the row
      // multiplication hits the full fact table
      val lines = plan.linesIterator.toSeq
      val expandIdx = lines.indexWhere(_.contains("Expand"))
      val aggBelow = lines.drop(expandIdx + 1).exists(_.contains("HashAggregate"))
      assert(aggBelow, s"$n: Expand must sit above the fine aggregation:\n$plan")
    }
  }

  test("range-frame window carries a RANGE specification, not ROWS") {
    val plan = planOf("q63_range_frame")
    assert(plan.contains("RangeFrame"), s"q63 should use a RANGE frame:\n$plan")
  }

  test("column profile: one pruned scan per column, no Expand row multiplication") {
    val plan = planOf("q71_column_profile")
    // branch-per-column: 4 scans, each pruned to a single column — the
    // Expand multi-distinct form multiplied rows ×4 through
    // SortAggregates (string min/max buffers force the sort-based path)
    val scans = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.length == 4, s"q71 should scan once per column:\n$plan")
    assert(!plan.contains("Expand"), s"no row multiplication expected:\n$plan")
    // a single-column ReadSchema struct has no commas inside <>
    val structs = scans.flatMap("struct<([^>]*)>".r.findFirstMatchIn(_).map(_.group(1)))
    assert(structs.length == 4 && structs.forall(!_.contains(",")),
      s"each scan should be pruned to one column: $structs")
  }

  test("correlated EXISTS/NOT EXISTS decorrelate to semi/anti joins") {
    // a non-decorrelated subquery would re-scan orders per customer row
    // (or worse, plan a cartesian) — the catalog-wide no-CartesianProduct
    // test covers the latter; this pins the positive shape
    val plan = planOf("q80_subquery_exists")
    assert(plan.contains("LeftSemi"), s"EXISTS should plan a semi join:\n$plan")
    assert(plan.contains("LeftAnti"), s"NOT EXISTS should plan an anti join:\n$plan")
  }

  test("scalar subquery plans as a subquery, not a join") {
    val plan = planOf("q79_subquery_scalar")
    assert(plan.contains("Subquery") || plan.contains("scalar-subquery"),
      s"q79 should carry a scalar subquery node:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the one-row threshold must not become a shuffle join:\n$plan")
  }

  test("dynamic partition pruning fires on a partitioned-fact ⋈ filtered-dim join") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    try {
      // fact partitioned by a bounded-cardinality key (Hive-style
      // `fact/l_returnflag=<v>/` directories)
      graft.engine.Sources.table(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
        .write.partitionBy("l_returnflag").parquet(s"$dir/fact")
      val fact = spark.read.parquet(s"$dir/fact")
      // the dim must be a real source (a literal LocalRelation folds its
      // filter away at optimization, and DPP keys on a surviving
      // selective Filter on the build side)
      Seq(("A", "keep"), ("N", "drop"), ("R", "drop")).toDF("flag", "cls")
        .write.parquet(s"$dir/dim")
      val dim = spark.read.parquet(s"$dir/dim")
      val joined = fact.join(dim.filter(col("cls") === "keep"),
        fact("l_returnflag") === dim("flag"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruningexpression"),
        s"partition filter should be pruned dynamically from the dim filter:\n$plan")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("bucketed tables join with zero shuffle exchanges") {
    import org.apache.spark.sql.functions.col
    // the 100 TB co-located-join layout: both sides pre-bucketed on the
    // join key → SortMergeJoin consumes the bucket layout directly
    val suffix = System.nanoTime()
    val (ta, tb) = (s"plan_spec_bkt_a_$suffix", s"plan_spec_bkt_b_$suffix")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      val ev = graft.engine.Sources.table(spark, sfDir, "events")
      ev.select(col("user_id"), col("value"))
        .write.bucketBy(8, "user_id").sortBy("user_id").saveAsTable(ta)
      ev.select(col("user_id"), col("event_type"))
        .write.bucketBy(8, "user_id").sortBy("user_id").saveAsTable(tb)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = spark.table(ta).join(spark.table(tb), "user_id")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed-bucketed equi-join must not reshuffle either side:\n$plan")
      assert(plan.contains("SortMergeJoin"),
        s"expected a sort-merge join over the bucket layout:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql(s"DROP TABLE IF EXISTS $ta")
      spark.sql(s"DROP TABLE IF EXISTS $tb")
    }
  }

  test("chunking is a narrow generate: q85 plans zero exchanges") {
    val plan = planOf("q85_doc_chunking")
    // one global sort for the deterministic output order is allowed
    // (rangepartitioning); no hash-partition shuffle may appear — the
    // operator itself is generate + project only
    assert(!plan.contains("hashpartitioning"),
      s"q85 chunking must not shuffle on a hash key:\n$plan")
    assert(plan.contains("Generate explode"), s"q85 should explode chunk starts:\n$plan")
  }

  test("bm25 broadcasts its term/corpus stats and bounds the top-k") {
    val plan = planOf("q84_bm25_topk")
    assert(plan.contains("BroadcastHashJoin"),
      s"q84 df join should broadcast the tiny term-stats side:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"q84 corpus stats (1 row) should broadcast, not shuffle:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q84 top-k must be bounded, not a full sort:\n$plan")
  }

  test("staged tables build once and survive catalog cache clears") {
    import spark.implicits._
    var builds = 0
    def frame = { builds += 1; Seq((1L, 2L), (3L, 4L)).toDF("a", "b") }
    val k = s"plan_spec_staging_${System.nanoTime()}"
    val first = graft.engine.Staging.stagedParquet(spark, k)(frame)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()  // the bench/verify inter-query reset
    val second = graft.engine.Staging.stagedParquet(spark, k)(frame)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(builds === 1, "second consumer must scan the staged parquet, not rebuild")
    assert(first === second && first === Set(1L -> 2L, 3L -> 4L))
  }

  test("durable staging root survives a simulated process restart") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("stage_root_").toString
    System.setProperty("graft.staging.dir", root)
    try {
      var builds = 0
      def frame = { builds += 1; spark.range(5).selectExpr("id", "id * id AS sq") }
      val k = s"durable_spec_${System.nanoTime()}"
      val first = graft.engine.Staging.stagedParquet(spark, k)(frame)
        .collect().map(_.getLong(1)).toSet
      // simulate a fresh JVM: the in-memory registry is gone, only the
      // landed parquet (with its _SUCCESS marker) remains on disk
      graft.engine.Staging.clear()
      val second = graft.engine.Staging.stagedParquet(spark, k)(frame)
        .collect().map(_.getLong(1)).toSet
      assert(builds === 1,
        "a restarted process must resume past the landed stage, not rebuild")
      assert(first === second && first === Set(0L, 1L, 4L, 9L, 16L))
      // a half-built stage (no _SUCCESS) must NOT be trusted
      val k2 = s"durable_half_${System.nanoTime()}"
      val halfDir = new java.io.File(java.net.URI.create(
        graft.engine.Staging.stagedParquet(spark, k2)(frame).inputFiles.head)).getParent
      graft.engine.Staging.clear()
      assert(builds === 2)
      assert(new java.io.File(halfDir, "_SUCCESS").delete(),
        s"test setup: no _SUCCESS marker found in $halfDir")
      graft.engine.Staging.stagedParquet(spark, k2)(frame).collect()
      assert(builds === 3, "a stage dir without _SUCCESS must be rebuilt")
    } finally {
      System.clearProperty("graft.staging.dir")
      graft.engine.Staging.clear()
    }
  }

  test("durable stage is NOT reused after its input is regenerated in place") {
    // the silent-staleness trap: a fixture rewritten at the SAME path
    // must mint a fresh stage (the key carries the input files'
    // len+mtime fingerprint), not serve parquet computed from old data
    val root = java.nio.file.Files.createTempDirectory("stage_root_").toString
    val src = java.nio.file.Files.createTempDirectory("stage_src_").toString
    System.setProperty("graft.staging.dir", root)
    try {
      import spark.implicits._
      Seq(1L, 2L).toDF("v").coalesce(1).write.mode("overwrite").parquet(src)
      def totalOf(): Long = graft.engine.Staging.stagedParquet(
          spark, s"fp_spec|$src", inputs = Seq(src))(
        spark.read.parquet(src).agg(org.apache.spark.sql.functions.sum("v").as("t")))
        .collect()(0).getLong(0)
      assert(totalOf() === 3L)
      graft.engine.Staging.clear() // simulate restart: registry gone, root stays
      Thread.sleep(1100)           // mtime granularity can be 1 s
      Seq(10L, 20L).toDF("v").coalesce(1).write.mode("overwrite").parquet(src)
      assert(totalOf() === 30L,
        "regenerated input at the same path must rebuild the stage")
    } finally {
      System.clearProperty("graft.staging.dir")
      graft.engine.Staging.clear()
    }
  }

  test("q133 higher moments: one partial+final agg pair, no Expand, pruned scan") {
    val plan = planOf("q133_higher_moments")
    // 4 moments in ONE grouped pass: exactly one partial+final HashAggregate
    // pair (5 sums as ordinary agg buffers), no Expand row multiplication
    assert("HashAggregate".r.findAllIn(plan).length === 2, s"q133:\n$plan")
    assert(!plan.contains("Expand"), s"q133 must not multiply fact rows:\n$plan")
    val scan = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(scan.contains("l_returnflag") && scan.contains("l_quantity") &&
      !scan.contains("l_extendedprice"), s"q133 scan not pruned: $scan")
  }

  test("weighted median: level-1 window partitions by (flag, bucket); offsets broadcast") {
    val plan = planOf("q137_weighted_median")
    // the distinct-value-sized cumulative sum must run in parallel per
    // price bucket — a window partitioned by the flag alone would sort
    // every distinct value through |flags| partitions
    assert("windowspecdefinition\\(l_returnflag#\\d+, bk#\\d+".r
      .findAllIn(plan).nonEmpty,
      s"q137 level-1 window must partition by (flag, bucket):\n$plan")
    // bucket offsets and flag totals join back broadcast, no extra shuffle
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"q137 offsets/totals must broadcast:\n$plan")
  }

  test("MAD screen broadcasts both percentile-stats tables") {
    val plan = planOf("q143_mad_outliers")
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"q143 must broadcast the per-group median and MAD tables:\n$plan")
  }

  test("date spine joins the daily aggregate broadcast") {
    val plan = planOf("q140_date_spine")
    assert(plan.contains("BroadcastHashJoin"),
      s"q140 spine ⋈ daily must be a broadcast join:\n$plan")
  }

  test("rolling correlation computes all six moments in ONE window pass") {
    val plan = planOf("q145_rolling_corr")
    assert("Window \\[".r.findAllIn(plan).length === 1,
      s"q145 must fuse count/sums into a single Window operator:\n$plan")
  }

  test("count-min probes broadcast the top-k token set") {
    val plan = planOf("q148_count_min")
    assert(plan.contains("BroadcastHashJoin"),
      s"q148 top-token probe must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q148 top-20 must be a bounded top-k, not a full sort:\n$plan")
  }

  test("sorted-neighborhood windows partition by the fingerprint bucket") {
    val plan = planOf("q153_sorted_neighborhood")
    assert("windowspecdefinition\\(bk#\\d+".r.findAllIn(plan).nonEmpty,
      s"q153 lead windows must run per bucket, not one global sort:\n$plan")
  }

  test("ACF reads orders once: stack-unpivot, one scan, one shared sort") {
    val plan = planOf("q156_acf")
    // each lag distance is its own frame (7 Window nodes are inherent),
    // but they must share ONE scan + daily aggregate + sort — a union
    // formulation re-plans the subtree per lag. Assertions are
    // DIRECTIONAL upper bounds (== 1 scan, <= 2 sorts), not exact
    // physical-operator counts: a Spark minor version or AQE change
    // that legitimately elides a sort must not fail the invariant the
    // test protects (one shared subtree, not seven).
    assert("Scan parquet".r.findAllIn(plan).length === 1,
      s"q156 must scan orders exactly once:\n$plan")
    // at most two sorts: the shared window-input sort + the final
    // ORDER BY; a union formulation plans one sort PER lag (7+)
    assert("Sort \\[".r.findAllIn(plan).length <= 2,
      s"q156 lag windows must share one sort:\n$plan")
  }

  test("SQL-text entry (q161) plans broadcast dims like the DataFrame form") {
    val plan = planOf("q161_sql_surface")
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 3,
      s"q161 star join must broadcast every dimension:\n$plan")
  }

  test("triangle closing semi-join is BROADCAST (wedge table never shuffled)") {
    // the wedge table is Θ(Σ deg²) rows; a shuffled semi-join ships all
    // of it (sf1: 2.9e9 rows). Under the edge-count threshold the
    // closing side must broadcast so wedges are probed map-side. q96's
    // own executed plan is a scan of the STAGED triangle table, so
    // assert on the staged build's plan directly.
    import org.apache.spark.sql.functions.col
    val edges = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_custkey").as("u"), (col("o_custkey") % 97).as("v"))
    val e = edges.select(col("u").as("a"), col("v").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val plan = graft.operators.Graph.wedgeTriangleCounts(e)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin .*LeftSemi".r.findAllIn(plan).nonEmpty,
      s"wedge-closing join must be a broadcast semi-join:\n$plan")
  }

  test("round-9 rank plans rewrite to bounded heaps (containment top-k, NB argmax)") {
    // q194's per-doc top-k and q195's per-doc argmax are written as
    // row_number windows; RewriteRowNumberTopK must swap both for the
    // bounded-heap operator or the flood-safety claims are prose
    Seq("q194_containment_topk", "q195_nb_source_confusion").foreach { n =>
      val plan = planOf(n)
      assert(plan.contains("TopKPerGroupFinal"),
        s"$n should use TopKPerGroup:\n$plan")
      assert(!plan.contains("row_number"),
        s"$n should not plan a window sort:\n$plan")
    }
  }

  test("containment family broadcasts the ONE-ROW df band, never shuffles for it") {
    // the corpus-relative band threshold is a one-row frame crossJoined
    // into the shingle filter; it must plan as a broadcast nested-loop
    // join (driver-side metadata, zero shuffle) — a shuffled join here
    // would ship the whole df table to meet one row. q118/q187 stage
    // their banded postings, so their executed plans only scan landed
    // parquet (like q96's triangles) — assert on the band build's own
    // subplan, plus q193 whose crossJoin is NOT staged.
    import org.apache.spark.sql.functions.col
    val sh = graft.operators.Shingles.table(
      graft.engine.Sources.table(spark, sfDir, "documents"), None)
    val bandPlan = graft.operators.NearDup.bandedShingleDfs(sh,
        DedupKnobs.ShingleDfQuantileBp, DedupKnobs.ShingleDfFloor,
        DedupKnobs.ShingleDfFanoutBudget)
      .queryExecution.executedPlan.toString
    assert(bandPlan.contains("BroadcastNestedLoopJoin"),
      s"the band threshold must broadcast into the df filter:\n$bandPlan")
    val plan = planOf("q193_shingle_df_profile")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"q193 must broadcast the one-row band threshold:\n$plan")
  }

  test("NB classifier scores through BROADCAST model joins, never a shuffle join") {
    // the trained model is ≤ |sources|·buckets rows and the priors are
    // |sources| rows: both join the corpus-sized doc-bucket table and
    // must broadcast — an accidental sort-merge join would shuffle the
    // whole corpus feature table twice per scoring run
    val plan = planOf("q195_nb_source_confusion")
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"q195 model and prior joins must both broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"q195 must not shuffle the corpus against the model:\n$plan")
  }

  test("dedup-spans windows are all doc-partitioned (no corpus-wide sort)") {
    // the span family's lead/coverage/island windows must all partition
    // BY DOC (or finer: the run-length window keys (doc_id, __grp)) —
    // an unpartitioned window here would single-partition the corpus's
    // token positions
    Seq("q204_dedup_spans", "q212_dup_span_intervals",
        "q213_dedup_spans_minlen").foreach { n =>
      val plan = planOf(n)
      val specs = "windowspecdefinition\\(([a-zA-Z_0-9]+)".r
        .findAllMatchIn(plan).map(_.group(1)).toSet
      assert(specs.nonEmpty && specs == Set("doc_id"),
        s"$n windows must lead with doc_id, got $specs:\n$plan")
    }
  }

  test("prototype pruning broadcasts centroids + classes; never rank-windows a cluster") {
    // the fitted centroid table (k·dims rows) and the distance-class
    // table (k·|6-dp classes| rows) must both broadcast against the
    // corpus — and the round-10 k-partition straggler (a per-vector
    // rank window partitioned by centroid_id ALONE, ordered dist DESC,
    // vec_id ASC: all n vectors sorted in k tasks) must be gone. The
    // only per-vector window partitions by the FINE (centroid_id,
    // dist) class, whose partition size is one 6-dp tie class.
    val plan = planOf("q205_prototype_pruning")
    assert(plan.contains("BroadcastHashJoin"),
      s"q205 assignment must broadcast the centroids:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"q205 must never shuffle the corpus against the model:\n$plan")
    val clusterRank =
      "windowspecdefinition\\(centroid_id#\\d+L?, dist#\\d+ DESC NULLS LAST, vec_id#\\d+L?".r
    assert(clusterRank.findFirstIn(plan).isEmpty,
      s"q205 must not rank whole clusters in a centroid_id window:\n$plan")
    assert(
      "windowspecdefinition\\(centroid_id#\\d+L?, dist#\\d+, vec_id#\\d+L? ASC".r
        .findFirstIn(plan).isDefined,
      s"q205 tie rank must partition by the (centroid, dist) class:\n$plan")
  }

  test("audio decode/feature path is a narrow map (no mid-plan shuffle)") {
    // q206 is encode → binary column → decode → per-window reduce, all
    // inside mapPartitions: the only exchange in the plan is the final
    // presentation sort — a hashpartitioning here would mean the codec
    // path started shuffling payload bytes
    val plan = planOf("q206_audio_windows")
    assert(!plan.contains("hashpartitioning"),
      s"q206 must not shuffle payloads:\n$plan")
  }

  test("temperature mix broadcasts its rate table; shard rank windows post-agg rows") {
    // q210: the |sources|-row rate table must broadcast back onto the
    // corpus for the kept rollup — a sort-merge join here would
    // shuffle the corpus against a 6-row table
    val p210 = planOf("q210_temperature_mix")
    assert(p210.contains("BroadcastHashJoin"),
      s"q210 must broadcast the rate table:\n$p210")
    assert(!p210.contains("SortMergeJoin"),
      s"q210 must not shuffle the corpus against the rates:\n$p210")
    // q211: the serpentine rank's unpartitioned window is bounded by
    // the micro-bucket count ONLY because it orders the post-agg
    // census (__tokens) — a refactor windowing doc rows would
    // single-partition the corpus
    val p211 = planOf("q211_balanced_shards")
    val specs = "windowspecdefinition\\(([a-zA-Z_0-9#]+)".r
      .findAllMatchIn(p211).map(_.group(1).takeWhile(_ != '#')).toSet
    assert(specs == Set("__tokens"),
      s"q211 must rank only the bucket census, got $specs:\n$p211")
  }

  test("df-band derivation windows over the POST-AGG df histogram, not corpus rows") {
    // dfHistogram's unpartitioned cumulative window is bounded by
    // |distinct df values| ONLY because its input is the df histogram
    // (groupBy __df) — a refactor windowing over shingles or docs would
    // silently reintroduce the corpus-sized single-partition sort
    val plan = planOf("q193_shingle_df_profile")
    assert(plan.contains("windowspecdefinition(__df"),
      s"q193 cumulative window must order by the df class:\n$plan")
    assert(!plan.contains("windowspecdefinition(shingle") &&
      !plan.contains("windowspecdefinition(doc_id"),
      s"q193 must never window over corpus-sized rows:\n$plan")
  }

  test("pHash class pairs join on the band key with the hamming verify inline") {
    val plan = planOf("q199_phash_class_pairs")
    assert("Join.*band".r.findAllIn(plan).nonEmpty,
      s"q199 candidates must come from a band equi-join:\n$plan")
    assert(plan.contains("bit_count"),
      s"q199 must verify hamming on candidates:\n$plan")
  }

  test("perplexity buckets window over the 6-dp score-CLASS table, never per-doc rows") {
    val plan = planOf("q196_perplexity_buckets")
    // the only ordered window key is the class column (avg_logprob) —
    // a per-doc global row_number would be the corpus-sized
    // single-partition sort this operator exists to avoid
    assert(plan.contains("windowspecdefinition(avg_logprob"),
      s"q196 cumulative window must run over score classes:\n$plan")
    assert(!plan.contains("row_number"),
      s"q196 must not rank individual docs:\n$plan")
  }

  test("triangle plan CONSTRUCTION fires no Spark job (stats-based broadcast decision)") {
    // the broadcast decision must come from optimizer size estimates
    // (driver-side metadata), not an eager count() — which would run a
    // job on every triangleCounts call before any action, including
    // from explain() and tests
    import org.apache.spark.sql.functions.col
    import java.util.concurrent.atomic.AtomicInteger
    val edges = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_custkey").as("a"), (col("o_custkey") % 97).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val jobs = new AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    // the listener bus is async (and private): bracket the construction
    // with MARKER jobs (range+collect — one job, no shuffle, so no AQE
    // stage split) and drain until the observed count is QUIESCENT. The
    // bus is FIFO per queue: once the marker and a quiet period have
    // been observed, everything posted before them has been delivered.
    def markerAndDrain(): Int = {
      spark.range(1).collect()
      val deadline = System.currentTimeMillis() + 10000
      var last = -1
      var cur = jobs.get()
      while ((cur != last || cur == 0) &&
             System.currentTimeMillis() < deadline) {
        Thread.sleep(100); last = cur; cur = jobs.get()
      }
      cur
    }
    try {
      val before = markerAndDrain() // earlier suites' backlog + marker
      val df = graft.operators.Graph.wedgeTriangleCounts(edges)
      df.queryExecution.executedPlan // force full planning, no action
      val after = markerAndDrain()
      assert(after === before + 1, // exactly the second marker
        s"plan construction ran ${after - before - 1} Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
