package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine._
import graft.operators.{Multimodal, NearDup, Similarity, TextAnalysis}
import graft.streaming.EventStream

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query here is paired with ANSI SQL in [[oracleSql]] that DuckDB
  * runs over the same parquet tables. Cross-engine determinism rules used
  * throughout (SURVEY.md §7.6):
  *   - every floating-point output column is `round(x, 6)` on BOTH sides;
  *   - ranks/orderings over floats are computed on the rounded values;
  *   - every query ends in a deterministic total ORDER BY;
  *   - big money sums go through DECIMAL (exact, order-independent);
  *   - aggregate output columns carry identical names on both sides.
  */
object SparkEntry {

  // every dedup-family knob (LSH shape, caps, thresholds, the
  // containment df band, audit sample) is defined once in DedupKnobs
  // and interpolated into both the engine calls and the oracle SQL
  import DedupKnobs._

  private def r6(c: Column): Column = round(c, 6)

  /** Pearson correlation from (n, Σx, Σy, Σxy, Σx², Σy²) — the
    * [[graft.engine.SlopeOLS]] operand order, 6-dp rounded, NULL when
    * either variance is zero. ONE definition (used by q145, q156) so
    * every moment-based correlation keeps the identical IEEE chain its
    * oracle mirrors character for character. */
  private def corrFromMoments(n: Column, sx: Column, sy: Column,
      sxy: Column, sxx: Column, syy: Column): Column = {
    def d(c: Column) = c.cast("double")
    val covN = (d(n) * d(sxy)) - (d(sx) * d(sy))
    val varXN = (d(n) * d(sxx)) - (d(sx) * d(sx))
    val varYN = (d(n) * d(syy)) - (d(sy) * d(sy))
    Aggregates.round6Portable(
      when(varXN === 0d || varYN === 0d, lit(null))
        .otherwise(covN / sqrt(varXN * varYN)))
  }

  /** Portable day-of-week, 0 = Sunday: (epoch_day + 4) mod 7 — pure
    * integer arithmetic, no locale, no calendar library. The SQL twin
    * is [[sqlDow]]; q141/q160 use BOTH, so they live here once. */
  private def dowOf(dateExpr: String): Column =
    ((expr(s"datediff($dateExpr, DATE '1970-01-01')") + 4) % 7).cast("long")

  /** DuckDB mirror of [[dowOf]]. */
  private def sqlDow(c: String): String =
    s"(date_diff('day', DATE '1970-01-01', CAST($c AS DATE)) + 4) % 7"

  private def events(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "events")

  private def cleanEvents(s: SparkSession, dir: String): DataFrame =
    events(s, dir).filter(Cleaning.notMissing(col("value")))

  /** Plain-scan variants: opt-outs from the guarded parallelizing
    * default of [[Sources.table]] for the measured-loss shapes (cheap
    * per-row work between the scan and the first exchange — the
    * repartition hop costs more than it frees; paired sf1 probe
    * numbers per query in OPTIMIZATION_r14.md). */
  private def eventsPlain(s: SparkSession, dir: String): DataFrame =
    Sources.tablePlain(s, dir, "events")

  private def cleanEventsPlain(s: SparkSession, dir: String): DataFrame =
    eventsPlain(s, dir).filter(Cleaning.notMissing(col("value")))

  private def withDay(df: DataFrame): DataFrame =
    df.withColumn("day", date_format(col("ts_utc"), "yyyy-MM-dd"))

  /** The reference's "missing means NULL or NaN" predicate, SQL form. */
  private val sqlClean = "value IS NOT NULL AND NOT isnan(value)"

  /** SQL mirror of [[Aggregates.exactAvg]] over the `value` column:
    * exact DECIMAL sum ÷ non-null count, avg's NaN semantics kept. */
  private val sqlExactAvgValue =
    """CASE WHEN count(CASE WHEN isnan(value) THEN 1 END) > 0
            THEN CAST('NaN' AS DOUBLE)
            ELSE CAST(sum(CASE WHEN NOT isnan(value)
                               THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
                 / count(value) END"""

  // ---------------------------------------------------------------- parity

  /** Q1 — lap-weighted average per driver (reference:
    * src/processing/mongo_avg_laptime_by_driver.py:33-41). */
  private def q01(s: SparkSession, dir: String): DataFrame =
    // exactAvg + portable rounding (not avg + round): at sf1 the plain
    // double fold's last ulp crossed round-6 half-boundaries on 3 of
    // 15000 users, splitting Spark's shortest-repr rounding from
    // DuckDB's binary rounding — the exact-decimal mean has no
    // order-dependence and the floor form no half-boundary
    cleanEventsPlain(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        Aggregates.exactAvg(col("value")).as("avg_value"))
      .select(col("user_id"), col("n_events"),
        Aggregates.round6Portable(col("avg_value")).as("avg_value"))
      .orderBy(col("avg_value").asc, col("user_id").asc)

  /** Q1 equal-weight-per-race variant — two-level agg, avg of per-day avgs
    * (reference: notebook cell 9). */
  private def q02(s: SparkSession, dir: String): DataFrame =
    Aggregates.twoLevelStats(withDay(cleanEvents(s, dir)),
        coarseKeys = Seq("user_id"), fineKeys = Seq("day"),
        measure = "value", minPerFine = 1, minFine = 1)
      .select(col("user_id"), col("n_groups").as("n_days"),
        Aggregates.round6Portable(col("avg_of_avgs")).as("avg_value_eq"))
      .orderBy(col("user_id").asc)

  /** Q2A — lap-weighted speed + consistency (count/avg/stddev_pop, HAVING)
    * (reference: src/processing/fastest_vs_most_consistent_drivers.py:90-106). */
  private def q03(s: SparkSession, dir: String): DataFrame =
    Aggregates.groupedStats(cleanEvents(s, dir), Seq("user_id"), "value", minN = 30)
      .select(col("user_id"), col("n").as("n_events"),
        Aggregates.round6Portable(col("avg_value")).as("avg_value"),
        Aggregates.round6Portable(col("stddev_value")).as("stddev_value"))
      .orderBy(col("avg_value").asc, col("user_id").asc)

  /** Q2B — race-normalized two-level stats with per-level HAVING
    * (reference: fastest_vs_most_consistent_drivers.py:109-142). */
  private def q04(s: SparkSession, dir: String): DataFrame =
    Aggregates.twoLevelStats(withDay(cleanEvents(s, dir)),
        coarseKeys = Seq("user_id"), fineKeys = Seq("day"),
        measure = "value", minPerFine = 3, minFine = 5)
      .select(col("user_id"), col("n_groups").as("n_days"),
        Aggregates.round6Portable(col("avg_of_avgs")).as("avg_value_norm"),
        Aggregates.round6Portable(col("avg_of_stddevs")).as("stddev_norm"))
      .orderBy(col("user_id").asc)

  /** Q2 Pareto — dense_rank speed + consistency, composite rank, top-15
    * (reference: fastest_vs_most_consistent_drivers.py:145-163). */
  private def q05(s: SparkSession, dir: String): DataFrame = {
    val stats = Aggregates.groupedStats(cleanEvents(s, dir), Seq("user_id"), "value", minN = 30)
    Ranking.paretoTopK(stats, "avg_value", "stddev_value", Seq("user_id"), k = 15)
      .select(col("user_id"), col("n").as("n_events"),
        Aggregates.round6Portable(col("avg_value")).as("avg_value"),
        Aggregates.round6Portable(col("stddev_value")).as("stddev_value"),
        col("rank_speed").cast("long").as("rank_speed"),
        col("rank_consistency").cast("long").as("rank_consistency"),
        col("rank_sum").cast("long").as("rank_sum"))
  }

  /** Q3 — grouped OLS slope via explicit moment aggregates; x is the
    * per-(user,type) occurrence index (deterministic integer regressor)
    * (reference: src/processing/tyre_degradation_by_stint.py:54-84). */
  private def q06(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type")).orderBy(col("event_id").asc)
    val indexed = cleanEvents(s, dir).withColumn("x", row_number().over(w))
    SlopeOLS.slopeByMoments(indexed, Seq("user_id", "event_type"),
        col("x"), col("value"), minN = 8)
      .select(col("user_id"), col("event_type"), col("n_obs"),
        col("min_x"), col("max_x"), r6(col("slope")).as("slope"))
      .orderBy(col("user_id").asc, col("event_type").asc)
  }

  /** Q3 built-in form — covar_pop/var_pop slope on the star-schema fact
    * (price vs quantity per supplier × returnflag). */
  private def q07(s: SparkSession, dir: String): DataFrame =
    SlopeOLS.slopeByCovar(Sources.tablePlain(s, dir, "lineitem"),
        Seq("l_suppkey", "l_returnflag"),
        col("l_quantity"), col("l_extendedprice"), minN = 8)
      .select(col("l_suppkey"), col("l_returnflag"), col("n_obs"),
        r6(col("slope")).as("slope"))
      .orderBy(col("l_suppkey").asc, col("l_returnflag").asc)

  /** Duplicate-key audit (reference: src/ingest/check_duplicates.py:15-33). */
  private def q08(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicateKeys(events(s, dir), Seq("user_id", "event_type", "value"))
      .agg(count(lit(1)).as("dup_key_count"))

  /** Upsert/latest-wins dedup by logical key (reference unique index +
    * upsert: src/ingest/create_indexes.py:13-23). */
  private def q09(s: SparkSession, dir: String): DataFrame =
    Dedup.latestByKey(events(s, dir), Seq("user_id", "event_type"), Seq(col("event_id")))
      .select(col("user_id"), col("event_type"),
        r6(col("value")).as("last_value"), col("event_id").as("last_event_id"))
      .orderBy(col("user_id").asc, col("event_type").asc)

  /** Integrity audit: counts / distincts / missing-field counts
    * (reference: src/ingest/check_counts.py:19-44). */
  private def q10(s: SparkSession, dir: String): DataFrame =
    Aggregates.integrity(eventsPlain(s, dir),
      distinctCols = Seq("user_id", "event_type"), missingCols = Seq("value"))

  // ---------------------------------------------- star-schema extensions

  /** Star join: fact ⋈ orders (shuffle/AQE) ⋈ broadcast dims, then grouped
    * revenue with an exact (order-independent) DECIMAL sum, rounded to
    * cents while still DECIMAL: rounding the double instead splits
    * engines at an exact half cent (…516.235 gives .24 in Spark and
    * .23 in DuckDB). */
  private def q11(s: SparkSession, dir: String): DataFrame = {
    // fact scan parallelized (the Sources.table guard): the single-row-group
    // fixture otherwise runs scan -> 4 BHJ probes -> decimal partial agg
    // on ONE task (measured 8.4 s of a 9.9 s sf1 run in one job)
    val li = Sources.table(s, dir, "lineitem")
    val o = Sources.table(s, dir, "orders")
    val joined = Joins.starBroadcast(
      li.join(o, col("l_orderkey") === col("o_orderkey")),
      Seq(
        Sources.table(s, dir, "customer") -> (col("o_custkey") === col("c_custkey")),
        Sources.table(s, dir, "nation") -> (col("c_nationkey") === col("n_nationkey")),
        Sources.table(s, dir, "region") -> (col("n_regionkey") === col("r_regionkey"))))
    joined
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_items"),
        Aggregates.exactSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      .select(col("r_name"), col("n_name"), col("n_items"),
        round(col("rev"), 2).cast("double").as("revenue"))
      .orderBy(col("r_name").asc, col("n_name").asc)
  }

  /** Left-semi join (EXISTS): suppliers with a heavy lineitem. */
  private def q12(s: SparkSession, dir: String): DataFrame =
    Joins.semi(Sources.table(s, dir, "supplier"),
        Sources.tablePlain(s, dir, "lineitem").filter(col("l_quantity") >= 45),
        col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey").asc)

  /** Left-anti join (NOT EXISTS): customers with no finalized orders. */
  private def q13(s: SparkSession, dir: String): DataFrame =
    Joins.anti(Sources.table(s, dir, "customer"),
        Sources.tablePlain(s, dir, "orders").filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey").asc)

  /** Global top-k (TakeOrderedAndProject): most expensive orders. */
  private def q14(s: SparkSession, dir: String): DataFrame =
    Ranking.topK(Sources.tablePlain(s, dir, "orders"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 20)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)

  /** Partitioned window functions: row_number / lag / running sum per
    * supplier. The running sum is over integral-valued doubles, so it is
    * exact under any frame-evaluation order. (l_orderkey, l_linenumber) is
    * NOT unique in the fixtures, so the window order extends through
    * partkey/quantity/extendedprice — remaining ties produce identical
    * output rows, keeping the result deterministic. */
  private def q15(s: SparkSession, dir: String): DataFrame = {
    val orderCols = Seq(col("l_orderkey").asc, col("l_linenumber").asc,
      col("l_partkey").asc, col("l_quantity").asc, col("l_extendedprice").asc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_suppkey"))
      .orderBy(orderCols: _*)
    Sources.tablePlain(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"),
        row_number().over(w).cast("long").as("rn"),
        lag(col("l_quantity"), 1).over(w).as("lag_qty"),
        sum(col("l_quantity"))
          .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
          .as("run_qty"))
      .orderBy(col("l_suppkey").asc +: orderCols: _*)
      .drop("l_quantity")
  }

  /** Set operations: (high-value purchasers ∪ signups) ∖ high-value
    * error-users, all distinct. */
  private def q16(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsPlain(s, dir)
    def users(t: String) = ev
      .filter(col("event_type") === t && col("value") > 150)
      .select(col("user_id"))
    users("purchase").union(users("signup")).distinct()
      .except(users("error"))
      .orderBy(col("user_id").asc)
  }

  /** Tumbling one-hour time windows over the event stream (batch form of
    * the Structured Streaming aggregation). */
  private def q17(s: SparkSession, dir: String): DataFrame =
    eventsPlain(s, dir)
      .groupBy(window(col("ts_utc"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        Aggregates.exactAvg(col("value")).as("avg_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n_events"),
        Aggregates.round6Portable(col("avg_value")).as("avg_value"))
      .orderBy(col("hour_start").asc, col("event_type").asc)

  /** Forward as-of join: each 'view' matched to the user's EARLIEST
    * at-or-after 'click' — the q34 operator with forward=true, against
    * DuckDB's native forward ASOF (`v.ts <= c.ts`). */
  private def q57(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsPlain(s, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    graft.operators.AsOfJoin.asofLeft(views, clicks,
        keys = Seq("user_id"), timeCol = "ts",
        carry = Map("event_id" -> "click_event_id", "value" -> "click_value"),
        forward = true)
      .select(col("event_id"), col("user_id"),
        col("click_event_id"), r6(col("click_value")).as("click_value"))
      .orderBy(col("event_id").asc)
  }

  /** Nearest as-of join: each 'view' matched to the user's click with
    * the smallest |Δt| in either direction (ties → the prior click) —
    * one union + shuffle + sort carrying both direction candidates.
    * Oracle composes DuckDB's two native ASOF directions and picks the
    * closer via epoch_ns arithmetic. */
  private def q66(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsPlain(s, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    graft.operators.AsOfJoin.asofNearest(views, clicks,
        keys = Seq("user_id"), timeCol = "ts",
        carry = Map("event_id" -> "click_event_id", "value" -> "click_value"))
      .select(col("event_id"), col("user_id"),
        col("click_event_id"), r6(col("click_value")).as("click_value"))
      .orderBy(col("event_id").asc)
  }

  /** Sliding one-hour windows every 30 minutes (window = 2 slides, so
    * each event lands in exactly two windows). Oracle replays the
    * alignment arithmetic on epoch micros — both engines align window
    * starts to the epoch. */
  private def q56(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts_utc"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        Aggregates.exactAvg(col("value")).as("avg_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n_events"),
        Aggregates.round6Portable(col("avg_value")).as("avg_value"))
      .orderBy(col("win_start").asc, col("event_type").asc)

  // ------------------------------------- LLM-data-pipeline extensions

  private def docs(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "documents")

  /** Fixture embedding dimensionality (shared with the q41 oracle SQL;
    * the Spark side derives dims from the data via posexplode). */
  private val EmbeddingDim = 64

  /** Per-document text-quality stats. */
  private def q18(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.textStats(docs(s, dir), TextAnalysis.stopwords("en"))
      .select(col("doc_id"), col("n_tokens"), col("n_stopwords"),
        r6(col("stopword_ratio")).as("stopword_ratio"),
        r6(col("avg_token_len")).as("avg_token_len"))
      .orderBy(col("doc_id").asc)

  /** Corpus composition per (lang, source). */
  private def q19(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.langSourceStats(docs(s, dir))
      .select(col("lang"), col("source"), col("n_docs"),
        r6(col("avg_chars")).as("avg_chars"), col("min_chars"), col("max_chars"))
      .orderBy(col("lang").asc, col("source").asc)

  /** Exact content dedup summary (md5 hash groups). */
  private def q20(s: SparkSession, dir: String): DataFrame =
    Dedup.exactDedupSummary(docs(s, dir), col("text"))

  /** MinHash + LSH near-duplicate candidate pairs. */
  private def q21(s: SparkSession, dir: String): DataFrame =
    // total ORDER BY matching the oracle: the pair set is deterministic
    // but its physical row order is not (it shifted when the bucket
    // table moved from persist to staged parquet) — every query ends
    // with an explicit sort for exactly this reason
    NearDup.minHashCandidates(docs(s, dir), MinhashK, LshBands, LshRows)
      .orderBy(col("doc_a").asc, col("doc_b").asc)

  /** q21's LSH candidate generation behind the per-bucket skew cap
    * ([[NearDup.minHashCandidatesCapped]]): identical pairs wherever no
    * bucket exceeds the cap (the fixture regime — the oracle mirrors
    * the cap logic either way), star-reduced pairs where a boilerplate
    * flood would otherwise go quadratic. The planted-flood spec
    * (NearDupSpec) exercises the over-cap path. */
  private def q163(s: SparkSession, dir: String): DataFrame =
    NearDup.minHashCandidatesCapped(docs(s, dir), MinhashK, LshBands,
        LshRows, LshBucketCap)
      .orderBy(col("doc_a").asc, col("doc_b").asc)

  /** q23's simhash pair generation behind the per-(band, bv) skew cap
    * ([[NearDup.simHashPairsCapped]]): identical pairs wherever no band
    * bucket exceeds the cap (the fixture regime — the oracle mirrors
    * the cap + star reduction in SQL either way), star-reduced
    * candidates with the exact hamming verify kept on every emitted
    * edge where a boilerplate flood would otherwise go quadratic. The
    * planted-flood spec (PipelineOpsSpec) exercises the over-cap path. */
  private def q166(s: SparkSession, dir: String): DataFrame =
    NearDup.simHashPairsCapped(NearDup.simHash(docs(s, dir)),
        SimHashMaxHamming, SimHashBucketCap)
      .orderBy(col("doc_a").asc, col("doc_b").asc)

  /** q50's 64-bit simhash pairs behind the same per-(band, bv) cap
    * ([[NearDup.simHash64PairsCapped]]) — the wide-fingerprint variant
    * for corpora where 8-bit buckets collide, with the identical
    * star-reduction + hamming-verify guard. */
  private def q167(s: SparkSession, dir: String): DataFrame =
    NearDup.simHash64PairsCapped(NearDup.simHash64(docs(s, dir)),
        SimHashMaxHamming, SimHashBucketCap)
      .orderBy(col("doc_a").asc, col("doc_b").asc)

  /** REAL image-codec round-trip ([[graft.operators.Multimodal]]):
    * genuine PNG bytes are encoded into the opaque binary column with
    * `javax.imageio` and parsed back — headers and pixel data — into
    * per-image stats, batched per partition. The pixel content derives
    * from doc_id alone, so the oracle replays the arithmetic in SQL
    * while the engine runs the true encode → binary column → decode
    * pipeline (the stubbed q29 path covers codecs the JDK lacks). */
  private def q169(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodePixelStats(s, Multimodal.pngPayloads(s, docs(s, dir)))
      .withColumn("avg_px", Aggregates.round6Portable(
        col("sum_px").cast("double") / col("n_pixels").cast("double")))
      .orderBy(col("doc_id").asc)

  /** BPE merge rounds learned over the corpus. */
  private val BpeRounds = 3

  /** Distributed BPE-style tokenizer training ([[graft.operators.Bpe]]):
    * iteratively learn the 3 most valuable merge rules — each round one
    * corpus-wide pair count (map-side combined, top-1 via TakeOrdered)
    * + one greedy window-arithmetic merge pass, per-round sequences
    * landed via Staging. The trainable step q99's static pair count
    * feeds. */
  private def q164(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.trainMerges(docs(s, dir), col("text"), BpeRounds)
      .orderBy(col("round").asc)

  /** Basis points (of 10000) and salt for q177's deterministic BPE
    * training sample — shared constants interpolated into the oracle. */
  private val BpeSampleBps = 4000
  private val BpeSampleSalt = "bpe-sample-v1"

  /** Sampled BPE training ([[graft.operators.Bpe.trainMergesSampled]]):
    * the q164 trainer over a deterministic 40% md5-bucket sample — the
    * scale path for tokenizer training (SCALE.md: full training was the
    * sf10 bench's largest outlier at 17× sf1 cost; pair statistics
    * converge on a sample, so production trains sampled and encodes
    * full). Same merge semantics, same pinned argmax order; the sample
    * is a pure function of (doc_id, salt), so the oracle reproduces the
    * exact subset. */
  private def q177(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.trainMergesSampled(docs(s, dir), col("text"),
        BpeRounds, col("doc_id"), BpeSampleBps, BpeSampleSalt)
      .orderBy(col("round").asc)

  /** Corpus compression from applying the [[q164]] merges: per-source
    * token totals before/after encoding — the tokenizer-efficiency
    * audit a training pipeline runs before committing a vocab. */
  private def q165(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val enc = graft.operators.Bpe.encode(d, col("text"), BpeRounds)
    d.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("nb"))
      .join(enc.select(col("doc_id"), size(col("toks")).cast("long").as("na")),
        Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nb")).as("toks_before"),
        sum(col("na")).as("toks_after"))
      .withColumn("compression", Aggregates.round6Portable(
        col("toks_after").cast("double") / col("toks_before").cast("double")))
      .orderBy(col("source").asc)
  }

  /** SimHash 32-bit fingerprints per document. */
  private def q22(s: SparkSession, dir: String): DataFrame =
    NearDup.simHash(docs(s, dir)).orderBy(col("doc_id").asc)

  /** SimHash near-dup pairs at Hamming distance ≤ 3. */
  private def q23(s: SparkSession, dir: String): DataFrame =
    NearDup.simHashPairs(NearDup.simHash(docs(s, dir)), maxHamming = SimHashMaxHamming)
      .orderBy(col("doc_a").asc, col("doc_b").asc)

  /** Exact 3-gram Jaccard over source-blocked candidate pairs. */
  private def q24(s: SparkSession, dir: String): DataFrame =
    NearDup.ngramJaccardPairs(docs(s, dir), "source",
      minJaccard = PairMinJaccard)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        r6(col("jaccard")).as("jaccard"))
      .orderBy(col("doc_a").asc, col("doc_b").asc)

  /** Brute-force cosine top-5 neighbours for the first 10 vectors. */
  private def q25(s: SparkSession, dir: String): DataFrame = {
    val emb = Sources.table(s, dir, "embeddings")
    Similarity.bruteForceKnn(emb, emb.filter(col("vec_id") < 10), k = 5)
      .withColumnRenamed("rank", "knn_rank")
      .orderBy(col("q_vec").asc, col("knn_rank").asc)
  }

  /** Per-vector L2 norms / dimensionality. */
  private def q26(s: SparkSession, dir: String): DataFrame =
    Similarity.norms(Sources.table(s, dir, "embeddings"))
      .select(col("vec_id"), col("dim"), r6(col("l2_norm")).as("l2_norm"))
      .orderBy(col("vec_id").asc)

  /** Stopword-profile language-ID confusion matrix. */
  private def q27(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.langIdConfusion(docs(s, dir))
      .orderBy(col("lang").asc, col("pred_lang").asc)

  /** Winnowing-style document fingerprints (4 smallest shingle hashes). */
  private def q28(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprints(docs(s, dir), k = 4)
      .orderBy(col("doc_id").asc)

  /** Multimodal binary-column plumbing with a stub decoder. */
  private def q29(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeFeatures(s, docs(s, dir))
      .select(col("doc_id"), col("n_bytes"), col("width"), col("height"), col("aspect"))
      .orderBy(col("doc_id").asc)

  /** Structured Streaming tumbling-window agg, run to completion over the
    * fixture batch — must equal the batch q17 result. */
  private def q30(s: SparkSession, dir: String): DataFrame =
    EventStream.runHourlyOnce(s, dir)

  /** LSH-bucketed approximate KNN (scale path). Approximate w.r.t.
    * brute force, but deterministic by construction — oracle'd by an
    * exact SQL mirror of the bucketing + scoring. */
  private def q31(s: SparkSession, dir: String): DataFrame = {
    val emb = Sources.table(s, dir, "embeddings")
    Similarity.lshBucketedKnn(emb, emb.filter(col("vec_id") < 10), k = 5, planes = 4)
      .withColumnRenamed("rank", "knn_rank")
      .orderBy(col("q_vec").asc, col("knn_rank").asc)
  }

  /** The reference's schema-adaptive "clean laps" filter chain
    * (load_clean_laps: null/NaN guard, set membership, equality, range,
    * optional columns probed before filtering), then a multi-key grouped
    * aggregate with HAVING (reference:
    * src/processing/fastest_vs_most_consistent_drivers.py:53-106). */
  private def q32(s: SparkSession, dir: String): DataFrame = {
    val base = withDay(events(s, dir))
      .withColumn("hour", hour(col("ts_utc")).cast("long"))
    val cleaned = Seq[DataFrame => DataFrame](
      df => df.filter(Cleaning.notMissing(col("value"))),
      df => df.filter(col("event_type").isin("click", "view", "purchase")),
      df => Cleaning.filterIfPresent(df, "user_id")(_.isNotNull),
      df => Cleaning.filterIfPresent(df, "props")(_.isNotNull),
      df => df.filter(col("value").cast("double") >= 5.0),
      // schema-adaptive no-op: column absent in this fixture, probed first
      df => Cleaning.filterIfPresent(df, "is_accurate")(_ === lit(true))
    ).foldLeft(base) { case (df, f) => f(df) }
    cleaned
      .groupBy(col("user_id"), col("event_type"), col("day"), col("hour"))
      .agg(count(lit(1)).as("n_events"),
        Aggregates.exactAvg(col("value")).as("avg_value"))
      .filter(col("n_events") >= 2)
      .select(col("user_id"), col("event_type"), col("day"), col("hour"),
        col("n_events"),
        Aggregates.round6Portable(col("avg_value")).as("avg_value"))
      .orderBy(col("user_id").asc, col("event_type").asc, col("day").asc,
        col("hour").asc)
  }

  /** Grouped OLS slope via the typed Aggregator UDAF — same math and
    * oracle shape as q06, exercised through Dataset.groupByKey.agg. */
  private def q33(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type")).orderBy(col("event_id").asc)
    val pts = cleanEventsPlain(s, dir)
      .withColumn("x", row_number().over(w).cast("double"))
      .select(col("user_id"), col("event_type"), col("x"), col("value"))
      .as[(Long, String, Double, Double)]
    pts.groupByKey { case (u, t, _, _) => (u, t) }
      .mapValues { case (_, _, x, y) => (x, y) }
      .agg(SlopeAggregator.agg.toColumn.name("out"))
      .toDF("key", "out")
      .select(col("key._1").as("user_id"), col("key._2").as("event_type"),
        col("out.n_obs").as("n_obs"), r6(col("out.slope")).as("slope"))
      .filter(col("n_obs") >= 8)
      .orderBy(col("user_id").asc, col("event_type").asc)
  }

  /** As-of join: each 'view' event matched to the user's latest
    * prior-or-equal 'click' (composed operator — Spark has no native
    * as-of join; DuckDB's native ASOF JOIN is the oracle). Times compared
    * on the raw microsecond longs so both engines see identical ordering. */
  private def q34(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsPlain(s, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    // note: no time-delta output — DuckDB rounds the ns parquet timestamps
    // to µs on read, so a derived lag would differ in the last digits even
    // though the matches themselves are identical
    graft.operators.AsOfJoin.asofLeft(views, clicks,
        keys = Seq("user_id"), timeCol = "ts",
        carry = Map("event_id" -> "click_event_id", "value" -> "click_value"))
      .select(col("event_id"), col("user_id"),
        col("click_event_id"), r6(col("click_value")).as("click_value"))
      .orderBy(col("event_id").asc)
  }

  /** Exact interpolated quantiles (Spark `percentile` ≡ DuckDB
    * `quantile_cont`) + exact distinct counts per group. */
  private def q35(s: SparkSession, dir: String): DataFrame =
    // parallelized scan: exact percentile's partial aggregation BUFFERS
    // every value on the (single-split) scan task otherwise
    Sources.table(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("median_raw"),
        expr("percentile(value, 0.9)").as("p90_raw"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("event_type"), r6(col("median_raw")).as("median_value"),
        r6(col("p90_raw")).as("p90_value"), col("n_users"))
      .orderBy(col("event_type").asc)

  /** Sketch aggregates (HLL++ distinct, approximate quantiles): sketch
    * internals differ between engines, so this query has no SQL oracle —
    * the driver records the rows-only check. At 100 TB these replace their
    * exact counterparts: fixed-size state, one pass, mergeable. */
  private def q36(s: SparkSession, dir: String): DataFrame =
    // tablePlain, NOT the guarded default: percentile_approx's GK sketch
    // is merge-order-sensitive once groups exceed its accuracy (10⁴), so
    // the parallelizing repartition could change the declared approximate
    // result at SFs where the guard fires. Semantics opt-out, not perf.
    Sources.tablePlain(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        approx_count_distinct(col("value"), 0.01).as("approx_values"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("approx_median"))
      .orderBy(col("event_type").asc)

  /** percentile_approx in its EXACT regime — the q76 trick (Space-Saving
    * with capacity ≥ vocabulary) applied to the quantile sketch: GK with
    * accuracy ≫ n bounds rank error εn < 1, so the sketch returns a true
    * order statistic and pairs with DuckDB `quantile_disc` exactly. q36
    * keeps the default-accuracy sketch behavior (rows-only by design);
    * this query proves the quantile path itself against the oracle. At
    * 100 TB the SAME expression with accuracy ~10⁴ is the one-pass
    * mergeable sketch — exactness degrades gracefully with n/accuracy,
    * nothing else in the plan changes. */
  private def q135(s: SparkSession, dir: String): DataFrame =
    cleanEventsPlain(s, dir)
      .groupBy(col("event_type"))
      .agg(count(col("value")).as("n"),
        // accuracy 10M keeps εn < 1 (the exact regime) through the sf10
        // scale proof — the largest clean group there is 2.0M values,
        // which sat exactly on the old 2M bound (εn ≈ 1.0006: the
        // guarantee boundary, where the sketch may legally return a
        // neighbor rank and break the order-statistic oracle match)
        percentile_approx(col("value"), lit(0.5), lit(10000000)).as("__p50"),
        percentile_approx(col("value"), lit(0.9), lit(10000000)).as("__p90"))
      .select(col("event_type"), col("n"),
        Aggregates.round6Portable(col("__p50")).as("p50"),
        Aggregates.round6Portable(col("__p90")).as("p90"))
      .orderBy(col("event_type").asc)

  /** Distribution-position window functions — ntile/percent_rank/
    * cume_dist, the last ranking-family members the catalog didn't
    * exercise. Quartile buckets per event_type with per-bucket value
    * range and the top row's percent_rank/cume_dist; the window orders
    * by (value, event_id) so ties are broken deterministically — with a
    * unique total order all three functions are engine-portable (ntile
    * bucket assignment is order-dependent under ties, rank-based
    * percent_rank/cume_dist collapse to row_number forms). Scale shape:
    * one sort per event_type partition (the same shuffle any exact
    * ranking needs); at 100 TB prefer the mergeable GK sketch (q135)
    * when ±εn rank error is acceptable — this exact form is for
    * cardinality-bounded keys. */
  private def q134(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").asc, col("event_id").asc)
    cleanEventsPlain(s, dir)
      .select(col("event_type"), col("value"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("__pr"),
        cume_dist().over(w).as("__cd"))
      .groupBy(col("event_type"), col("quartile"))
      .agg(count(lit(1)).as("n"),
        Aggregates.round6Portable(min(col("value"))).as("lo"),
        Aggregates.round6Portable(max(col("value"))).as("hi"),
        Aggregates.round6Portable(max(col("__pr"))).as("max_pct_rank"),
        Aggregates.round6Portable(max(col("__cd"))).as("max_cume_dist"))
      .orderBy(col("event_type").asc, col("quartile").asc)
  }

  /** Gap-based sessionization with Spark's native `session_window`
    * (1-hour inactivity gap), oracle'd by the equivalent lag/cumulative-sum
    * formulation in SQL. Output uses per-user session ordinals instead of
    * timestamps (engines round the ns fixtures differently at µs). */
  private def q37(s: SparkSession, dir: String): DataFrame = {
    val sess = events(s, dir)
      .groupBy(session_window(col("ts_utc"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        Aggregates.exactAvg(col("value")).as("avg_value"))
      .select(col("user_id"), col("session_window.start").as("st"),
        col("n_events"), col("avg_value"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("st").asc)
    sess.withColumn("session_ordinal", row_number().over(w).cast("long"))
      .select(col("user_id"), col("session_ordinal"), col("n_events"),
        Aggregates.round6Portable(col("avg_value")).as("avg_value"))
      .orderBy(col("user_id").asc, col("session_ordinal").asc)
  }

  /** Star-fact integrity audit (counts / distincts / missing) — the
    * check_counts analog over lineitem. */
  private def q38(s: SparkSession, dir: String): DataFrame =
    Aggregates.integrity(Sources.table(s, dir, "lineitem"),
      distinctCols = Seq("l_suppkey", "l_partkey", "l_returnflag"),
      missingCols = Seq("l_quantity", "l_extendedprice"))

  /** ROLLUP subtotal hierarchy over the fact table, via hierarchical
    * re-aggregation (Expand runs over the tiny per-group result, not the
    * fact — see Aggregates.rollupReagg). NULLS FIRST pinned on both
    * sides — Spark's asc default vs DuckDB's NULLS LAST default would
    * otherwise reorder subtotal rows. Revenue is rounded to cents while
    * still DECIMAL, like q11: the exact sum carries sub-cent digits. */
  private def q39(s: SparkSession, dir: String): DataFrame =
    Aggregates.rollupReagg(Sources.table(s, dir, "lineitem"),
        keys = Seq(col("l_returnflag"), col("l_linestatus")),
        aggs = Seq(count(lit(1)).as("n_items"),
          Aggregates.exactSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev")),
        reaggs = Seq(sum(col("n_items")).as("n_items"), sum(col("rev")).as("rev")))
      .select(col("l_returnflag"), col("l_linestatus"), col("n_items"),
        round(col("rev"), 2).cast("double").as("revenue"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Static pivot: per-user average value by event type (CASE-based
    * equivalent in the oracle keeps it engine-portable). */
  private def q40(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    cleanEvents(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(Aggregates.exactAvg(col("value")))
      .select(col("user_id") +: types.map(t =>
        Aggregates.round6Portable(col(t)).as(s"avg_$t")): _*)
      .orderBy(col("user_id").asc)
  }

  /** UNPIVOT/melt — the wide→long inverse of q40's PIVOT: the per-type
    * average columns fold back into (event_type, avg_value) rows. NULL
    * cells (user never produced that type) are filtered explicitly on
    * both sides — Spark's unpivot keeps them, DuckDB's drops them, so
    * the contract is pinned rather than inherited. */
  private def q72(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    q40(s, dir).unpivot(
        Array(col("user_id")),
        types.map(t => col(s"avg_$t").as(t)).toArray,
        "event_type", "avg_value")
      .filter(col("avg_value").isNotNull)
      .orderBy(col("user_id").asc, col("event_type").asc)
  }

  /** Dynamic PIVOT: no explicit value list — Spark runs an extra
    * distinct-collect job on the driver to discover the columns. The
    * scale contract is the caller's: value cardinality must be bounded
    * (here: event types). Prefer q40's explicit form when values are
    * known — it skips the discovery job entirely. */
  private def q73(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val pivoted = cleanEventsPlain(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type") // discovered, not declared
      .agg(Aggregates.exactAvg(col("value")))
    // a type absent from the data gets NO column from the dynamic
    // pivot; emit a typed NULL so the schema (and the oracle, whose
    // CASE always yields the column) stays stable across SFs
    val have = pivoted.columns.toSet
    pivoted
      .select(col("user_id") +: types.map { t =>
        (if (have(t)) Aggregates.round6Portable(col(t))
         else lit(null).cast("double")).as(s"avg_$t")
      }: _*)
      .orderBy(col("user_id").asc)
  }

  /** MapType surface: per-user map of event_type → count built with
    * map_from_entries over a sorted collect_list, then exploded back to
    * rows — proves map construction, field access, and explosion are
    * all consistent (the oracle checks the flattened equivalent). */
  private def q74(s: SparkSession, dir: String): DataFrame = {
    val counts = cleanEventsPlain(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    counts
      .groupBy(col("user_id"))
      .agg(map_from_entries(array_sort(
        collect_list(struct(col("event_type"), col("n"))))).as("m"))
      .select(col("user_id"), explode(col("m")).as(Seq("event_type", "n_events")))
      .orderBy(col("user_id").asc, col("event_type").asc)
  }

  /** Keyset-free pagination: ORDER BY + LIMIT/OFFSET (page 3 of the
    * price-ranked orders). OFFSET still SCANS the skipped rows — at
    * 100 TB paginate by keyset (WHERE price < last_seen) instead; this
    * query exists for surface parity. */
  private def q75(s: SparkSession, dir: String): DataFrame =
    Sources.tablePlain(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
      .offset(20).limit(10)

  /** Heavy hitters (Space-Saving TypedImperativeAggregate): top corpus
    * tokens in O(k) memory per partition regardless of vocabulary size.
    * Space-Saving with capacity ≥ the distinct-item count is EXACT (no
    * counter is ever evicted, so every count is the true count and every
    * err is 0, under any partition split or merge order) — the fixture
    * vocabulary is 31 tokens at every SF, so k=64 makes this query
    * hash-comparable to a plain GROUP BY oracle while still exercising
    * the full sketch machinery (per-partition buffers, serialize, merge).
    * Beyond-vocabulary corpora degrade gracefully to the approximate
    * regime, whose recall/error bounds are spec-tested separately. */
  private def q76(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .agg(graft.functions.SpaceSaving.approxHeavyHitters(col("tok"), 64).as("hh"))
      .select(explode(col("hh")).as("h"))
      .select(col("h.item"), col("h.cnt"), col("h.err"))
      .orderBy(col("cnt").desc, col("item").asc)

  /** Grouping markers: grouping()/grouping_id() distinguish a
    * data-NULL key from a subtotal row — the semantic gap raw
    * ROLLUP output (q39) cannot express. Runs on the hierarchical
    * re-agg; the markers come from the outer grouping-set node, so
    * re-agg and direct forms agree. */
  private def q77(s: SparkSession, dir: String): DataFrame =
    Aggregates.rollupReagg(Sources.tablePlain(s, dir, "lineitem"),
        keys = Seq(col("l_returnflag"), col("l_linestatus")),
        aggs = Seq(count(lit(1)).as("n_items")),
        reaggs = Seq(sum(col("n_items")).as("n_items"),
          grouping(col("l_returnflag")).cast("long").as("g_rf"),
          grouping(col("l_linestatus")).cast("long").as("g_ls"),
          grouping_id().cast("long").as("gid")))
      .select(col("l_returnflag"), col("l_linestatus"), col("n_items"),
        col("g_rf"), col("g_ls"), col("gid"))
      .orderBy(col("gid").asc, col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Compound-level slope summary — the reference's one computation
    * with no declared query until now (notebook_final_report/
    * f1_project_report.ipynb cell 32: pandas mean of per-(driver,
    * compound) lap-time slopes per compound): re-aggregate the q06
    * per-(user, event_type) OLS slopes to a per-event_type mean. Level
    * 1 is the same moment-sketch aggregation as q06 (slopes reported
    * at the engine's 6-decimal boundary); level 2 sums those exact
    * decimals — the q02/q04 hierarchical re-agg discipline, so the
    * coarse mean is partition-order-free and oracle-portable. */
  private def q78(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type")).orderBy(col("event_id").asc)
    val indexed = cleanEventsPlain(s, dir).withColumn("x", row_number().over(w))
    val fine = SlopeOLS.slopeByMoments(indexed, Seq("user_id", "event_type"),
        col("x"), col("value"), minN = 8)
      .withColumn("slope_r", r6(col("slope")))
    fine.groupBy(col("event_type"))
      .agg(count(col("slope_r")).as("n_groups"),
        (Aggregates.exactSum(col("slope_r")).cast("double") /
          count(col("slope_r"))).as("__m"))
      .select(col("event_type"), col("n_groups"),
        Aggregates.round6Portable(col("__m")).as("mean_slope"))
      .orderBy(col("event_type").asc)
  }

  /** Run SQL against fixture tables bound as temp views WITHOUT
    * clobbering the session catalog: `spark.sql` analyzes eagerly (the
    * returned frame's plan is bound to the resolved relations, not the
    * view names), so any pre-existing same-named view the user
    * registered (e.g. via `Sources.registerTables`) is restored — or
    * dropped if we created it — before returning. */
  private def sqlOverTables(s: SparkSession, dir: String,
                            names: Seq[String], sql: String,
                            plain: Boolean = false): DataFrame = {
    val prior = names.map(n => n -> scala.util.Try(s.table(n)).toOption).toMap
    names.foreach(n => (if (plain) Sources.tablePlain(s, dir, n)
                        else Sources.table(s, dir, n)).createOrReplaceTempView(n))
    try s.sql(sql)
    finally names.foreach { n =>
      prior(n) match {
        case Some(df) => df.createOrReplaceTempView(n)
        case None => s.catalog.dropTempView(n)
      }
    }
  }

  /** Uncorrelated scalar subquery: orders priced above 1.5× the corpus
    * mean — `WHERE x > (SELECT ...)` planned as a one-row subquery
    * broadcast into the scan filter, NOT a join (the plan carries a
    * ReusedSubquery/Subquery node; zero shuffles beyond the scan). The
    * inner mean uses the exact-decimal idiom VERBATIM in both engines,
    * so the threshold is bit-identical and no boundary row can flip. */
  private def q79(s: SparkSession, dir: String): DataFrame =
    sqlOverTables(s, dir, Seq("orders"), """
      SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
      FROM orders
      WHERE o_totalprice > 1.5 * (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                                         / count(o_totalprice) FROM orders)
      ORDER BY o_orderkey ASC""")

  /** Correlated EXISTS + NOT EXISTS: customers with at least one
    * premium order and no bargain order. Catalyst decorrelates both
    * predicates into a LeftSemi and a LeftAnti hash join on o_custkey —
    * asserted by PlanInvariantsSpec (no CartesianProduct, both join
    * types present), i.e. the classic rewrite a 100 TB plan needs
    * (a per-row subquery re-scan would be O(|customer|·|orders|)). */
  private def q80(s: SparkSession, dir: String): DataFrame =
    // plain: the decorrelated semi/anti probes follow a cheap scan —
    // the parallelizing hop is a paired-probe loss (sf1 +0.16 s twice)
    sqlOverTables(s, dir, Seq("orders", "customer"), plain = true, sql = """
      SELECT c_custkey, c_name
      FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_totalprice < 10000)
      ORDER BY c_custkey ASC""")

  /** Hourly resample + forward-fill (gap filling) — the time-series
    * feature-engineering staple (pandas `resample('1h').ffill()`) the
    * catalog lacked. The oracle states it naively (generate_series
    * grid → left join → last IGNORE NULLS window); this side computes
    * the IDENTICAL stats in run-length form: per-(user, hour) LAST
    * observation via `max(struct(event_id, value))` (one hash agg,
    * deterministic arg-max on the unique event id), then each
    * observation carries `gap = next_h − h` hours (lead + partition-max
    * in ONE per-user sort), so Σ fv over the grid becomes the exact
    * decimal Σ dec6(v)·gap — no grid row is ever materialized. Work
    * scales with |observations|, not Σ spans: the naive grid form ran
    * 1.87 s at sf0.1 (1 M exploded rows + join + window), this one
    * ~0.5 s, and at 100 TB a sparse series (year span, hourly obs 1%
    * dense) would explode 100× its own size — run-length is the only
    * shape that survives. The first grid hour always holds an
    * observation (the span starts at one), so the fill is total and
    * the two forms agree exactly. */
  private def q82(s: SparkSession, dir: String): DataFrame = {
    val clean = cleanEvents(s, dir)
      .withColumn("h", expr("ts div 3600000000"))
    val obs = clean.groupBy(col("user_id"), col("h"))
      .agg(max(struct(col("event_id"), col("value"))).getField("value").as("v"))
    graft.operators.TimeSeries.resampleFfillStats(obs, "user_id", "h", "v")
      .select(col("user_id"), col("n_buckets").as("n_hours"),
        col("n_observed"), col("avg_filled"))
      .orderBy(col("user_id").asc)
  }

  /** Ratio-to-report: each line status's share of its return flag's
    * revenue — a windowed aggregate (sum over partition) dividing the
    * row's own aggregate, the classic share-of-total idiom. Both the
    * numerator and the partition total are exact DECIMAL sums, so the
    * one double division per output row is bit-portable; the window
    * runs over the tiny post-agg table (|groups| rows), never the
    * fact scan. */
  private def q83(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = Sources.table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(Aggregates.exactSum(
        col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    g.select(col("l_returnflag"), col("l_linestatus"),
        // decimal-domain 2-dp round (portable; see q95's note)
        round(col("rev"), 2).cast("double").as("revenue"),
        Aggregates.round6Portable(col("rev").cast("double") /
          sum(col("rev")).over(Window.partitionBy(col("l_returnflag")))
            .cast("double")).as("share"))
      .orderBy(col("l_returnflag").asc, col("l_linestatus").asc)
  }

  /** Multiset set-ops (q16 covers the DISTINCT forms): INTERSECT for
    * customers in both price bands, EXCEPT ALL for the bag difference
    * (a customer with 3 premium and 1 bargain order keeps 2 rows —
    * per-key multiplicity, which EXCEPT DISTINCT destroys). Both plan
    * as hash aggregates + one join, no pair explosion. */
  private def q81(s: SparkSession, dir: String): DataFrame = {
    def band(lo: Boolean) = Sources.table(s, dir, "orders")
      .filter(if (lo) col("o_totalprice") < 50000 else col("o_totalprice") >= 300000)
      .select(col("o_custkey"))
    val inter = band(lo = false).intersect(band(lo = true))
      .select(lit("intersect").as("op"), col("o_custkey"), lit(1L).as("n"))
    val diff = band(lo = false).exceptAll(band(lo = true))
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      .select(lit("except_all").as("op"), col("o_custkey"), col("n"))
    inter.union(diff)
      .orderBy(col("op").asc, col("o_custkey").asc)
  }

  /** BM25 top-k lexical retrieval (Lucene-form idf) for a fixed term
    * bag — one corpus scan, tiny broadcast stats, bounded top-k; see
    * [[graft.operators.Retrieval.bm25TopK]] for the plan shape and
    * the per-term DECIMAL(18,6) rounding that makes the double `ln`
    * the only (±1 ulp, pre-rounding) library call in the score. */
  private def q84(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.bm25TopK(Sources.table(s, dir, "documents"),
      Seq("spark", "join", "window", "merge"), k = 20)

  /** Overlapping token-window chunking (50-token chunks, stride 40) —
    * the doc→embedding-unit splitter; a narrow generate+project with
    * zero shuffles ([[TextAnalysis.chunkTokens]]). Chunk bodies are
    * md5'd so the fixture output stays hash-comparable. */
  private def q85(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkTokens(Sources.table(s, dir, "documents"), 50, 40)
      .orderBy(col("doc_id").asc, col("chunk_id").asc)

  /** Regex redaction with audit counts ([[TextAnalysis.redact]]):
    * scrub a token class ('customer'|'order' standing in for the
    * PII classes a release pipeline strips) and count matches per
    * document — pure projection, pattern valid in Java regex and RE2
    * alike so the oracle states the identical scrub. */
  private def q86(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.redact(Sources.table(s, dir, "documents"),
        "\\b(customer|order)\\b", "[PII]")
      .select(col("doc_id"), col("n_redacted"), md5(col("text")).as("redacted_md5"))
      .orderBy(col("doc_id").asc)

  /** Brand revenue through the SALTED join path ([[Joins.saltedJoin]]):
    * the skew-mitigation shape — hot fact keys sharded across 8 salt
    * buckets, the dim side exploded ×8 — producing results identical
    * to the plain join (the oracle IS the plain join). On fixtures no
    * key is degenerate; the query exists to keep the salted plan
    * (no cartesian, dim explode above the broadcast) under the
    * correctness gate, because at 100 TB the one-hot-key fact table
    * is where AQE's split-by-size gives up and salting is the fix. */
  private def q87(s: SparkSession, dir: String): DataFrame = {
    // parallelized fact scan: the salted-join probe chain is scan-fused
    val li = Sources.table(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_orderkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    val dim = Sources.table(s, dir, "part")
      .select(col("p_partkey").as("l_partkey"), col("p_brand"))
    Joins.saltedJoin(li, dim, "l_partkey", saltBuckets = 8, saltSource = col("l_orderkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"), Aggregates.exactSum(col("rev")).as("__rev"))
      .select(col("p_brand"), col("n_items"),
        // decimal-domain 2-dp round (portable; see q95's note)
        round(col("__rev"), 2).cast("double").as("revenue"))
      .orderBy(col("p_brand").asc)
  }

  /** Deterministic stratified fixed-n sample: exactly 3 documents per
    * source, chosen by portable md5(doc_id) order (same idiom as q54's
    * mixture rates — membership is a pure function of the data, so any
    * engine/partitioning/rerun picks the identical rows). The
    * row_number ≤ n idiom is rewritten to bounded per-group heaps by
    * `RewriteRowNumberTopK`, so only k·|groups| rows cross the wire. */
  private def q88(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
    Sources.table(s, dir, "documents")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("source"), col("doc_id"), col("rn"))
      .orderBy(col("source").asc, col("rn").asc)
  }

  /** Vocabulary pairs within edit distance 1 via SymSpell delete-one
    * blocking ([[graft.operators.Fuzzy.editDistanceOnePairs]]) — the
    * typo/variant merge step. The oracle brute-forces |V|² levenshtein
    * (fine at fixture vocabulary); the engine side never builds the
    * cross product. */
  private def q89(s: SparkSession, dir: String): DataFrame =
    graft.operators.Fuzzy.editDistanceOnePairs(
        Sources.table(s, dir, "part").select(col("p_brand").as("tok")), "tok")
      .orderBy(col("tok_a").asc, col("tok_b").asc)

  /** Ordered conversion funnel view → click → purchase: each stage
    * keeps users whose earliest stage-event strictly follows their
    * earliest prior-stage event (event_id is the unique order). Three
    * per-user aggregates chained by joins on user_id — the stage
    * tables are |users|-sized, so at scale each join broadcasts; no
    * window, no self-cross. */
  private def q90(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsPlain(s, dir)
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("event_id")).as("e1"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("event_id") > col("e1"))
      .groupBy(col("user_id")).agg(min(col("event_id")).as("e2"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("event_id") > col("e2"))
      .groupBy(col("user_id")).agg(min(col("event_id")).as("e3"))
    Seq("1_view" -> v, "2_click" -> c, "3_purchase" -> p)
      .map { case (n, df) => df.agg(count(lit(1)).as("n_users"))
        .select(lit(n).as("stage"), col("n_users")) }
      .reduce(_ union _)
      .orderBy(col("stage").asc)
  }

  /** Cohort retention: users bucketed by their first active day, then
    * distinct-active (cohort_day, day-offset) counts — the classic
    * product-analytics matrix. Day ids stay in exact integer `div`
    * arithmetic on the µs epoch. Two user-keyed aggregates + one join; the
    * cohort table is |users|-sized. */
  private def q91(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsPlain(s, dir)
      .select(col("user_id"), expr("ts div 86400000000").as("d"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("d")).as("cohort_d"))
    ev.distinct()
      .join(cohort, "user_id")
      .withColumn("offset_d", col("d") - col("cohort_d"))
      .groupBy(col("cohort_d"), col("offset_d"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_d").asc, col("offset_d").asc)
  }

  /** Pearson correlation from EXACT decimal moments: corr(qty, price)
    * per return flag via the 5-sum closed form, every Σ accumulated at
    * DECIMAL(38,12) (order-free under any partial-agg merge), the
    * final combination in doubles with identical operand order on both
    * engines (±, ×, ÷, √ are all IEEE-correctly-rounded — no library
    * call at all, unlike built-in `corr`, whose double accumulation is
    * partition-order-dependent). One hash agg on the fact scan. */
  private def q92(s: SparkSession, dir: String): DataFrame = {
    // Scaled-INTEGER moments: quantity is integral and price is 2-dp
    // money, so x = quantity and y = price CENTS are exact longs and
    // the five Σs run as limbSums two-limb long accumulations — whole
    // per-row path in codegen, no per-row BigDecimal (measured ~6× vs
    // DECIMAL(38,12) accumulators), reconstructed exactly per group.
    // Pearson correlation is scale-invariant, so the cents domain is
    // the same statistic; the oracle accumulates the SAME integers
    // (DuckDB sums BIGINT into exact HUGEINT).
    def dbl(c: String) = col(c).cast("double")
    val q = col("l_quantity").cast("long")
    val pc = floor(col("l_extendedprice") * lit(100) + lit(0.5)).cast("long")
    val aggs = Aggregates.limbSums(q, "sx") ++ Aggregates.limbSums(pc, "sy") ++
      Aggregates.limbSums(q * pc, "sxy") ++ Aggregates.limbSums(q * q, "sxx") ++
      Aggregates.limbSums(pc * pc, "syy")
    Sources.tablePlain(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), aggs: _*)
      .select(col("l_returnflag"), col("n"),
        Aggregates.limbTotal("sx").as("sx"), Aggregates.limbTotal("sy").as("sy"),
        Aggregates.limbTotal("sxy").as("sxy"),
        Aggregates.limbTotal("sxx").as("sxx"),
        Aggregates.limbTotal("syy").as("syy"))
      .select(col("l_returnflag"), col("n"),
        Aggregates.round6Portable(
          ((col("n") * dbl("sxy")) - (dbl("sx") * dbl("sy"))) /
            (sqrt((col("n") * dbl("sxx")) - (dbl("sx") * dbl("sx"))) *
             sqrt((col("n") * dbl("syy")) - (dbl("sy") * dbl("sy"))))
        ).as("corr_qty_price"))
      .orderBy(col("l_returnflag").asc)
  }

  /** Null-safe join semantics (`<=>` / IS NOT DISTINCT FROM): view and
    * click volumes matched on a NULLABLE key (k mod 10, zero mapped to
    * NULL via nullif) — the one equality where NULL meets NULL. The
    * null group joins like any other; a plain `=` would silently drop
    * it. Aggregate-then-join: both sides are |keys|-sized. */
  private def q93(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .withColumn("kk", expr("nullif(k % 10, 0)"))
    def side(t: String) = ev.filter(col("event_type") === t)
      .groupBy(col("kk")).agg(count(lit(1)).as(s"n_$t"))
    val v = side("view")
    val c = side("click").withColumnRenamed("kk", "kk_c")
    v.join(c, v("kk") <=> c("kk_c"))
      .select(col("kk"), col("n_view"), col("n_click"))
      .orderBy(col("kk").asc_nulls_first)
  }

  /** Min-gap event thinning (debounce-style dedup): drop events closer
    * than 60 s to the PREVIOUS event of the same user (lag over the
    * (ts, event_id) total order — strictly windowed, one shuffle on
    * user_id, no running state). Gap arithmetic stays on the exact µs
    * longs. Emits per-user kept/total audit counts. */
  private def q94(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    eventsPlain(s, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        count(when(col("prev_ts").isNull ||
          col("ts") - col("prev_ts") >= lit(60000000L), lit(1))).as("n_kept"))
      .orderBy(col("user_id").asc)
  }

  /** Week-over-week revenue change per return flag: weekly exact-decimal
    * revenue, lag window for the prior week, delta in exact decimal and
    * pct in portable-rounded double. Week ids are integer `div` over
    * epoch days — no calendar-week convention to disagree on. The lag
    * window runs over the |flags|×|weeks| post-agg table, not the scan. */
  private def q95(s: SparkSession, dir: String): DataFrame = {
    val wk = expr("datediff(l_shipdate, DATE '1970-01-01') div 7").cast("long")
    val g = Sources.table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), wk.as("wk"))
      .agg(Aggregates.exactSum(
        col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_returnflag")).orderBy(col("wk").asc)
    // 2-dp rounding happens in the EXACT decimal domain (round() is
    // HALF_UP-away-from-zero on decimals in BOTH engines; decimal CASTs
    // would not do — DuckDB's truncates), then converts to double —
    // rounding the double instead diverges when the decimal sum's .xx5
    // midpoint has no exact binary form (observed: 2630616.675 → Spark
    // .68 via shortest-repr HALF_UP, DuckDB .67 via the binary value)
    g.withColumn("prev", lag(col("rev"), 1).over(w))
      .select(col("l_returnflag"), col("wk"),
        round(col("rev"), 2).cast("double").as("revenue"),
        round(col("rev") - col("prev"), 2).cast("double").as("wow_delta"),
        Aggregates.round6Portable((col("rev") - col("prev")).cast("double") /
          col("prev").cast("double")).as("wow_pct"))
      .orderBy(col("l_returnflag").asc, col("wk").asc)
  }

  /** Triangle participation per document over the near-dup pair graph
    * ([[graft.operators.Graph.triangleCounts]]): the clustering-
    * coefficient signal that separates true duplicate CLIQUES (every
    * pair also pairs with each other) from chains of borderline
    * matches. Consumes the same staged pair table as q58/q59 — no
    * fingerprint recompute; edge-iterator wedge joins, no cross
    * product (covered by the catalog-wide no-cartesian plan test). */
  private def q96(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.triangleCounts(stagedSimhashPairs(s, dir), "doc_a", "doc_b")
      .select(col("node").as("doc_id"), col("n_triangles"))
      .orderBy(col("doc_id").asc)

  /** Benchmark decontamination ([[TextAnalysis.ngramContamination]]):
    * src0 plays the held-out eval set, every other source is training
    * data; 5-gram collisions flag leaked passages. The eval gram set is
    * BROADCAST (benchmarks are MBs; the corpus is the 100 TB side), so
    * the whole check is a map-side probe — only contaminated docs are
    * reported. */
  private def q97(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    TextAnalysis.ngramContamination(
        d.filter(col("source") =!= "src0"), d.filter(col("source") === "src0"), n = 5)
      .filter(col("n_contaminated") > 0)
      .select(col("doc_id"), col("n_grams"), col("n_contaminated"),
        Aggregates.round6Portable(col("contamination")).as("contamination"))
      .orderBy(col("doc_id").asc)
  }

  /** Sequence-packing placement ([[graft.operators.Packing.packedSpans]]):
    * concat-and-chunk each source's documents (doc_id order) into
    * 256-token training chunks — per-doc token offset and the chunk ids
    * it spans, in pure integral window arithmetic. One hash shuffle on
    * source; groups pack independently (no global sequential stream). */
  private def q98(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.packedSpans(docs(s, dir), "source", "doc_id",
        size(graft.functions.TextFns.tokens(col("text"))), capacity = 256)
      .orderBy(col("source").asc, col("doc_id").asc)

  /** Adjacent-token pair frequencies, global top 20
    * ([[TextAnalysis.adjacentPairCounts]]) — the first BPE merge-step
    * statistic. Generate → map-side combine → one reduced shuffle; the
    * top-k runs on the |pairs| table via TakeOrderedAndProject. */
  private def q99(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.adjacentPairCounts(docs(s, dir))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(20)

  /** Token co-occurrence lift over the top-30-df vocabulary
    * ([[TextAnalysis.cooccurrenceLift]]), pairs in ≥ 5 docs — the
    * PMI-family association signal in engine-exact ratio form. Vocab is
    * broadcast; per-doc pair fan-out is C(30,2)-bounded. */
  private def q100(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.cooccurrenceLift(docs(s, dir), vocabSize = 30, minPairDf = 5L)
      .select(col("tok_a"), col("tok_b"), col("df_a"), col("df_b"), col("df_ab"),
        Aggregates.round6Portable(col("lift")).as("lift"))
      .orderBy(col("tok_a").asc, col("tok_b").asc)

  /** Fixed-point PageRank over the staged near-dup pair graph
    * ([[graft.operators.Graph.pageRankFixedPoint]], 4 rounds, d=0.85,
    * base 10¹²): which cluster member is the hub every other duplicate
    * points at — a centrality-based canonical-pick signal. Integer
    * micro-unit arithmetic end to end, so ranks are bit-identical
    * across engines and partitionings (the oracle re-runs the same
    * recurrence in SQL). Consumes the SAME staged pair table as
    * q58/q59/q96 — no fingerprint recompute. */
  private def q101(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.pageRankFixedPoint(
        stagedSimhashPairs(s, dir), "doc_a", "doc_b", iterations = 4)
      .select(col("n").as("doc_id"), col("rank_fp"))
      .orderBy(col("doc_id").asc)

  /** Full regression line per return flag ([[SlopeOLS.fitLineExact]]):
    * slope AND intercept AND R² of price~quantity from exact decimal
    * moments — the q92 order-free discipline applied to the whole fit,
    * one hash agg on the fact scan. */
  private def q102(s: SparkSession, dir: String): DataFrame =
    // fixed-point path (limb long sums; see q92): y in cents, so slope
    // and intercept come out ×100 and one double division restores
    // dollars — the identical literal division sits in the oracle
    SlopeOLS.fitLineFixedPoint(Sources.tablePlain(s, dir, "lineitem"),
        Seq("l_returnflag"), col("l_quantity").cast("long"),
        floor(col("l_extendedprice") * lit(100) + lit(0.5)).cast("long"),
        minN = 1)
      .select(col("l_returnflag"), col("n_obs"),
        Aggregates.round6Portable(col("slope") / 100).as("slope"),
        Aggregates.round6Portable(col("intercept") / 100).as("intercept"),
        Aggregates.round6Portable(col("r2")).as("r2"))
      .orderBy(col("l_returnflag").asc)

  /** Per-document token diversity as Gini impurity
    * ([[TextAnalysis.tokenGini]]): unigram concentration in pure
    * rational arithmetic (no `log`, engine-exact) — the entropy-family
    * quality signal next to q51's 3-gram repetition ratio. */
  private def q103(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenGini(docs(s, dir))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        Aggregates.round6Portable(col("gini")).as("gini"))
      .orderBy(col("doc_id").asc)

  /** Pairwise source-vocabulary Jaccard
    * ([[TextAnalysis.vocabJaccardMatrix]]): which corpus slices are
    * near-mirrors, from exact integer set sizes over the inverted
    * (source, token) index — C(20,2) output rows at any corpus scale. */
  private def q104(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabJaccardMatrix(docs(s, dir), "source")
      .select(col("g_a"), col("g_b"), col("size_a"), col("size_b"),
        col("n_common"),
        Aggregates.round6Portable(col("jaccard")).as("jaccard"))
      .orderBy(col("g_a").asc, col("g_b").asc)

  /** Two-sample KS drift statistic ([[Aggregates.ks2Sample]]): view vs
    * click value distributions, cumulative counts via the two-level
    * (bucketed) prefix sum — no global-order window over the data —
    * and the max taken on integer cross-multiplied deviations, so the
    * extremum is engine-exact. */
  private def q105(s: SparkSession, dir: String): DataFrame =
    Aggregates.ks2Sample(
        cleanEventsPlain(s, dir).filter(col("event_type").isin("view", "click")),
        col("value"), col("event_type") === "view",
        v => floor(v).cast("long"))
      .select(col("n_a"), col("n_b"),
        Aggregates.round6Portable(col("ks_d")).as("ks_d"))
      .orderBy(col("n_a").asc)

  /** SCD-2 history build ([[graft.operators.TimeSeries.scd2Intervals]]):
    * the per-user event_type change log compressed into validity
    * intervals — consecutive same-type events collapse into one version
    * carrying [valid_from, valid_to) in exact integer µs arithmetic
    * (the cross-engine time resolution — see the ts_us note below). */
  private def q106(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.scd2Intervals(
        // µs domain: the fixtures store TIMESTAMP(MICROS), so the raw
        // `ts` long IS the exact cross-engine time resolution for any
        // query that outputs timestamps
        eventsPlain(s, dir).withColumn("ts_us", col("ts")),
        Seq("user_id"), "ts_us", "event_id", "event_type")
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from"), col("valid_to"))
      .orderBy(col("user_id").asc, col("version").asc)

  /** Overlapping-interval merge (gaps-and-islands,
    * [[graft.operators.TimeSeries.mergeIntervals]]): each event spans
    * [ts, ts + value seconds); touching/overlapping spans per user
    * collapse to islands. Integer µs arithmetic end to end (the only
    * double op, value·10⁶, is a single IEEE multiply + floor — bit
    * identical in any engine). */
  private def q107(s: SparkSession, dir: String): DataFrame = {
    // µs domain (see q106): start/duration in exact integer µs
    val iv = cleanEventsPlain(s, dir).filter(col("value") > 0)
      .select(col("user_id"), col("ts").as("start_us"),
        (col("ts")
          + floor(col("value") * lit(1e6)).cast("long")).as("end_us"))
    graft.operators.TimeSeries.mergeIntervals(iv, Seq("user_id"),
        "start_us", "end_us")
      .select(col("user_id"), col("island"), col("merged_start"),
        col("merged_end"), col("n_intervals"))
      .orderBy(col("user_id").asc, col("island").asc)
  }

  /** 2-D dominance skyline ([[graft.operators.Skyline]]): the users no
    * other user beats on BOTH mean value and consistency — the
    * unweighted Pareto frontier complementing q05's rank-sum composite.
    * Runs the grid-prune + per-x-min + running-min pipeline; the oracle
    * is the O(n²) NOT EXISTS definition, so the pruned plan must
    * reproduce textbook dominance exactly. */
  private def q108(s: SparkSession, dir: String): DataFrame = {
    val stats = Aggregates.groupedStats(cleanEvents(s, dir),
        Seq("user_id"), "value", minN = 30)
      .select(col("user_id"),
        Aggregates.round6Portable(col("avg_value")).as("avg_value"),
        Aggregates.round6Portable(col("stddev_value")).as("stddev_value"))
    graft.operators.Skyline.skyline2dMin(stats, "avg_value", "stddev_value",
        buckets = 64)
      .orderBy(col("avg_value").asc, col("user_id").asc)
  }

  /** Sparse TF-IDF cosine pairs via the inverted-index self-join
    * ([[graft.operators.Retrieval.tfidfCosinePairs]]) — lexical
    * near-dup over the df-banded vocabulary; decimal-exact dots/norms. */
  private def q109(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.tfidfCosinePairs(docs(s, dir),
        minDf = 2, maxDf = 100, minCosine = 0.30)
      .orderBy(col("doc_a").asc, col("doc_b").asc)

  /** Unigram-LM mean token log-probability per document
    * ([[TextAnalysis.unigramLogprob]]) — the perplexity-proxy quality
    * score of a pretraining filter. */
  private def q110(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramLogprob(docs(s, dir))
      .orderBy(col("doc_id").asc)

  /** KMV bottom-k distinct sketch per source
    * ([[Aggregates.kmvDistinct]], k = 256) vs the exact distinct count —
    * deterministic md5 hashing makes even the ESTIMATE oracle-checkable,
    * unlike seeded HLL (q36). Runs on the bounded-heap TopKPerGroup
    * physical operator. */
  private def q111(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(col("source"),
      explode(graft.functions.TextFns.tokens(col("text"))).as("tk"))
    Aggregates.kmvDistinct(toks, "source", col("tk"), k = 256)
      .join(toks.groupBy(col("source"))
        .agg(countDistinct(col("tk")).as("exact_distinct")), "source")
      .select(col("source"), col("n_hashes"), col("kth_hash"),
        col("est_distinct"), col("exact_distinct"))
      .orderBy(col("source").asc)
  }

  /** Golden-record survivorship ([[Dedup.goldenRecord]]): one master row
    * per user where each attribute independently keeps its latest
    * non-null value — value and the props.k payload surviving from
    * DIFFERENT events when the newest event is missing one of them. */
  private def q112(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .withColumn("ts_us", col("ts")) // µs domain (see q106)
      .withColumn("clean_value",
        when(Cleaning.notMissing(col("value")), col("value")))
      .withColumn("k_prop",
        get_json_object(col("props"), "$.k").cast("long"))
    Dedup.goldenRecord(ev, Seq("user_id"), "ts_us", "event_id",
        Seq("clean_value", "k_prop", "event_type"))
      .select(col("user_id"), r6(col("clean_value")).as("last_value"),
        col("k_prop").as("last_k"), col("event_type").as("last_type"),
        col("last_seen"), col("n_rows"))
      .orderBy(col("user_id").asc)
  }

  /** Rolling z-score anomaly detection
    * ([[graft.operators.TimeSeries.rollingZScore]]): each value scored
    * against its user's 20 preceding observations (exact decimal window
    * moments), anomalies = |z| > 2.5 with ≥ 10 context rows. */
  private def q113(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.rollingZScore(cleanEvents(s, dir),
        Seq("user_id"), "event_id", "value", n = 20, minCtx = 10)
      .filter(abs(col("zscore")) > 2.5)
      .select(col("user_id"), col("event_id"), r6(col("value")).as("value"),
        col("n_ctx"), r6(col("zscore")).as("zscore"))
      .orderBy(col("user_id").asc, col("event_id").asc)

  /** 30-min-gap sessionization in the µs domain (see q106), shared by
    * q114 (transition paths) and q117 (attribution): lag + running flag
    * sum per user — the q37 semantics in window form. Adds `ts_us` and
    * `__sid`. A gap/tie change here changes BOTH consumers (their
    * oracles share [[sessionCtes]] the same way). */
  private def sessionized(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val gapUs = 1800L * 1000000L
    events(s, dir).withColumn("ts_us", col("ts"))
      .withColumn("__pt", lag(col("ts_us"), 1).over(w))
      .withColumn("__nf",
        when(col("__pt").isNull || col("ts_us") - col("__pt") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("__sid", sum(col("__nf")).over(w))
  }

  /** Per-(user, session) event order — the frame both session
    * consumers scan within. */
  private def sessionWindow = org.apache.spark.sql.expressions.Window
    .partitionBy(col("user_id"), col("__sid"))
    .orderBy(col("ts_us").asc, col("event_id").asc)

  /** Session transition paths: (type → next type) bigram counts WITHIN
    * sessions — the path-analysis query behind funnels like q90. */
  private def q114(s: SparkSession, dir: String): DataFrame = {
    val wSess = sessionWindow
    sessionized(s, dir)
      .withColumn("__next", lead(col("event_type"), 1).over(wSess))
      .filter(col("__next").isNotNull)
      .groupBy(col("event_type").as("et_from"), col("__next").as("et_to"))
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy(col("n_transitions").desc, col("et_from").asc, col("et_to").asc)
  }

  /** Snapshot reconciliation under the gate ([[Dedup.tableDiff]]):
    * yesterday's corpus (events with id % 4 ≠ 0) vs today's, as
    * latest-per-user snapshots — per-status key counts. The diff ships
    * 32-byte row digests, never full rows; the oracle compares the
    * actual columns null-safely, so digest equality must coincide with
    * value equality. */
  private def q115(s: SparkSession, dir: String): DataFrame = {
    def snap(df: DataFrame): DataFrame = Dedup.latestByKey(
        df.select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value")),
        Seq("user_id"), Seq(col("ts"), col("event_id")))
      .select(col("user_id"), col("event_type"), col("value"))
    val ev = cleanEventsPlain(s, dir)
    Dedup.tableDiff(snap(ev.filter(col("event_id") % 4 =!= 0)), snap(ev),
        Seq("user_id"))
      .groupBy(col("status")).agg(count(lit(1)).as("n_keys"))
      .orderBy(col("status").asc)
  }

  /** Int8 scalar-quantization audit per embedding
    * ([[Similarity.quantizeInt8Audit]]): the ANN-index compression
    * step's quality stats — per-vector scale, max |q|, worst-dim
    * reconstruction error. Every op a deterministic IEEE primitive. */
  private def q116(s: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8Audit(Sources.table(s, dir, "embeddings"))
      .select(col("vec_id"), col("n_dims"), r6(col("scale")).as("scale"),
        col("max_q"), r6(col("max_abs_err")).as("max_abs_err"))
      .orderBy(col("vec_id").asc)

  /** Last-touch attribution: each purchase credited to the most recent
    * preceding view/click IN ITS SESSION (q114's µs sessionization),
    * via `last(..., ignoreNulls)` over the unbounded-to-1-preceding
    * frame — purchases with no prior touch fall to 'none'. */
  private def q117(s: SparkSession, dir: String): DataFrame = {
    val wPrev = sessionWindow
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    sessionized(s, dir)
      .withColumn("last_touch",
        last(when(col("event_type").isin("view", "click"), col("event_type")),
          ignoreNulls = true).over(wPrev))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("last_touch"), lit("none")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"))
      .orderBy(col("channel").asc)
  }

  /** The VERIFIED containment pair table (doc_a, doc_b, n_a, n_common,
    * containment), staged ONCE per (knobs, corpus) — the round-11
    * single-build fix for the family's biggest wall-clock sink: q118,
    * q187 and q194 each used to call
    * [[NearDup.containmentPairsQuantileBand]] from scratch, so the
    * Σdf²-budget candidate join (the ~275 s stage at sf1) executed
    * three times per catalog run while only the banded POSTINGS were
    * staged. Mirrors [[stagedSimhashPairsCapped]]: land the pair table,
    * let q187 become a census-sized rollup and q194 a bounded-heap scan
    * of landed parquet. At 100 TB this IS the pipeline shape — the
    * verified pair table is a warehouse stage every provenance report
    * reads, not a computation each report repeats. Callers who must
    * not land the pair table keep the direct operator
    * (`containmentPairsQuantileBand`) — same plan, unstaged. */
  private def stagedContainmentPairs(s: SparkSession, dir: String): DataFrame =
    graft.engine.Staging.stagedParquet(s,
        s"contain_pairs|c>=$MinContainment|q=$ShingleDfQuantileBp" +
          s"|f=$ShingleDfFloor|b=$ShingleDfFanoutBudget|$dir", Seq(dir))(
      NearDup.containmentPairsQuantileBand(docs(s, dir), MinContainment,
        ShingleDfQuantileBp, ShingleDfFloor, ShingleDfFanoutBudget))

  /** Directional n-gram containment pairs
    * ([[NearDup.containmentPairsQuantileBand]]): quote/subset detection
    * — the asymmetric relation Jaccard (q24) misses. The shingle-df
    * band that caps the inverted-index fan-out is CORPUS-RELATIVE
    * (quantile + fan-out budget over the df distribution, floor for
    * sparse corpora — [[DedupKnobs.ShingleDfQuantileBp]]), so the
    * detector keeps a candidate set under the df saturation that
    * emptied the round-2–8 fixed band at sf10. Reads the staged pair
    * table ([[stagedContainmentPairs]]) so the candidate join builds
    * once for the whole family. */
  private def q118(s: SparkSession, dir: String): DataFrame =
    stagedContainmentPairs(s, dir)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_common"),
        r6(col("containment")).as("containment"))
      .orderBy(col("doc_a").asc, col("doc_b").asc)

  /** Local clustering coefficient per near-dup graph node
    * ([[graft.operators.Graph.clusteringCoefficients]]): cc 1.0 =
    * true duplicate clique, low cc = chain of borderline matches —
    * over the SAME staged pair table as q58/q59/q96. */
  private def q119(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.clusteringCoefficients(
        stagedSimhashPairs(s, dir), "doc_a", "doc_b")
      .select(col("node").as("doc_id"), col("degree"), col("n_triangles"),
        r6(col("clustering")).as("clustering"))
      .orderBy(col("doc_id").asc)

  /** Deterministic weighted selection ([[Sampling.weightedSelect]]):
    * top-5 docs per source by the Efraimidis–Spirakis key u^(1/w) with
    * a data-derived quality weight — probabilistic quality-weighted
    * corpus selection that is still a pure function of the data. */
  private def q120(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).withColumn("w",
      lit(0.5) + (col("n_chars") % 100).cast("double") / 100)
    graft.operators.Sampling.weightedSelect(d, col("doc_id"), "source",
        col("w"), n = 5, salt = "sel-v1")
      .select(col("source"), col("doc_id"), col("__sel_key").as("sel_key"))
      .orderBy(col("source").asc, col("sel_key").desc, col("doc_id").asc)
  }

  /** Regression residual outliers: the q102 fixed-point line fit
    * broadcast back onto the fact rows (train-then-apply, the model-
    * scoring join shape), top-5 |residual| per flag on the bounded-heap
    * TopKPerGroup. Residuals stay in the cents domain until the final
    * /100. */
  private def q121(s: SparkSession, dir: String): DataFrame = {
    val li = Sources.tablePlain(s, dir, "lineitem")
    val pc = floor(col("l_extendedprice") * lit(100) + lit(0.5)).cast("long")
    val fit = SlopeOLS.fitLineFixedPoint(li, Seq("l_returnflag"),
        col("l_quantity").cast("long"), pc, minN = 1)
      .select(col("l_returnflag"), col("slope"), col("intercept"))
    val scored = li
      .join(broadcast(fit), Seq("l_returnflag"))
      .withColumn("resid_c", pc -
        (col("slope") * col("l_quantity").cast("long") + col("intercept")))
      .withColumn("abs_resid", abs(col("resid_c")))
    Ranking.topKPerGroup(scored, Seq("l_returnflag"),
        Seq("abs_resid" -> false, "l_orderkey" -> true, "l_linenumber" -> true),
        k = 5)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"),
        Aggregates.round6Portable(col("resid_c") / 100).as("residual"))
      .orderBy(col("l_returnflag").asc, col("abs_resid").desc,
        col("l_orderkey").asc, col("l_linenumber").asc)
  }

  /** Partition-skew audit: per-supplier row counts reduced to the
    * numbers an engine operator actually alerts on — key count, max,
    * median, mean, and max/median skew factor. The shape that decides
    * "does this join need salting?" (q87) before it runs. */
  private def q122(s: SparkSession, dir: String): DataFrame = {
    val counts = Sources.tablePlain(s, dir, "lineitem")
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n_rows"))
    counts
      .agg(count(lit(1)).as("n_keys"),
        max(col("n_rows")).as("max_rows"),
        expr("percentile(n_rows, 0.5)").as("median_raw"),
        avg(col("n_rows")).as("avg_raw"))
      .select(col("n_keys"), col("max_rows"),
        Aggregates.round6Portable(col("median_raw")).as("median_rows"),
        Aggregates.round6Portable(col("avg_raw")).as("avg_rows"),
        Aggregates.round6Portable(
          col("max_rows").cast("double") / col("median_raw")).as("skew_factor"))
      .orderBy(col("n_keys").asc)
  }

  /** Label-propagation communities over the near-dup graph
    * ([[graft.operators.Graph.labelPropagation]], 3 rounds):
    * neighbor-majority voting with the min-label tie-break that makes
    * plain LPA deterministic — denser groupings than q58's connected
    * components (a bridge edge merges components, not communities).
    * Fourth consumer of the staged pair table. */
  private def q123(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.labelPropagation(stagedSimhashPairs(s, dir),
        "doc_a", "doc_b", rounds = 3)
      .select(col("n").as("doc_id"), col("community"))
      .orderBy(col("doc_id").asc)

  /** Pattern categories for the q124 audit — Java∩RE2 dialect (q86
    * discipline) so both engines count identically. */
  private val AuditPatterns = Seq(
    "entity" -> "\\b(customer|order|supplier)\\b",
    "number" -> "\\b[0-9]+\\b",
    "capitalized" -> "\\b[A-Z][a-z]+\\b")

  /** Multi-category pattern audit ([[TextAnalysis.multiPatternAudit]]):
    * per (source, category) documents-hit and match totals, one corpus
    * scan for all categories — the compliance pre-scan before q86's
    * redaction. */
  private def q124(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.multiPatternAudit(docs(s, dir), AuditPatterns)
      .orderBy(col("source").asc, col("category").asc)

  /** Empirical CDF per event type in BUCKETED form: per (type,
    * floor(value)) counts, then a running sum over the bucket table
    * only — the scale-correct percentile/calibration curve (a
    * percent_rank window over raw rows would sort an entire type's
    * partition; this windows |buckets| rows). Fractions via exact
    * integer cumulative ÷ total. */
  private def q125(s: SparkSession, dir: String): DataFrame = {
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("bucket").asc)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
    cleanEventsPlain(s, dir)
      .groupBy(col("event_type"), floor(col("value")).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("cum_n", sum(col("n")).over(wRun))
      .withColumn("total", sum(col("n")).over(wAll))
      .select(col("event_type"), col("bucket"), col("n"), col("cum_n"),
        Aggregates.round6Portable(
          col("cum_n").cast("double") / col("total").cast("double")).as("ecdf"))
      .orderBy(col("event_type").asc, col("bucket").asc)
  }

  /** Zipf rank–frequency fit: ln(count) ~ ln(rank) over the corpus
    * vocabulary ([[SlopeOLS.fitLineExact]] on dec6-rounded logs — the
    * products of two 6-dp values are exact at DECIMAL(38,12), so the
    * moments are order-free). slope ≈ −zipf exponent; the fit runs on
    * the vocabulary-sized frequency table, never the token stream. */
  private def q126(s: SparkSession, dir: String): DataFrame = {
    val wRank = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("tk").asc)
    val freq = docs(s, dir)
      .select(explode(graft.functions.TextFns.tokens(col("text"))).as("tk"))
      .groupBy(col("tk")).agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("grp", lit("corpus"))
      .withColumn("lx", (floor(log(col("rank").cast("double")) * lit(1e6)
        + lit(0.5)) / lit(1e6)))
      .withColumn("ly", (floor(log(col("cnt").cast("double")) * lit(1e6)
        + lit(0.5)) / lit(1e6)))
    SlopeOLS.fitLineExact(freq, Seq("grp"), col("lx"), col("ly"), minN = 1)
      .select(col("n_obs").as("vocab_size"),
        Aggregates.round6Portable(col("slope")).as("zipf_slope"),
        Aggregates.round6Portable(col("intercept")).as("intercept"),
        Aggregates.round6Portable(col("r2")).as("r2"))
      .orderBy(col("vocab_size").asc)
  }

  /** Duplicate-cluster quality report: the staged CLUSTERS and PAIRS
    * tables joined into per-cluster size / intra-pair count / pair
    * density (1.0 = every member pairs with every other — a true
    * clique; low = a chain the clustering coefficient (q119) flags
    * per node). Pure composition of staged artifacts — no fingerprint
    * or CC recompute. */
  private def q127(s: SparkSession, dir: String): DataFrame = {
    val clusters = stagedSimhashClusters(s, dir)
    val sizes = clusters.groupBy(col("component").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"))
    val pairCounts = stagedSimhashPairs(s, dir)
      .join(clusters.select(col("n").as("doc_a"),
        col("component").as("cluster_id")), "doc_a")
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_pairs"))
    sizes.join(pairCounts, Seq("cluster_id"))
      .select(col("cluster_id"), col("n_docs"), col("n_pairs"),
        Aggregates.round6Portable(col("n_pairs").cast("double") * 2 /
          (col("n_docs") * (col("n_docs") - 1)).cast("double"))
          .as("pair_density"))
      .orderBy(col("cluster_id").asc)
  }

  /** Deterministic MODE per group: the most frequent floor(value)
    * bucket per event type, ties to the smallest bucket via
    * max(struct(count, −bucket)) — one extra O(buckets) agg after the
    * count, never a sort of the raw rows. (Built-in `mode()` breaks
    * ties arbitrarily — useless under a hash gate.) */
  private def q128(s: SparkSession, dir: String): DataFrame =
    cleanEventsPlain(s, dir)
      .groupBy(col("event_type"), floor(col("value")).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("event_type"))
      .agg(max(struct(col("n"), (-col("bucket")).as("neg"))).as("w"))
      .select(col("event_type"), (-col("w.neg")).as("mode_bucket"),
        col("w.n").as("n_rows"))
      .orderBy(col("event_type").asc)

  /** α = ½ EWMA over each user's last 8 observations
    * ([[graft.operators.TimeSeries.ewmaHalf]]): every weight is a pure
    * exponent shift, so the smoothing is exact IEEE arithmetic with no
    * decimal machinery — the trend signal beside q113's anomaly flags. */
  private def q129(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.ewmaHalf(cleanEventsPlain(s, dir),
        Seq("user_id"), "event_id", "value", k = 8)
      .select(col("user_id"), col("event_id"), r6(col("value")).as("value"),
        Aggregates.round6Portable(col("ewma")).as("ewma"))
      .orderBy(col("user_id").asc, col("event_id").asc)

  /** MinHash estimator audit: for every LSH candidate pair, the
    * signature-agreement Jaccard ESTIMATE (matching components / k)
    * next to the exact shingle Jaccard — the sketch-quality report
    * that sizes k. Deterministic md5 signatures make even the
    * estimator oracle-checkable (unlike seeded sketches); one shared
    * signature table feeds both the buckets and the estimate. */
  private def q130(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val sig = graft.operators.Shingles.shared(
      NearDup.minHashSignatures(d, MinhashK))
    val bk = NearDup.lshBuckets(sig, LshBands, LshRows)
    val cand = bk.select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
      .join(bk.select(col("band"), col("bucket"), col("doc_id").as("doc_b")),
        Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val a = sig.select(col("doc_id").as("doc_a") +:
      (0 until MinhashK).map(i => col(s"s$i").as(s"a$i")): _*)
    val b = sig.select(col("doc_id").as("doc_b") +:
      (0 until MinhashK).map(i => col(s"s$i").as(s"b$i")): _*)
    val matches = (0 until MinhashK)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    val est = cand.join(a, "doc_a").join(b, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (matches.cast("double") / MinhashK).as("est_raw"))
    val sh = graft.operators.Shingles.table(d, None)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val common = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_common"))
    est
      .join(common, Seq("doc_a", "doc_b"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        Aggregates.round6Portable(col("est_raw")).as("est_jaccard"),
        Aggregates.round6Portable(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
          .as("exact_jaccard"))
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  /** Stateful streaming dedup run to completion over the fixture batch
    * ([[graft.streaming.EventStream.runDedupOnce]]):
    * dropDuplicatesWithinWatermark on (user_id, event_type, day), then a
    * survivor-set summary. Which duplicate survives is arrival-order
    * dependent, so the summary counts only the key set — deterministic
    * and equal to batch DISTINCT, which is what the oracle checks. */
  private def q131(s: SparkSession, dir: String): DataFrame =
    EventStream.runDedupOnce(s, dir)

  /** Stateful streaming per-user stats with EXACT decimal state
    * ([[graft.streaming.EventStream.runUserStatsExactOnce]]):
    * flatMapGroupsWithState accumulating (n, Σv, Σv²) in BigDecimal —
    * the arbitrary-state API under the hash gate, possible only because
    * the state is order-independent (float Welford state is not). */
  private def q132(s: SparkSession, dir: String): DataFrame =
    EventStream.runUserStatsExactOnce(s, dir)

  /** Exact skewness / excess kurtosis of order quantity per return flag
    * ([[Aggregates.higherMoments]]): third/fourth central moments from
    * exact integer power sums — the distribution-shape audit a mixture
    * rebalance reads before deciding what to up/downsample. */
  private def q133(s: SparkSession, dir: String): DataFrame =
    Aggregates.higherMoments(Sources.table(s, dir, "lineitem"),
        Seq("l_returnflag"), col("l_quantity"))
      .orderBy(col("l_returnflag").asc)

  /** Segment-level (line-level-analog) corpus dedup — the C4/RefinedWeb
    * quality signal: split each doc into non-overlapping 8-token
    * segments, flag every segment whose exact text recurs in a SECOND
    * document, report the per-doc duplicated-segment fraction. The
    * fixture corpus has no newlines, so the fixed-width token segment
    * stands in for the "line"; the operator shape is identical. Scale:
    * explode → one hash-agg on the segment key (countDistinct doc) →
    * one equi-join back — candidate volume is corpus token count, never
    * pairs. Docs shorter than one segment are out of scope (dropped on
    * both sides). */
  private def q136(s: SparkSession, dir: String): DataFrame = {
    // staged: the corpus-sized explode feeds BOTH the spread
    // aggregate and the join probe side — without landing it the
    // tokenize+slice pipeline runs twice (ReuseExchange is not
    // guaranteed across the two subtrees)
    val segs = graft.operators.Shingles.shared(docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"),
        explode(expr("sequence(0, int(size(toks) / 8) - 1)")).as("i"),
        col("toks"))
      .select(col("doc_id"),
        expr("array_join(slice(toks, i * 8 + 1, 8), ' ')").as("seg")))
    val spread = segs.groupBy(col("seg"))
      .agg(countDistinct(col("doc_id")).as("n_docs_with"))
    segs.join(spread, Seq("seg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("n_docs_with") > 1, lit(1L)).otherwise(lit(0L)))
          .as("n_dup_segments"))
      .select(col("doc_id"), col("n_segments"), col("n_dup_segments"),
        Aggregates.round6Portable(col("n_dup_segments").cast("double") /
          col("n_segments").cast("double")).as("dup_fraction"))
      .orderBy(col("doc_id").asc)
  }

  /** Exact weighted median (quantity-weighted extended price per return
    * flag): pre-aggregate weight per distinct value (kills ties AND
    * bounds the window input to |distinct values| per group), then a
    * TWO-LEVEL cumulative weight (the ks2Sample pattern) picks the
    * smallest value whose cumulative weight reaches half the total.
    * Level 1 runs per (flag, price-bucket) — parallel windows, no
    * global per-flag sort over the distinct-value table; level 2 adds
    * each bucket's starting offset from the |flags|·|buckets|-row
    * totals table (broadcast). All weight arithmetic is DECIMAL — exact
    * under any merge order — so the 2·cw ≥ tw threshold is
    * engine-portable. The only growth axis beyond the hash-agg is
    * |buckets| — value-range-bounded, not data-bounded. */
  private def q137(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // staged: the (flag, price) pre-agg is consumed by THREE branches
    // below (inner cumsum, bucket offsets, per-flag totals); without
    // landing it each branch re-runs the full fact-table groupBy — at
    // sf10 that tripled a ~60 s aggregation. One scan, three readers.
    val byPrice = graft.engine.Staging.stagedParquet(s, s"q137_by_price|$dir", Seq(dir))(
      Sources.tablePlain(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_extendedprice"))
        .agg(Aggregates.exactSum(col("l_quantity")).as("w"))
        .withColumn("bk", floor(col("l_extendedprice") / 1000.0).cast("long")))
    val wIn = Window.partitionBy(col("l_returnflag"), col("bk"))
      .orderBy(col("l_extendedprice").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val inner = byPrice.withColumn("cw_in", sum(col("w")).over(wIn))
    val wBk = Window.partitionBy(col("l_returnflag")).orderBy(col("bk").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = byPrice.groupBy(col("l_returnflag"), col("bk"))
      .agg(sum(col("w")).as("tw_bk"))
      .withColumn("off", sum(col("tw_bk")).over(wBk))
      .select(col("l_returnflag"), col("bk"),
        coalesce(col("off"), lit(0).cast("decimal(28,6)")).as("off"))
    val tot = byPrice.groupBy(col("l_returnflag"))
      .agg(sum(col("w")).as("tw"))
    inner.join(broadcast(offs), Seq("l_returnflag", "bk"))
      .join(broadcast(tot), Seq("l_returnflag"))
      .filter((col("cw_in") + col("off")) * 2 >= col("tw"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("l_extendedprice")).as("__wm"),
        max(col("tw")).as("__tw"))
      .select(col("l_returnflag"),
        Aggregates.round6Portable(col("__wm")).as("weighted_median"),
        col("__tw").cast("double").as("total_weight"))
      .orderBy(col("l_returnflag").asc)
  }

  /** Ordered string aggregation (LISTAGG surface): per language, the
    * sorted distinct source list as one CSV cell. Built as
    * array_join(array_sort(collect_set)) — set-sized state, total order
    * imposed BEFORE concatenation, so the cell is deterministic under
    * any partitioning (a bare collect_list concat would not be). */
  private def q138(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        collect_set(col("source")).as("__srcs"))
      .select(col("lang"), col("n_docs"), col("n_sources"),
        array_join(array_sort(col("__srcs")), ",").as("sources_csv"))
      .orderBy(col("lang").asc)

  /** Bitwise / boolean aggregate surface: bit_and / bit_or over the
    * user-id bits, bit_xor over event ids (order-independent parity —
    * the cheap set-reconciliation fingerprint), bool_and / bool_or over
    * value predicates. All five are one-word mergeable state — the
    * cheapest class of distributed aggregate there is. */
  private def q139(s: SparkSession, dir: String): DataFrame =
    cleanEventsPlain(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr("bit_and(user_id)").as("uid_and"),
        expr("bit_or(user_id)").as("uid_or"),
        expr("bit_xor(event_id)").as("eid_xor"),
        expr("bool_and(value > 0)").as("all_positive"),
        expr("bool_or(value > 1000)").as("any_large"))
      .orderBy(col("event_type").asc)

  /** Shared staged DAILY tables for the drift/monitoring family — the
    * nightly-DQ-report shape: ONE scan of each fact table lands a
    * post-agg-sized daily table (epoch-day granularity) that every
    * downstream check consumes as a flat parquet scan, instead of five
    * queries each re-aggregating the same facts (the q58/q59 staging
    * pattern applied to data quality). Exactness is preserved by
    * construction: every consumer re-aggregates COUNTS and exact
    * DECIMAL sums, both associative, so totals are bit-identical to
    * the direct single-query form the oracles mirror.
    *
    * Orders side: (d, n_orders, revenue) — consumed by q140 (calendar
    * spine), q156 (ACF of daily counts), q157 (CUSUM of daily revenue). */
  private def ordersDaily(s: SparkSession, dir: String): DataFrame =
    graft.engine.Staging.stagedParquet(s, s"orders_daily|$dir", Seq(dir))(
      Sources.tablePlain(s, dir, "orders")
        .groupBy(expr("datediff(o_orderdate, DATE '1970-01-01')")
          .cast("long").as("d"))
        .agg(count(lit(1)).as("n_orders"),
          Aggregates.exactSum(col("o_totalprice"), 18, 2).as("revenue")))

  /** Events side of the staged daily tables: value-decile cells
    * (event_type, d, bin) carrying raw counts, clean counts, the
    * conversion count, and exact DECIMAL value moments (scale-12
    * pinned, the q147 idiom). Consumers re-derive their shapes by
    * re-aggregation: q141 (χ² dow cells — n_raw, dow = (d+4) mod 7),
    * q147 (Welch moments — n_clean/sv/sq), q154 (PSI bins —
    * n_clean by day-parity side), q155 (Wilson — n_clean/n_conv).
    * Dirty rows (NULL/NaN value) land in a NULL bin with n_clean = 0,
    * so raw counts survive while every clean-side consumer filters
    * them out — one table serves both universes. */
  private def eventsDailyCells(s: SparkSession, dir: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 12)
    graft.engine.Staging.stagedParquet(s, s"events_daily_cells|$dir", Seq(dir))(
      eventsPlain(s, dir)
        .withColumn("__clean", Cleaning.notMissing(col("value")))
        .select(col("event_type"),
          expr("ts div 86400000000").as("d"),
          when(col("__clean"), floor(col("value") / 10.0).cast("long"))
            .as("bin"),
          col("__clean"),
          when(col("__clean") && col("value") > 100, lit(1L))
            .otherwise(lit(0L)).as("__conv"),
          when(col("__clean"), Aggregates.roundPortable(col("value"), 12))
            .cast(d38).as("__v"),
          when(col("__clean"),
            Aggregates.roundPortable(col("value") * col("value"), 12))
            .cast(d38).as("__q"))
        .groupBy(col("event_type"), col("d"), col("bin"))
        .agg(count(lit(1)).as("n_raw"),
          count(when(col("__clean"), 1)).as("n_clean"),
          sum(col("__conv")).as("n_conv"),
          sum(col("__v")).as("sv"),
          sum(col("__q")).as("sq")))
  }

  /** Calendar-spine densification: generate the full day spine between
    * the first and last order date (sequence + explode over a ONE-ROW
    * aggregate — no driver round-trip, no collect), left-join the daily
    * order counts, and report per-month active/zero-day coverage. The
    * spine side is |days| rows — broadcast-sized at any corpus scale —
    * so the join never shuffles the fact table beyond its own daily
    * pre-aggregation. */
  private def q140(s: SparkSession, dir: String): DataFrame = {
    // consumes the staged daily table — the spine and the coverage agg
    // both run over |days| rows, never re-touching orders
    val daily = ordersDaily(s, dir)
      .select(expr("date_add(DATE '1970-01-01', cast(d AS int))").as("d"),
        col("n_orders"))
    val spine = daily
      .agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("d"))
    spine.join(broadcast(daily), Seq("d"), "left")
      .withColumn("n_orders", coalesce(col("n_orders"), lit(0L)))
      .groupBy(date_format(col("d"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("n_orders") > 0, lit(1L)).otherwise(lit(0L)))
          .as("n_active_days"),
        sum(when(col("n_orders") === 0, lit(1L)).otherwise(lit(0L)))
          .as("n_zero_days"),
        sum(col("n_orders")).as("n_orders"))
      .orderBy(col("month").asc)
  }

  /** χ² contingency audit (event_type × day-of-week independence): cell
    * counts from one hash-agg, row/column/grand totals via windows over
    * the |types|·7-cell table (post-agg tiny — the windows never touch
    * the fact scan), expected count and per-cell χ² contribution from
    * exact integer counts. Reported per cell — no cross-cell double
    * summation, so every output is a deterministic scalar chain off
    * exact longs. Day-of-week is pure epoch-day arithmetic ((d+4) mod 7,
    * 0 = Sunday) — no locale, no calendar library, engine-portable. */
  private def q141(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // staged daily cells re-aggregated to (type, dow): dow is pure
    // integer arithmetic off the epoch-day, identical to dowOf(ts_utc)
    // under the UTC harness sessions; n_raw keeps the RAW-universe
    // count the χ² contract (and its oracle) specifies
    val cells = eventsDailyCells(s, dir)
      .withColumn("dow", ((col("d") + 4) % 7).cast("long"))
      .groupBy(col("event_type"), col("dow"))
      .agg(sum(col("n_raw")).as("o"))
    val withTotals = cells
      .withColumn("rt", sum(col("o")).over(Window.partitionBy(col("event_type"))))
      .withColumn("ct", sum(col("o")).over(Window.partitionBy(col("dow"))))
      .withColumn("g", sum(col("o")).over(Window.partitionBy()))
    val e = (col("rt").cast("double") * col("ct").cast("double")) /
      col("g").cast("double")
    withTotals
      .withColumn("e", e)
      .select(col("event_type"), col("dow"), col("o"),
        Aggregates.round6Portable(col("e")).as("expected"),
        Aggregates.round6Portable(
          (col("o").cast("double") - col("e")) *
          (col("o").cast("double") - col("e")) / col("e")).as("chi2_cell"))
      .orderBy(col("event_type").asc, col("dow").asc)
  }

  /** Benford first-digit audit over order totals — the classic
    * fabricated-data screen. Digit extraction is string-based on the
    * exact integer part (no log10 — its last-ulp behavior differs
    * between libm implementations near powers of ten); the Benford
    * expectations are pinned 6-dp literals on BOTH sides, so the only
    * runtime float work is one division and one subtraction per digit
    * row. One hash-agg over the fact scan; everything after runs on 9
    * rows. */
  private def q142(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Sources.tablePlain(s, dir, "orders")
      .select(expr(
        "cast(substring(cast(cast(floor(o_totalprice) as bigint) as string), 1, 1) as bigint)")
        .as("digit"))
      // totals in [0,1) have first digit 0 (no Benford expectation) and
      // negative totals parse to NULL — both out of the law's domain
      .filter(col("digit").between(1, 9))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
    val benford = expr("""cast(CASE digit
        WHEN 1 THEN 0.301030 WHEN 2 THEN 0.176091 WHEN 3 THEN 0.124939
        WHEN 4 THEN 0.096910 WHEN 5 THEN 0.079181 WHEN 6 THEN 0.066947
        WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153 ELSE 0.045757 END
        as double)""")
    counts
      .withColumn("__total", sum(col("n")).over(Window.partitionBy()))
      .withColumn("__obs", col("n").cast("double") / col("__total").cast("double"))
      .withColumn("benford_p", benford)
      .select(col("digit"), col("n"),
        Aggregates.round6Portable(col("__obs")).as("observed_p"),
        col("benford_p"),
        Aggregates.round6Portable(abs(col("__obs") - col("benford_p")))
          .as("abs_dev"))
      .orderBy(col("digit").asc)
  }

  /** Median-absolute-deviation outlier screen per event type — the
    * robust alternative to q113's z-scores (a few extreme values move
    * a mean/stddev fence, not a median/MAD fence). Two exact-percentile
    * passes (group median, then median absolute deviation) with the
    * group-cardinality-sized stats broadcast back each time — the same
    * two-pass broadcast shape as q65's winsorization, never a second
    * fact shuffle. */
  private def q143(s: SparkSession, dir: String): DataFrame = {
    val e = cleanEvents(s, dir)
    val med = e.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    val dev = e.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(expr("percentile(dev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), max(col("med")).as("__med"),
        max(col("mad")).as("__mad"),
        sum(when(col("dev") > col("mad") * 3, lit(1L)).otherwise(lit(0L)))
          .as("n_outliers"))
      .select(col("event_type"), col("n"),
        Aggregates.round6Portable(col("__med")).as("median_value"),
        Aggregates.round6Portable(col("__mad")).as("mad"),
        col("n_outliers"))
      .orderBy(col("event_type").asc)
  }

  /** Linear-interpolation resampling (the interpolating sibling of
    * q82's forward-fill): hourly grid per user, interior points get
    * v + (vn−v)·frac between the bracketing observations. The explode
    * is bounded by grid span (run-length segments, not per-row
    * repetition); the per-user average folds the interpolated series
    * through the pre-round→DECIMAL exact-sum pattern so the output is
    * merge-order independent. */
  private def q144(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val obs = cleanEvents(s, dir)
      .withColumn("h", expr("ts div 3600000000"))
      .groupBy(col("user_id"), col("h"))
      .agg(max(struct(col("event_id"), col("value"))).getField("value").as("v"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("h").asc)
    val seg = obs
      .withColumn("hn", lead(col("h"), 1).over(w))
      .withColumn("vn", lead(col("v"), 1).over(w))
    val interp = seg
      .filter(col("hn").isNotNull && (col("hn") - col("h")) > 1)
      .select(col("user_id"), col("h"), col("v"), col("hn"), col("vn"),
        explode(expr("sequence(h + 1, hn - 1)")).as("g"))
      .withColumn("vi", col("v") + (col("vn") - col("v")) *
        ((col("g") - col("h")).cast("double") /
          (col("hn") - col("h")).cast("double")))
      .select(col("user_id"), col("vi"), lit(1L).as("is_interp"))
    val all = obs.select(col("user_id"), col("v").as("vi"),
        lit(0L).as("is_interp"))
      .unionByName(interp)
    all.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_grid"),
        sum(col("is_interp")).as("n_interp"),
        sum(Aggregates.round6Portable(col("vi"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 6))).as("__s"))
      .select(col("user_id"), col("n_grid"), col("n_interp"),
        Aggregates.round6Portable(
          col("__s").cast("double") / col("n_grid").cast("double"))
          .as("avg_filled"))
      .orderBy(col("user_id").asc)
  }

  /** 7-day rolling correlation between daily order count and daily
    * revenue — exact decimal/integer moment sums over a RANGE frame,
    * closed form in doubles with the [[SlopeOLS]] operand order. The
    * unpartitioned window runs over the |days| pre-aggregated rows
    * (driver-documented post-agg pattern), never the fact scan. */
  private def q145(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Sources.table(s, dir, "orders")
      .groupBy(expr("datediff(o_orderdate, DATE '1970-01-01')")
        .cast("long").as("d"))
      .agg(count(lit(1)).as("x"),
        Aggregates.exactSum(col("o_totalprice"), 18, 2).as("y"))
    val f = Window.orderBy(col("d").asc).rangeBetween(-6, 0)
    // pre-project the products, then ONE select over the shared frame —
    // chained withColumn would plan six separate Window operators.
    // Count moments go through DECIMAL: a BIGINT Σx² wraps silently at
    // scale (non-ANSI) while the DuckDB oracle promotes to HUGEINT —
    // decimal sums are exact on both engines (the q92/q133 rule).
    val d20 = org.apache.spark.sql.types.DecimalType(20, 0)
    val m = daily
      .withColumn("xx", col("x").cast(d20) * col("x").cast(d20))
      .withColumn("xy", col("y") * col("x").cast(d20))
      .withColumn("yy", col("y") * col("y"))
      .select(col("d"), col("x"), col("y"),
        count(lit(1)).over(f).as("fn"),
        sum(col("x").cast(d20)).over(f).as("sx"),
        sum(col("y")).over(f).as("sy"),
        sum(col("xx")).over(f).as("sxx"),
        sum(col("xy")).over(f).as("sxy"),
        sum(col("yy")).over(f).as("syy"))
    m.select(col("d"), col("fn").as("n_days"), col("x").as("n_orders"),
        col("y").cast("double").as("revenue"),
        corrFromMoments(col("fn"), col("sx"), col("sy"), col("sxy"),
          col("sxx"), col("syy")).as("corr7"))
      .orderBy(col("d").asc)
  }

  /** Shannon entropy (nats) of each language's token distribution:
    * H = ln(T) − (Σ c·ln c)/T — the per-term c·ln c doubles go through
    * the 6-dp DECIMAL exact-sum pattern (q110), so the vocabulary-sized
    * summation is merge-order independent. The diversity score a corpus
    * mixer reads next to q126's Zipf fit. */
  private def q146(s: SparkSession, dir: String): DataFrame = {
    val c = docs(s, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("tk"))
      .groupBy(col("lang"), col("tk"))
      .agg(count(lit(1)).as("cnt"))
    c.groupBy(col("lang"))
      .agg(count(lit(1)).as("vocab"), sum(col("cnt")).as("total_tokens"),
        // rounding pinned BEFORE the decimal cast (roundPortable idiom)
        // so the last retained digit never depends on either engine's
        // double→decimal cast tie-breaking
        sum(Aggregates.roundPortable(
            col("cnt").cast("double") * log(col("cnt").cast("double")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6))).as("__sclogc"))
      .select(col("lang"), col("vocab"), col("total_tokens"),
        Aggregates.round6Portable(
          log(col("total_tokens").cast("double")) -
            col("__sclogc").cast("double") /
              col("total_tokens").cast("double")).as("entropy_nats"))
      .orderBy(col("lang").asc)
  }

  /** Welch's two-sample t between each event type and the pooled rest —
    * the mean-shift drift test next to q105's distributional KS. Group
    * and grand moments come from ONE exact-decimal aggregation (the
    * rest-side moments are grand − group, exact in DECIMAL); t and the
    * Welch–Satterthwaite df are a fixed-order scalar chain off those
    * rationals. Sample (n−1) variances, as Welch prescribes. */
  private def q147(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // staged daily cells re-aggregated to per-type Welch moments: the
    // scale-12-pinned DECIMAL sums (see eventsDailyCells) re-add
    // exactly (decimal addition is associative), so n1/s1/q1 are
    // bit-identical to the direct cleanEvents aggregation the oracle
    // mirrors; n1 > 0 keeps the group universe = "types with ≥1 clean
    // row", exactly cleanEvents' grouping
    val g = eventsDailyCells(s, dir)
      .groupBy(col("event_type"))
      .agg(sum(col("n_clean")).as("n1"),
        sum(col("sv")).as("s1"), sum(col("sq")).as("q1"))
      .filter(col("n1") > 0)
    val tot = Window.partitionBy()
    val m = g
      .withColumn("n2", sum(col("n1")).over(tot) - col("n1"))
      .withColumn("s2", sum(col("s1")).over(tot) - col("s1"))
      .withColumn("q2", sum(col("q1")).over(tot) - col("q1"))
    def dbl(c: String) = col(c).cast("double")
    def meanOf(sc: String, nc: String) = dbl(sc) / dbl(nc)
    // sample variance: (Σv² − (Σv)²/n) / (n−1), operand order pinned
    def varOf(qc: String, sc: String, nc: String) =
      (dbl(qc) - (dbl(sc) * dbl(sc)) / dbl(nc)) / (dbl(nc) - lit(1.0))
    val se1 = varOf("q1", "s1", "n1") / dbl("n1")
    val se2 = varOf("q2", "s2", "n2") / dbl("n2")
    val se = se1 + se2
    m.select(col("event_type"), col("n1").as("n_in"), col("n2").as("n_out"),
        Aggregates.round6Portable(meanOf("s1", "n1") - meanOf("s2", "n2"))
          .as("mean_diff"),
        Aggregates.round6Portable(
          (meanOf("s1", "n1") - meanOf("s2", "n2")) / sqrt(se)).as("t_stat"),
        Aggregates.round6Portable((se * se) /
          ((se1 * se1) / (dbl("n1") - lit(1.0)) +
            (se2 * se2) / (dbl("n2") - lit(1.0)))).as("welch_df"))
      .orderBy(col("event_type").asc)
  }

  /** Count-min sketch audit — the point-query sketch next to
    * Space-Saving (q76) and KMV (q111): D=4 deterministic md5-derived
    * hash rows × W=1024 counters, estimate = min over rows of the
    * landed cell count, always ≥ exact. Deterministic hashing makes
    * the ESTIMATE oracle-checkable (the q111 trick); reported for the
    * top-20 exact-frequency tokens. At 100 TB the cell table is the
    * sketch: 4096 mergeable counters from one hash-agg, while the
    * exact side it audits is the expensive one. */
  private def q148(s: SparkSession, dir: String): DataFrame = {
    val W = 1024
    val cnt = docs(s, dir)
      .select(explode(split(col("text"), " ")).as("tk"))
      .groupBy(col("tk")).agg(count(lit(1)).as("n"))
    // row-d hash: 12 bits of md5("d:tk") mod W — nibbles 6..8 (16³ ≡ 0
    // mod 1024, so the low nibbles fully determine the bucket and the
    // oracle parses only three hex chars)
    def h(d: Int) =
      (expr(s"cast(conv(substring(md5(concat('$d:', tk)), 6, 3), 16, 10) as bigint)")
        % W).as("c")
    val hashes = cnt.select(col("tk"), col("n"),
      explode(array((0 until 4).map(d =>
        struct(lit(d).as("d"), h(d))): _*)).as("hh"))
      .select(col("tk"), col("n"), col("hh.d").as("d"), col("hh.c").as("c"))
    val cells = hashes.groupBy(col("d"), col("c"))
      .agg(sum(col("n")).as("cell_n"))
    val top = cnt.orderBy(col("n").desc, col("tk").asc).limit(20)
    hashes.join(broadcast(top.select(col("tk"))), Seq("tk"))
      .join(cells, Seq("d", "c"))
      .groupBy(col("tk"))
      .agg(max(col("n")).as("exact_n"), min(col("cell_n")).as("cms_est"))
      .select(col("tk"), col("exact_n"), col("cms_est"),
        (col("cms_est") - col("exact_n")).as("overcount"))
      .orderBy(col("exact_n").desc, col("tk").asc)
  }

  /** first_value / nth_value / last_value window surface: each user's
    * first, second and latest event value under the (ts, event_id)
    * total order — one full-frame window pass, collapsed to a row per
    * user (the window outputs are per-user constants; max() just picks
    * them). The trajectory summary (entry point → latest state) a
    * feature store materializes per entity. */
  private def q149(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cleanEventsPlain(s, dir)
      .select(col("user_id"),
        first(col("value")).over(w).as("fv"),
        nth_value(col("value"), 2).over(w).as("sv"),
        last(col("value")).over(w).as("lv"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        Aggregates.round6Portable(max(col("fv"))).as("first_value"),
        Aggregates.round6Portable(max(col("sv"))).as("second_value"),
        Aggregates.round6Portable(max(col("lv"))).as("last_value"))
      .orderBy(col("user_id").asc)
  }

  /** k-core of the near-dup graph ([[graft.operators.Graph
    * .kCoreFixedRounds]], k = 2, 4 peel rounds): chains and pendant
    * docs peel away, leaving only nodes embedded in cycles/cliques —
    * the "dense duplicate neighborhood" set a curation pass treats
    * with maximum suspicion. Fixed-round form so the oracle unrolls
    * the identical peels (idempotent past convergence; same pattern
    * as the q123 LPA oracle). Consumes the staged pair table. */
  private def q150(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.kCoreFixedRounds(stagedSimhashPairs(s, dir),
        "doc_a", "doc_b", k = 2, rounds = 4)
      .select(col("node").as("doc_id"), col("core_degree"))
      .orderBy(col("doc_id").asc)

  /** Percentile bridge: each probe value scored by its percentile in a
    * REFERENCE distribution (even epoch days = reference, odd = probe)
    * — the "where does today sit in yesterday's CDF" drift primitive.
    * Values quantize to 6-dp longs; the reference ECDF is a per-type
    * cumulative table over distinct quantized values; the probe side
    * lands on the largest reference value ≤ it via [[AsOfJoin.asofLeft]]
    * ON THE VALUE DOMAIN — the same merge-ordered operator that matches
    * timestamps. below-median share uses the exact integer form
    * 2·cum < n_ref (no float threshold). */
  private def q151(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = cleanEventsPlain(s, dir)
      .withColumn("vk", floor(col("value") * lit(1e6)).cast("long"))
      .withColumn("is_ref", (expr("ts div 86400000000") % 2) === 0)
    val cum = base.filter(col("is_ref"))
      .groupBy(col("event_type"), col("vk"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("ncum", sum(col("cnt")).over(Window
        .partitionBy(col("event_type")).orderBy(col("vk").asc)
        .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("event_type"), col("vk"), col("ncum"))
    val nref = base.filter(col("is_ref"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_ref"))
    val probe = base.filter(!col("is_ref"))
      .select(col("event_type"), col("vk"))
    graft.operators.AsOfJoin.asofLeft(probe, cum,
        keys = Seq("event_type"), timeCol = "vk",
        carry = Map("ncum" -> "ncum"))
      .withColumn("ncum", coalesce(col("ncum"), lit(0L)))
      .join(broadcast(nref), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_probe"), max(col("n_ref")).as("n_ref"),
        sum(Aggregates.round6Portable(
            col("ncum").cast("double") / col("n_ref").cast("double"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 6))).as("__sp"),
        sum(when(col("ncum") * 2 < col("n_ref"), lit(1L)).otherwise(lit(0L)))
          .as("n_below_median"))
      .select(col("event_type"), col("n_probe"), col("n_ref"),
        Aggregates.round6Portable(
          col("__sp").cast("double") / col("n_probe").cast("double"))
          .as("avg_pct"),
        col("n_below_median"))
      .orderBy(col("event_type").asc)
  }

  /** Herfindahl–Hirschman concentration of revenue across suppliers per
    * return flag — the "is this segment dominated by few producers"
    * audit. Shares come from exact decimal revenue; the |suppliers|-
    * sized Σ share² goes through the 6-dp DECIMAL exact-sum pattern. */
  private def q152(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySupp = Sources.table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_suppkey"))
      .agg(Aggregates.exactSum(
        col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    val share = bySupp
      .withColumn("tot", sum(col("rev")).over(Window
        .partitionBy(col("l_returnflag"))))
      .withColumn("sh", col("rev").cast("double") / col("tot").cast("double"))
    share.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(Aggregates.round6Portable(col("sh") * col("sh"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 6))).as("__hhi"))
      .select(col("l_returnflag"), col("n_suppliers"),
        Aggregates.round6Portable(col("__hhi").cast("double")).as("hhi"))
      .orderBy(col("l_returnflag").asc)
  }

  /** Sorted-neighborhood near-dup blocking (the entity-resolution
    * classic, a THIRD candidate generator next to LSH banding and the
    * prefix filter): sort fingerprints within top-byte buckets, compare
    * each doc to its next 3 neighbors in sort order via lead windows,
    * keep Hamming ≤ 3. Bucketed so the sort parallelizes (pairs
    * crossing a bucket boundary are the standard single-pass SNM miss —
    * production runs multiple sort keys); window input is |docs| rows
    * spread across 256 buckets. */
  private def q153(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fp = NearDup.simHash(docs(s, dir))
      .withColumn("bk", expr("shiftright(simhash, 24)"))
    val w = Window.partitionBy(col("bk"))
      .orderBy(col("simhash").asc, col("doc_id").asc)
    val withLeads = fp.select(
      Seq(col("bk"), col("doc_id"), col("simhash")) ++
        (1 to 3).flatMap(i => Seq(
          lead(col("doc_id"), i).over(w).as(s"nid$i"),
          lead(col("simhash"), i).over(w).as(s"nfp$i"))): _*)
    (1 to 3).map { i =>
      withLeads.filter(col(s"nid$i").isNotNull)
        .select(least(col("doc_id"), col(s"nid$i")).as("doc_a"),
          greatest(col("doc_id"), col(s"nid$i")).as("doc_b"),
          expr(s"bit_count(simhash ^ nfp$i)").cast("long").as("hamming"))
    }.reduce(_ unionByName _)
      // same near-dup threshold as the band-join family (q22/q23/q166)
      // — shared constant so the two generators can never drift apart
      .filter(col("hamming") <= SimHashMaxHamming)
      .distinct()
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  /** Population stability index per event type between even and odd
    * epoch days — THE production drift score next to KS (q105) and
    * Welch (q147). Fixed-width value bins (the q64 grid); PSI sums
    * (p−q)·ln(p/q) over bins present on both sides (reported next to
    * the common-bin count so coverage is visible); the per-bin terms
    * go through the 6-dp DECIMAL exact-sum pattern. */
  private def q154(s: SparkSession, dir: String): DataFrame = {
    // staged daily cells already carry (type, epoch-day, decile bin)
    // clean counts; the PSI sides are the day-parity split, so the
    // whole query re-aggregates the post-agg table — no events scan
    val base = eventsDailyCells(s, dir)
      .filter(col("bin").isNotNull)
      .withColumn("side", (col("d") % 2) === 0)
    val cells = base.groupBy(col("event_type"), col("bin"))
      .agg(sum(when(col("side"), col("n_clean")).otherwise(lit(0L))).as("na"),
        sum(when(!col("side"), col("n_clean")).otherwise(lit(0L))).as("nb"))
    val tot = cells.groupBy(col("event_type"))
      .agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
    val p = col("na").cast("double") / col("ta").cast("double")
    val q = col("nb").cast("double") / col("tb").cast("double")
    cells.join(broadcast(tot), Seq("event_type"))
      .filter(col("na") > 0 && col("nb") > 0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_common_bins"),
        sum(Aggregates.round6Portable((p - q) * log(p / q))
          .cast(org.apache.spark.sql.types.DecimalType(18, 6))).as("__psi"))
      .select(col("event_type"), col("n_common_bins"),
        Aggregates.round6Portable(col("__psi").cast("double")).as("psi"))
      .orderBy(col("event_type").asc)
  }

  /** Wilson 95% score interval for each event type's conversion rate
    * (value > 100 as the conversion event): the binomial interval that
    * behaves at small n and extreme p, from exact (n, k) via a pinned
    * scalar chain with z as a 6-dp literal — the A/B-test readout. */
  private def q155(s: SparkSession, dir: String): DataFrame = {
    val z = lit(1.959964)
    // (n, k) re-aggregated from the staged daily cells; n > 0 keeps
    // the cleanEvents group universe
    val agg = eventsDailyCells(s, dir)
      .groupBy(col("event_type"))
      .agg(sum(col("n_clean")).as("n"), sum(col("n_conv")).as("k"))
      .filter(col("n") > 0)
    val nd = col("n").cast("double")
    val p = col("k").cast("double") / nd
    val denom = lit(1.0) + (z * z) / nd
    val center = (p + (z * z) / (nd * lit(2.0))) / denom
    val half = (z * sqrt(p * (lit(1.0) - p) / nd +
      (z * z) / (nd * nd * lit(4.0)))) / denom
    agg.select(col("event_type"), col("n"), col("k"),
        Aggregates.round6Portable(p).as("rate"),
        Aggregates.round6Portable(center - half).as("wilson_lo"),
        Aggregates.round6Portable(center + half).as("wilson_hi"))
      .orderBy(col("event_type").asc)
  }

  /** Autocorrelation function of the daily order count at lags 1–7 —
    * the seasonality probe (a weekly cycle shows as an ACF spike at 7).
    * Daily counts are integers, so every moment (Σx, Σxy, …) per lag is
    * an exact BIGINT sum; the correlation is the [[SlopeOLS]]-order
    * scalar chain off those integers. Lag pairs come from ONE window
    * pass emitting all 7 lagged columns over the |days|-row table. */
  private def q156(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // daily counts come from the staged orders-daily table (one scan
    // shared with q140/q157); the ACF machinery below is unchanged
    val daily = ordersDaily(s, dir).select(col("d"), col("n_orders").as("x"))
    val w = Window.orderBy(col("d").asc)
    val lagged = daily.select(Seq(col("d"), col("x")) ++
      (1 to 7).map(l => lag(col("x"), l).over(w).as(s"y$l")): _*)
    // unpivot via stack (a generator), NOT a 7-arm union — a union would
    // re-plan the scan+aggregate subtree once per lag; this keeps ONE
    // orders scan and one daily aggregate, with the seven lag windows
    // sharing a single sort
    val arms = lagged.select(col("x"), expr(
        "stack(7, " + (1 to 7).map(l => s"${l}L, y$l").mkString(", ") +
          ") as (lag_d, y)"))
      .filter(col("y").isNotNull)
    // DECIMAL moments (not BIGINT): wrap-proof at scale, exact on both
    // engines — see the q145 note
    val d20 = org.apache.spark.sql.types.DecimalType(20, 0)
    val m = arms.groupBy(col("lag_d"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x").cast(d20)).as("sx"), sum(col("y").cast(d20)).as("sy"),
        sum(col("x").cast(d20) * col("y").cast(d20)).as("sxy"),
        sum(col("x").cast(d20) * col("x").cast(d20)).as("sxx"),
        sum(col("y").cast(d20) * col("y").cast(d20)).as("syy"))
    m.select(col("lag_d"), col("n_pairs"),
        corrFromMoments(col("n_pairs"), col("sx"), col("sy"), col("sxy"),
          col("sxx"), col("syy")).as("acf"))
      .orderBy(col("lag_d").asc)
  }

  /** CUSUM changepoint scan over daily revenue: the day maximizing
    * |Σ_{i≤t}(y_i − ȳ)| — where the revenue level most decisively
    * shifts. The cumulative revenue is an exact DECIMAL prefix (one
    * window over the |days| post-agg table); CUSUM_t = cum_t − t·ȳ is a
    * pinned double chain off (exact decimal, exact integers); the
    * argmax tie-breaks on the earlier day via one min(struct). Output
    * also reports the exact before/after mean levels. */
  private def q157(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // daily exact revenue from the staged orders-daily table (one scan
    // shared with q140/q156)
    val daily = ordersDaily(s, dir).select(col("d"), col("revenue").as("y"))
    val w = Window.orderBy(col("d").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = Window.partitionBy()
    val c = daily
      .withColumn("t", row_number().over(Window.orderBy(col("d").asc))
        .cast("long"))
      .withColumn("cum", sum(col("y")).over(w))
      .withColumn("sAll", sum(col("y")).over(tot))
      .withColumn("nAll", count(lit(1)).over(tot))
    val mean = col("sAll").cast("double") / col("nAll").cast("double")
    val cusum = col("cum").cast("double") - (col("t").cast("double") * mean)
    val scored = c.select(col("d"), col("t"), col("cum"), col("sAll"),
      col("nAll"), cusum.as("cusum"),
      Aggregates.round6Portable(abs(cusum)).as("abs_cusum"))
    scored
      .select(min(struct((-col("abs_cusum")).as("neg"), col("d").as("d"),
        col("t").as("t"), col("cusum").as("cusum"), col("cum").as("cum"),
        col("sAll").as("sAll"), col("nAll").as("nAll"))).as("m"))
      .select(col("m.d").as("split_day"), col("m.t").as("t"),
        col("m.nAll").as("n_days"),
        Aggregates.round6Portable(col("m.cusum")).as("cusum"),
        (-col("m.neg")).as("abs_cusum"),
        Aggregates.round6Portable(
          col("m.cum").cast("double") / col("m.t").cast("double"))
          .as("mean_before"),
        Aggregates.round6Portable(
          (col("m.sAll") - col("m.cum")).cast("double") /
            (col("m.nAll") - col("m.t")).cast("double")).as("mean_after"))
  }

  /** NULL-semantics scalar surface over the RAW (dirty) events:
    * coalesce / nullif / null-vs-NaN classification in one pass — the
    * audit distinguishing "absent" from "not-a-number" from "present
    * zero", which q10's integrity counts summarize but don't decompose.
    * The imputed mean treats NULL as 0 and drops NaN, all in exact
    * DECIMAL. */
  private def q158(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("value").isNull, lit(1L)).otherwise(lit(0L)))
          .as("n_value_null"),
        sum(when(isnan(col("value")), lit(1L)).otherwise(lit(0L)))
          .as("n_value_nan"),
        sum(when(col("props").isNull, lit(1L)).otherwise(lit(0L)))
          .as("n_props_null"),
        count(expr("nullif(value, 0.0)")).as("n_nonzero_nonnull"),
        sum(when(!isnan(coalesce(col("value"), lit(0.0))),
            coalesce(col("value"), lit(0.0))
              .cast(org.apache.spark.sql.types.DecimalType(18, 6))))
          .as("__s"),
        sum(when(!isnan(coalesce(col("value"), lit(0.0))), lit(1L))
          .otherwise(lit(0L))).as("__n"))
      .select(col("event_type"), col("n_rows"), col("n_value_null"),
        col("n_value_nan"), col("n_props_null"), col("n_nonzero_nonnull"),
        Aggregates.round6Portable(
          col("__s").cast("double") / col("__n").cast("double"))
          .as("imputed_mean"))
      .orderBy(col("event_type").asc)

  /** String-function surface per part brand: upper / reverse / lpad /
    * concat_ws / substring composed into deterministic min/max
    * profiles — the canonicalization toolbox a schema-matching pass
    * uses, exercised end to end against the oracle's identical
    * built-ins. */
  private def q159(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "part")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        min(upper(col("p_name"))).as("min_name_upper"),
        max(reverse(col("p_name"))).as("max_name_rev"),
        min(expr("lpad(cast(p_size as string), 3, '0')")).as("min_size_pad"),
        max(concat_ws("-", col("p_brand"),
          substring(col("p_name"), 1, 5))).as("max_tag"))
      .orderBy(col("p_brand").asc)

  /** Calendar-function surface: month truncation, quarter extraction,
    * last-day-of-month, and weekend classification via the portable
    * epoch-day arithmetic ((d+4) mod 7 ∈ {0,6}) — no locale, no
    * calendar library. Dates leave the query as strings so both
    * engines hash identical bytes. */
  private def q160(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "orders")
      .withColumn("m", to_date(date_trunc("month", col("o_orderdate"))))
      .groupBy(date_format(col("m"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        min(quarter(col("m")).cast("long")).as("q"),
        min(date_format(last_day(col("m")), "yyyy-MM-dd")).as("month_end"),
        sum(when(dowOf("o_orderdate").isin(0, 6), lit(1L))
          .otherwise(lit(0L))).as("n_weekend_orders"))
      .orderBy(col("month").asc)

  /** Pure-SQL entry path: the whole query is ONE `spark.sql` text over
    * [[Sources.registerTables]] views, including an injected-function
    * call (`graft_nfc`, registered by [[GraftExtensions]]) — proving a
    * SQL-only user reaches the same engine, same plans, same gate. The
    * Catalyst plan is identical to the DataFrame form (same star join,
    * broadcast dims, exact decimal revenue). */
  private def q161(s: SparkSession, dir: String): DataFrame = {
    Sources.registerTables(s, dir)
    s.sql("""
      SELECT r_name AS region, graft_nfc(n_name) AS nation,
             count(*) AS n_orders,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                  AS DOUBLE) AS revenue
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, graft_nfc(n_name)
      ORDER BY region ASC, nation ASC""")
  }

  /** Referential-integrity audit across every fixture foreign key in
    * one result — child row count, distinct key count, orphan count
    * (anti-join) per relation. Each arm is a pair of counts plus a
    * LeftAnti hash join; the five arms union into the one DQ report a
    * warehouse runs nightly. */
  private def q162(s: SparkSession, dir: String): DataFrame = {
    def arm(rel: String, child: DataFrame, ck: String,
            parent: DataFrame, pk: String): DataFrame = {
      val orphans = child.select(col(ck).as("k"))
        .join(parent.select(col(pk).as("k")), Seq("k"), "left_anti")
      child.agg(count(lit(1)).as("n_child"),
          countDistinct(col(ck)).as("n_keys"))
        .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
        .select(lit(rel).as("relation"), col("n_child"), col("n_keys"),
          col("n_orphans"))
    }
    val li = Sources.table(s, dir, "lineitem")
    val o = Sources.table(s, dir, "orders")
    Seq(
      arm("lineitem.orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
      arm("lineitem.partkey->part", li, "l_partkey",
        Sources.table(s, dir, "part"), "p_partkey"),
      arm("lineitem.suppkey->supplier", li, "l_suppkey",
        Sources.table(s, dir, "supplier"), "s_suppkey"),
      arm("orders.custkey->customer", o, "o_custkey",
        Sources.table(s, dir, "customer"), "c_custkey"),
      arm("customer.nationkey->nation", Sources.table(s, dir, "customer"),
        "c_nationkey", Sources.table(s, dir, "nation"), "n_nationkey"))
      .reduce(_ unionByName _)
      .orderBy(col("relation").asc)
  }


  /** Per-label embedding centroids (IVF coarse-quantizer shape). */
  private def q41(s: SparkSession, dir: String): DataFrame =
    Similarity.labelCentroids(Sources.table(s, dir, "embeddings"))
      .select(col("label"), col("dim"), r6(col("centroid")).as("centroid"))
      .orderBy(col("label").asc, col("dim").asc)

  /** JSON scalar extraction from the event props payload (json-function
    * surface — absent in the reference, standard pipeline need). */
  private def q42(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"), avg(col("k")).as("avg_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .select(col("event_type"), col("n_with_k"), r6(col("avg_k")).as("avg_k"),
        col("min_k"), col("max_k"))
      .orderBy(col("event_type").asc)

  /** IVF-bucketed approximate KNN: label centroids as the coarse
    * quantizer, 2 probes. Approximate w.r.t. brute force but
    * deterministic — oracle'd by an exact SQL mirror of the pipeline. */
  private def q43(s: SparkSession, dir: String): DataFrame = {
    val emb = Sources.table(s, dir, "embeddings")
    Similarity.ivfKnn(emb, emb.filter(col("vec_id") < 10),
        Similarity.labelCentroids(emb), k = 5, nProbe = 2)
      .withColumnRenamed("rank", "knn_rank")
      .orderBy(col("q_vec").asc, col("knn_rank").asc)
  }

  /** Embedding-cosine near-dup pairs (mandate: embedding near-dup as a
    * first-class dedup mode). Exact pairwise form at fixture scale; the
    * LSH/IVF paths (q31/q43) are the candidate generators at corpus scale. */
  /** Rounded-cosine near-dup threshold, shared by the exact generator
    * (q45), its capped LSH scale twin (q179), and both oracles — the
    * q153 lesson: paired literals drift, one constant cannot. */
  private val EmbNearDupMinCosine = 0.45

  /** Hyperplane count per table, table count, and bucket population cap
    * for q179's multi-table LSH near-dup candidate generation. 5 planes
    * × 16 tables: per-table match probability p^5 for per-plane
    * agreement p, OR'd across 16 independent tables (probed at gate SF:
    * capped recall 12/14 of the exact pairs at the LOW 0.45 threshold —
    * production semantic-dedup thresholds sit far higher, where recall
    * approaches 1; planes scales with corpus size to keep buckets out
    * of the birthday regime). The cap is the flood guard, sized so the
    * star arm is exercised at gate SF (probed max bucket ≈ 39). */
  private val EmbLshPlanes = 5
  private val EmbLshTables = 16
  private val EmbLshBucketCap = 32L

  private def q45(s: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairs(Sources.table(s, dir, "embeddings"),
        minCosine = EmbNearDupMinCosine)
      .orderBy(col("vec_a").asc, col("vec_b").asc)

  /** Staged multi-table-LSH embedding pair table — built once, consumed
    * by q179 (pairs), q180 (clusters) and q181 (survivors), exactly as
    * the capped simhash pair table feeds q170/q171. */
  private def stagedEmbLshPairs(s: SparkSession, dir: String): DataFrame =
    graft.engine.Staging.stagedParquet(s,
        s"emb_lsh_pairs|cos>=$EmbNearDupMinCosine|p=$EmbLshPlanes" +
          s"|t=$EmbLshTables|cap=$EmbLshBucketCap|$dir", Seq(dir))(
      Similarity.nearDupPairsLsh(Sources.table(s, dir, "embeddings"),
        EmbNearDupMinCosine, EmbLshPlanes, EmbLshTables, EmbLshBucketCap))

  /** Staged semantic-dedup cluster table: min-label connected
    * components over [[stagedEmbLshPairs]]. */
  private def stagedEmbLshClusters(s: SparkSession, dir: String): DataFrame =
    graft.engine.Staging.stagedParquet(s,
        s"emb_lsh_clusters|cos>=$EmbNearDupMinCosine|p=$EmbLshPlanes" +
          s"|t=$EmbLshTables|cap=$EmbLshBucketCap|$dir", Seq(dir))(
      graft.operators.Graph.connectedComponents(
        stagedEmbLshPairs(s, dir), "vec_a", "vec_b"))

  /** Multi-table-LSH capped embedding near-dup pairs
    * ([[Similarity.nearDupPairsLsh]]) — the 100 TB path for q45, whose
    * exact all-pairs mirror SCALE.md measures as non-executable at
    * century scale: same-signature candidates only (any of the 16
    * tables), over-cap buckets star-reduced to their anchor, every edge
    * cosine-verified at the shared threshold (subset-of-q45 precision
    * pinned by spec). Reads the staged pair table, so the bench times
    * the scan, and q180/q181 reuse the build. */
  private def q179(s: SparkSession, dir: String): DataFrame =
    stagedEmbLshPairs(s, dir)
      .orderBy(col("vec_a").asc, col("vec_b").asc)

  /** SEMANTIC dedup clusters (SemDeDup shape): transitive closure of
    * the q179 embedding near-dup pairs via the same min-label CC
    * operator the text pipeline runs (q170) — one duplicate group per
    * connected set of cosine-verified neighbors, cluster_id = smallest
    * vec_id. */
  private def q180(s: SparkSession, dir: String): DataFrame =
    stagedEmbLshClusters(s, dir)
      .select(col("n").as("vec_id"), col("component").as("cluster_id"))
      .orderBy(col("vec_id").asc)

  /** Semantic-dedup survivors: one canonical vector (smallest vec_id)
    * per q180 cluster plus every unclustered vector — the embedding-
    * space twin of q171's document survivors, completing the
    * fingerprint → capped pairs → components → anti-join pipeline for
    * the second modality. */
  private def q181(s: SparkSession, dir: String): DataFrame = {
    val e = Sources.table(s, dir, "embeddings")
    val dropIds = stagedEmbLshClusters(s, dir)
      .filter(col("n") =!= col("component"))
      .select(col("n"))
    e.join(dropIds, e("vec_id") === dropIds("n"), "left_anti")
      .select(col("vec_id"), col("label"))
      .orderBy(col("vec_id").asc)
  }

  /** The prototype-pruning KEPT set (q205's rule, staged): the hardest
    * ⌈keepBp⌉ fraction of each fitted k-means cluster. One stage serves
    * the q214 composition's pair build AND its survivor anti-join. */
  private def stagedPrunedEmbIds(s: SparkSession, dir: String): DataFrame =
    graft.engine.Staging.stagedParquet(s,
        s"pruned_ids|k=$KmeansK|it=$KmeansIters|keep=$PruneKeepBp|$dir",
        Seq(dir))(
      graft.operators.KMeansQuantizer
        .prototypePruning(Sources.table(s, dir, "embeddings"),
          KmeansK, KmeansIters, PruneKeepBp)
        .filter(col("kept")).select(col("vec_id")))

  /** Semantic-dedup clusters over the PRUNED corpus: the q179 capped
    * multi-table-LSH generator re-run on prototype-pruning survivors
    * (bucket stats and caps are the pruned sub-corpus's own — the
    * composition is prune-THEN-dedup, not a pair-table filter), then
    * min-label CC. Staged: feeds the q214 survivor anti-join. */
  private def stagedPrunedSemClusters(s: SparkSession, dir: String): DataFrame =
    graft.engine.Staging.stagedParquet(s,
        s"pruned_sem_clusters|k=$KmeansK|it=$KmeansIters|keep=$PruneKeepBp" +
          s"|cos>=$EmbNearDupMinCosine|p=$EmbLshPlanes|t=$EmbLshTables" +
          s"|cap=$EmbLshBucketCap|$dir", Seq(dir))(
      graft.operators.Graph.connectedComponents(
        Similarity.nearDupPairsLsh(
          Sources.table(s, dir, "embeddings")
            .join(stagedPrunedEmbIds(s, dir), Seq("vec_id")),
          EmbNearDupMinCosine, EmbLshPlanes, EmbLshTables, EmbLshBucketCap),
        "vec_a", "vec_b"))

  /** Sorscher et al.'s ACTUAL data-pruning recipe composed end to end:
    * prototype-prune the embedding corpus FIRST (keep each cluster's
    * hardest [[PruneKeepBp]] fraction — q205's rule), then SemDeDup the
    * survivors (capped LSH pairs → CC → one canonical vector per
    * duplicate cluster — q180/q181's machinery over the pruned set).
    * Output: the vectors a training run would embed-train on. Every
    * stage staged and flood-bounded; the prune stage reuses q205's
    * histogram-threshold plan (no cluster-sized windows anywhere). */
  private def q214(s: SparkSession, dir: String): DataFrame = {
    val kept = Sources.table(s, dir, "embeddings")
      .join(stagedPrunedEmbIds(s, dir), Seq("vec_id"))
    val dropIds = stagedPrunedSemClusters(s, dir)
      .filter(col("n") =!= col("component"))
      .select(col("n"))
    kept.join(dropIds, kept("vec_id") === dropIds("n"), "left_anti")
      .select(col("vec_id"), col("label"))
      .orderBy(col("vec_id").asc)
  }

  /** Salt for the leakage-free split's group hash, and the split
    * boundaries in basis points (80/10/10) — interpolated into the
    * oracle so engine and SQL cannot drift. */
  private val SplitSalt = "split-v1"
  private val SplitTrainBp = 8000
  private val SplitValBp = 9000

  /** DSIR hashed-feature model shape (shared with the oracle). */
  private val DsirBuckets = 256
  private val DsirSalt = "dsir-v1"
  private val DsirTargetSource = "src3"

  /** Token-budget allocation knobs (shared with the oracle): budget =
    * Σtokens DIV den, repeat ceiling in epochs. */
  private val MixBudgetDen = 2
  private val MixCapEpochs = 2

  /** Naive-Bayes source-classifier feature space (shared with the
    * q195 oracle): hashed-bucket width + salt. */
  private val NbBuckets = 256
  private val NbSalt = "nb-v1"

  /** Perplexity-bucket count for the CCNet-style head/middle/tail
    * split (q196) — deciles. */
  private val PplBuckets = 10

  /** Duplicated-substring span width in tokens (q197): 5-grams. */
  private val DupSpanN = 5

  /** Minimum MERGED span length (tokens) for the length-thresholded
    * removal (q213) — the Lee et al. production rule thresholds on
    * TRUE span length (they use ≥ 50 on web corpora); the fixture
    * value is chosen so both arms are exercised at every gate SF
    * (spans both below and at-or-above it exist — probed on the q212
    * interval table). */
  private val DupSpanMinLen = 8

  /** Audio feature-window hop in samples (q206). */
  private val AudioFeatureWindow = 32

  /** Prototype-pruning keep fraction in basis points (q205): keep the
    * hardest 70% of every cluster — the Sorscher et al. abundant-data
    * operating point. */
  private val PruneKeepBp = 7000

  /** Hybrid BM25 + embedding-cosine retrieval fused by reciprocal rank
    * fusion ([[graft.operators.Retrieval.hybridRrf]]) — the RAG
    * two-tower query shape. Lexical side reuses q84's term bag; vector
    * side probes with vec_id 0's embedding (vec_id = doc_id, one
    * embedding per doc). Both lists are bounded top-20 before the
    * fuse, so the rank join is ≤ 40 rows at any corpus size. */
  private def q182(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.hybridRrf(docs(s, dir),
      Sources.table(s, dir, "embeddings"),
      Seq("spark", "join", "window", "merge"), probeVecId = 0L, k = 20)

  /** Leakage-free train/val/test split
    * ([[graft.operators.DataMix.leakFreeSplit]]): every doc inherits
    * its capped near-dup cluster (q170's staged table) as its split
    * group, so near-duplicates can never straddle a split boundary —
    * the contamination guard a curation pipeline runs before writing
    * train/val/test manifests. Gate reports the per-split census; the
    * leakage invariant itself (both endpoints of every pair share a
    * split) is pinned by spec. */
  private def q183(s: SparkSession, dir: String): DataFrame =
    graft.operators.DataMix.leakFreeSplit(docs(s, dir),
        stagedSimhashClustersCapped(s, dir), SplitSalt, SplitTrainBp, SplitValBp)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("group_id")).as("n_groups"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("split").asc)

  /** DSIR-style hashed-n-gram importance log-ratios
    * ([[graft.operators.DataMix.dsirImportance]]): docs scored by how
    * much their token mix resembles the '$DsirTargetSource' slice vs
    * the whole corpus — the target-distribution selection signal of
    * importance resampling. One corpus scan; bucket scores rounded at
    * DECIMAL(18,6) before the exact per-doc sum (the q84 ln idiom). */
  private def q184(s: SparkSession, dir: String): DataFrame =
    graft.operators.DataMix.dsirImportance(docs(s, dir),
      col("source") === DsirTargetSource, DsirBuckets, DsirSalt)
      .orderBy(col("doc_id").asc)

  /** Per-source token-budget allocation under a repeat cap
    * ([[graft.operators.DataMix.tokenBudgetMix]]) — the
    * data-constrained mixing planner: equal share per source, capped
    * at [[MixCapEpochs]] epochs, one integer-exact redistribution
    * round across uncapped sources with the redistributed allocation
    * itself clamped at the ceiling (the ceiling is hard, round 9 fix).
    * Fixture sources are near-uniform, so the gate exercises the
    * uncapped arm; the cap + redistribution + clamp arms are pinned by
    * spec on skewed frames. */
  private def q185(s: SparkSession, dir: String): DataFrame =
    graft.operators.DataMix.tokenBudgetMix(docs(s, dir),
      MixBudgetDen, MixCapEpochs)

  /** Per-label embedding dispersion ([[Similarity.labelDispersion]]):
    * average intra-label pairwise dot product by the sum-vector
    * identity — O(n·d), no pair join, the 100 TB-executable form of an
    * embedding-space diversity audit. */
  private def q186(s: SparkSession, dir: String): DataFrame =
    Similarity.labelDispersion(Sources.table(s, dir, "embeddings"))

  /** Cross-source containment matrix — which source QUOTES which:
    * q118's directional shingle-containment pairs rolled up to
    * (source_a ⊂ source_b) counts + mean containment. The corpus-level
    * provenance view of the quote detector (syndication/mirror-site
    * audit); consumes the STAGED pair table
    * ([[stagedContainmentPairs]]) — the rollup itself is a |sources|²
    * group-by over landed parquet, no candidate join re-run. Each pair's containment is PINNED by the
    * portable floor-round BEFORE the DECIMAL(18,6) cast (the two
    * engines' raw double→decimal casts disagree on exact-half ties —
    * [[Aggregates.roundPortable]] doc), so the sum is exact and the
    * single closing division sits under the portable floor-round. */
  private def q187(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("source"))
    stagedContainmentPairs(s, dir)
      .join(d.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(Aggregates.round6Portable(col("containment"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .as("__csum"))
      .select(col("src_a"), col("src_b"), col("n_pairs"),
        graft.engine.Aggregates.round6Portable(
          col("__csum").cast("double") / col("n_pairs")).as("avg_containment"))
      .orderBy(col("src_a").asc, col("src_b").asc)
  }

  /** Dedup candidate-generator audit — MEASURED recall/precision of the
    * q21 MinHash-LSH candidate set against exact global n-gram Jaccard
    * ground truth at 0.5: the evaluation a curation pipeline runs
    * before trusting a generator's parameters (bands × rows vs the
    * S-curve). One row: |truth|, |candidates|, |hits|, recall,
    * candidate-set precision. Both pair sets are staged (each feeds
    * its own count AND the hit join); the divisions are single IEEE
    * ops on exact counts under round(6), NULL-guarded when a set is
    * empty — Spark's non-ANSI x/0 yields NULL where DuckDB's double
    * division yields ±inf/NaN, so a degenerate generator (exactly the
    * case an audit exists to expose) would otherwise diverge the two
    * engines; both sides agree on NULL instead. */
  private def generatorAudit(d: org.apache.spark.sql.DataFrame,
                             tag: String): DataFrame = {
    val truth = graft.engine.Staging.stagedByPlan(
      NearDup.ngramJaccardPairs(d.withColumn("blk", lit(1)), "blk",
          minJaccard = AuditMinJaccard)
        .select(col("doc_a"), col("doc_b")), s"${tag}_truth")
    val cand = graft.engine.Staging.stagedByPlan(
      NearDup.minHashCandidates(d, MinhashK, LshBands, LshRows)
        .select(col("doc_a"), col("doc_b")), s"${tag}_cand")
    val hit = truth.join(cand, Seq("doc_a", "doc_b"))
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
        when(col("n_truth") > 0,
          r6(col("n_hit").cast("double") / col("n_truth"))).as("recall"),
        when(col("n_cand") > 0,
          r6(col("n_hit").cast("double") / col("n_cand"))).as("cand_precision"))
      .orderBy(col("n_truth").asc)
  }

  private def q188(s: SparkSession, dir: String): DataFrame =
    generatorAudit(docs(s, dir), "q188")

  /** The q188 generator audit over a DETERMINISTIC md5 doc sample —
    * the century-executable form: both the truth side (Sigma df-squared
    * shingle self-join, measured single-node-infeasible at sf10
    * uncapped) and the candidate side shrink quadratically with the
    * sample rate, membership is a pure function of (doc_id, salt), and
    * recall/precision estimate the full-corpus audit the way any
    * production parameter-validation run samples its ground truth. */
  private def q191(s: SparkSession, dir: String): DataFrame =
    generatorAudit(
      docs(s, dir).filter(graft.operators.Sampling.hashBucket(
        col("doc_id"), AuditSampleSalt) < AuditSampleBp),
      "q191")

  /** Per-(split × source) training manifest
    * ([[graft.operators.DataMix.trainManifest]]): q183's leak-free
    * split × q185's budget allocation composed into the table a
    * training launcher consumes — per cell, doc/token census plus the
    * source allocation apportioned by exact integer proportion. The
    * reconciliation spec pins that the manifest sums back to BOTH
    * parents. */
  private def q192(s: SparkSession, dir: String): DataFrame =
    graft.operators.DataMix.trainManifest(docs(s, dir),
      stagedSimhashClustersCapped(s, dir), SplitSalt, SplitTrainBp,
      SplitValBp, MixBudgetDen, MixCapEpochs)

  /** Corpus shingle-df profile ([[NearDup.shingleDfProfile]]): the
    * df-band derivation's cumulative histogram surfaced as a query —
    * one row per distinct repeated-shingle df with counts, exact
    * Σcnt·df² fan-out, and the in-band flag — so containment-band
    * tuning reads a table instead of re-probing the corpus. Output is
    * bounded by |distinct df values|, scale-free in practice. */
  private def q193(s: SparkSession, dir: String): DataFrame =
    NearDup.shingleDfProfile(docs(s, dir), ShingleDfQuantileBp,
        ShingleDfFloor, ShingleDfFanoutBudget)
      .orderBy(col("df").asc)

  /** Flood-safe containment twin: q118's corpus-relative-band pairs
    * kept to the top-[[DedupKnobs.ContainTopK]] matches per doc_a
    * (containment desc, doc_b tiebreak) — the DUMPABLE form of the
    * quote audit in the saturation regime, where the uncapped pair set
    * is O(dup-cluster²) (107M rows at sf10, measured). Reads the
    * STAGED pair table ([[stagedContainmentPairs]]); the
    * row_number-top-k plan rewrites to bounded per-partition heaps
    * (RewriteRowNumberTopK), so output ≤ k·|docs| at any corpus. A
    * caller who must not land the pair table composes the same window
    * directly over `containmentPairsQuantileBand` — identical plan,
    * unstaged. */
  private def q194(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_a"))
      .orderBy(col("containment").desc, col("doc_b").asc)
    stagedContainmentPairs(s, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= ContainTopK)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_common"),
        r6(col("containment")).as("containment"), col("rk"))
      .orderBy(col("doc_a").asc, col("rk").asc)
  }

  /** Naive-Bayes source self-classification confusion matrix
    * ([[graft.operators.Classify.naiveBayesSourceConfusion]]): the
    * quality/domain-classifier stage of a curation pipeline with an
    * exactly reproducible closed-form model — trained AND applied under
    * one hash gate. Which sources are separable by token mix alone. */
  private def q195(s: SparkSession, dir: String): DataFrame =
    graft.operators.Classify.naiveBayesSourceConfusion(docs(s, dir),
      NbBuckets, NbSalt)

  /** Corpus-relative perplexity deciles
    * ([[TextAnalysis.perplexityBuckets]]): the CCNet head/middle/tail
    * quality split over the unigram-LM score (q110), with bucket
    * assignment derived from the 6-dp score HISTOGRAM (value-domain-
    * bounded — no corpus-sized global sort), the round-9
    * corpus-relative-threshold idiom. */
  private def q196(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.perplexityBuckets(docs(s, dir), PplBuckets)

  /** Per-doc duplicated-substring fraction
    * ([[TextAnalysis.dupSpanStats]]): the exact-substring dedup
    * primitive (Lee et al. 2022) as an audit metric — the share of a
    * doc's [[DupSpanN]]-gram positions whose span recurs anywhere in
    * the corpus (multiplicity counts; self-repeats included). */
  private def q197(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.dupSpanStats(docs(s, dir), DupSpanN)
      .orderBy(col("doc_id").asc)

  /** Perceptual hash per image ([[Multimodal.pHashes]]): the aHash
    * fingerprint computed from the REAL PNG decode (q169's codec path)
    * with an integer-exact threshold — the fingerprint stage of an
    * image-dedup pipeline, gated bit for bit against the pixel-model
    * replay. */
  /** The NATIVE-raster aHash table, staged once per corpus — one PNG
    * encode→decode codec pass feeds q198/q199/q201 (the fingerprint
    * staging doctrine the resampled arm already follows). */
  private def stagedNativePHashes(s: SparkSession, dir: String): DataFrame =
    graft.engine.Staging.stagedParquet(s,
        s"native_phash|$dir", Seq(dir))(
      Multimodal.pHashes(s, Multimodal.pngPayloads(s, docs(s, dir))))

  private def q198(s: SparkSession, dir: String): DataFrame =
    stagedNativePHashes(s, dir)
      .orderBy(col("doc_id").asc)

  /** Image near-dup at the hash-CLASS level
    * ([[Multimodal.pHashClassPairs]]): perceptual-duplicate clusters
    * paired by banded hamming ≤ [[DedupKnobs.PHashMaxHamming]] — the
    * image modality's dedup with the flood lesson built in (the
    * fixture's structured images collide heavily; class rows carry
    * member counts instead of materializing O(cluster²) image pairs). */
  private def q199(s: SparkSession, dir: String): DataFrame =
    Multimodal.pHashClassPairs(
        stagedNativePHashes(s, dir),
        PHashMaxHamming)
      .orderBy(col("width").asc, col("height").asc,
        col("ph_a").asc, col("ph_b").asc)

  /** q199 behind the per-(dims, band, value) CLASS-population cap
    * ([[Multimodal.pHashClassPairsCapped]]): the star-reduction guard
    * for corpora whose distinct-hash count approaches |images|, where
    * the class join itself degrades to the raw pair join. Below the
    * cap the pair set is identical to q199's (spec-pinned); the
    * fixture's buckets sit under [[DedupKnobs.PHashClassBucketCap]],
    * so this gate ALSO hash-checks the capped path's small-bucket arm
    * end to end. */
  private def q201(s: SparkSession, dir: String): DataFrame =
    Multimodal.pHashClassPairsCapped(
        stagedNativePHashes(s, dir),
        PHashMaxHamming, PHashClassBucketCap)
      .orderBy(col("width").asc, col("height").asc,
        col("ph_a").asc, col("ph_b").asc)

  /** Standard-aHash resample arm ([[Multimodal.pHashesResampled]]):
    * the [[DedupKnobs.PHashGrid]]² fingerprint from exact integer
    * box-mean resampling of the REAL PNG decode, thresholded against
    * the image mean — the hash that matches resize near-dups, gated
    * bit for bit against the pixel-model + integer-resample replay. */
  /** The RESAMPLED image fingerprint table, staged once per corpus —
    * the encode→decode→resample codec pass feeds four queries
    * (q202/q203/q209/q215); a production pipeline lands fingerprints
    * and every consumer scans the landed table (the round-11
    * containment-staging doctrine applied to the codec arms). */
  private def stagedResampledHashes(s: SparkSession, dir: String): DataFrame =
    graft.engine.Staging.stagedParquet(s,
        s"resampled_phash|g=$PHashGrid|$dir", Seq(dir))(
      Multimodal.pHashesResampled(s,
        Multimodal.pngPayloads(s, docs(s, dir)), PHashGrid))

  /** The audio envelope-fingerprint table, staged once per corpus
    * (consumers: q207/q215). */
  private def stagedAudioFps(s: SparkSession, dir: String): DataFrame =
    graft.engine.Staging.stagedParquet(s,
        s"audio_fp|sw=$AudioFpSubWindows|$dir", Seq(dir))(
      Multimodal.audioFingerprints(s,
        Multimodal.wavPayloads(s, docs(s, dir)), AudioFpSubWindows))

  /** The MULTI-BAND audio fingerprint table
    * ([[Multimodal.audioFingerprintsMultiBand]]), staged once per
    * corpus — the production-width signal the pipeline's audio arm
    * clusters on (consumers: q209/q215/q216/q217). */
  private def stagedAudioMbFps(s: SparkSession, dir: String): DataFrame =
    graft.engine.Staging.stagedParquet(s,
        s"audio_fp_mb|sw=$AudioFpSubWindows|b=${DedupKnobs.AudioFpBands}|$dir",
        Seq(dir))(
      Multimodal.audioFingerprintsMultiBand(s,
        Multimodal.wavPayloads(s, docs(s, dir)), AudioFpSubWindows,
        DedupKnobs.AudioFpBands))

  /** The WIDE frame-matrix audio fingerprint table (135 bits in nine
    * 15-bit words), staged once per corpus (consumers:
    * q222/q223/q215). */
  private def stagedAudioWideFps(s: SparkSession, dir: String): DataFrame =
    graft.engine.Staging.stagedParquet(s,
        s"audio_fp_wide|sw=$AudioFpSubWindows" +
          s"|b=${DedupKnobs.AudioFpWideBands}|$dir", Seq(dir))(
      Multimodal.audioFingerprintsWide(s,
        Multimodal.wavPayloads(s, docs(s, dir)), AudioFpSubWindows,
        DedupKnobs.AudioFpWideBands, DedupKnobs.AudioFpWideWordBits))

  private def q202(s: SparkSession, dir: String): DataFrame =
    stagedResampledHashes(s, dir)
      .orderBy(col("doc_id").asc)

  /** Scale-invariant image near-dup classes over the RESAMPLED hash
    * ([[Multimodal.resampledClassPairsCapped]]): hash-keyed classes
    * (dims deliberately absent — resampling exists so different-size
    * images can match), 4×16-bit band candidates, per-bucket class cap.
    * The resize-robust dedup stage q202's fingerprint feeds. */
  private def q203(s: SparkSession, dir: String): DataFrame =
    Multimodal.resampledClassPairsCapped(
        stagedResampledHashes(s, dir),
        PHashMaxHamming, PHashClassBucketCap)
      .orderBy(col("ph_hi_a").asc, col("ph_lo_a").asc,
        col("ph_hi_b").asc, col("ph_lo_b").asc)

  /** Duplicate-span REMOVAL ([[TextAnalysis.dedupSpans]]): the
    * production form of the Lee et al. exact-substring dedup that q197
    * only measures — every doc rewritten with its corpus-duplicated
    * [[DupSpanN]]-token spans cut out, plus the removal census. */
  private def q204(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.dedupSpans(docs(s, dir), DupSpanN)
      .orderBy(col("doc_id").asc)

  /** Prototypicality pruning ([[graft.operators.KMeansQuantizer
    * .prototypePruning]], Sorscher et al. 2022): every embedding ranked
    * within its fitted k-means cluster by distance-to-centroid DESC,
    * kept when rank ≤ ⌈[[PruneKeepBp]]/10⁴ · cluster size⌉ — the
    * keep-the-hardest data-pruning rule of the abundant-data regime.
    * Oracle: the q44 unrolled-Lloyd CTE chain plus a final assignment
    * and per-cluster rank, the ceiling written as the same exact
    * integer predicate. */
  private def q205(s: SparkSession, dir: String): DataFrame =
    graft.operators.KMeansQuantizer
      .prototypePruning(Sources.table(s, dir, "embeddings"),
        KmeansK, KmeansIters, PruneKeepBp)
      .orderBy(col("vec_id").asc)

  /** Windowed audio features from a REAL WAV round-trip
    * ([[Multimodal.wavPayloads]] → [[Multimodal.audioWindowFeatures]]):
    * genuine RIFF/WAVE bytes in the binary column, genuinely parsed
    * back (the JDK's own `javax.sound.sampled`), reduced to per-window
    * energy + zero crossings — the VAD/segmentation signals of an audio
    * pipeline. Sample content derives from doc_id alone, so the oracle
    * replays the arithmetic codec-free (the PNG path's q169 trick). */
  private def q206(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioWindowFeatures(s,
        Multimodal.wavPayloads(s, docs(s, dir)), AudioFeatureWindow)
      .orderBy(col("doc_id").asc, col("window_idx").asc)

  /** Audio near-dup class pairs over the Haitsma-Kalker energy-envelope
    * fingerprint ([[Multimodal.audioFingerprints]] →
    * [[Multimodal.audioClassPairsCapped]]) — the audio member of the
    * multimodal dedup family, class-level and bucket-capped from day
    * one like the resampled image arm (q203). */
  private def q207(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioClassPairsCapped(
        stagedAudioFps(s, dir),
        AudioFpMaxHamming, AudioClassBucketCap)
      .orderBy(col("fp_a").asc, col("fp_b").asc)

  /** Streaming quality gate ([[EventStream.runQualityGateOnce]]): the
    * corpus streamed through the join-free STATELESS form of q69's
    * curation decision (pure column expressions — no stream-stream
    * self-join, no state store), rolled up to the per-source admission
    * report a streaming ingest publishes. Same knobs as q69; the
    * per-doc decisions are spec-pinned ≡ the batch form. */
  private def q208(s: SparkSession, dir: String): DataFrame =
    EventStream.runQualityGateOnce(s, dir, TextAnalysis.stopwords("en"),
      minTokens = 5, minStopRatio = 0.10, maxRepRatio = 0.5)

  /** The MULTIMODAL curation record — one row per document carrying
    * every modality's fingerprint and quality signal side by side:
    * text (token count, stopword ratio), image (the scale-invariant
    * resampled aHash, q202's fingerprint, from the REAL PNG decode)
    * and audio (the multi-band Haitsma-Kalker fingerprint, q216's,
    * from the REAL WAV decode — the signal the pipeline's audio arm
    * clusters on). This is the typed record a multimodal training pipeline
    * stages once and every downstream consumer (dedup, mixing,
    * retrieval) keys into — three 1:1 equi-joins on doc_id, each side
    * a narrow decode map, no fan-out anywhere. */
  private def q209(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val txt = TextAnalysis.textStats(d, TextAnalysis.stopwords("en"))
      .select(col("doc_id"), col("n_tokens"),
        Aggregates.round6Portable(col("stopword_ratio"))
          .as("stopword_ratio"))
    val img = stagedResampledHashes(s, dir)
      .select(col("doc_id"), col("width"), col("height"),
        col("ph_hi"), col("ph_lo"))
    val aud = stagedAudioMbFps(s, dir)
      .select(col("doc_id"), col("n_samples"),
        col("fp_hi").as("audio_fp_hi"), col("fp_lo").as("audio_fp_lo"))
    txt.join(img, Seq("doc_id")).join(aud, Seq("doc_id"))
      .orderBy(col("doc_id").asc)
  }

  /** Temperature-smoothed mixture budget (q210). */
  private val TempBudgetDen = 2
  private val TempMixSalt = "temp-v1"

  /** Exponentiated-smoothing mixture
    * ([[graft.operators.DataMix.temperatureMix]], α = ½ — the
    * mBERT/XLM low-resource boost): per-source sampling rates ∝
    * √tokens instead of tokens, integerized once and carried through
    * exact DECIMAL(38,0) cross-multiplication, membership by the
    * standard hash-bucket contract. */
  private def q210(s: SparkSession, dir: String): DataFrame =
    graft.operators.DataMix
      .temperatureMix(docs(s, dir), TempBudgetDen, TempMixSalt)
      .orderBy(col("source").asc)

  /** Balanced shard plan (q211). */
  private val ShardN = 8
  private val ShardBuckets = 32
  private val ShardSalt = "shard-v1"

  /** Token-balanced output sharding
    * ([[graft.operators.Sampling.balancedShardPlan]]): docs hash into
    * 256 micro-buckets, the SMALL bucket census ranks by token mass,
    * and ranks snake over 8 shards — deterministic ≈equal-mass shards
    * with no corpus-wide sort, the output-layout plan a training
    * launcher feeds its writers. */
  private def q211(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.balancedShardPlan(docs(s, dir),
        col("doc_id"), size(graft.functions.TextFns.tokens(col("text"))),
        ShardN, ShardBuckets, ShardSalt)
      .orderBy(col("shard").asc)

  /** MAXIMAL duplicated-span intervals ([[TextAnalysis
    * .dupSpanIntervals]]): runs of overlapping/adjacent duplicated
    * [[DupSpanN]]-gram coverage merged into one row per maximal span
    * with its TRUE token length — the table q204's fixed-width removal
    * cannot report and a curation run tunes its length threshold on
    * (Lee et al. threshold at ≥ 50 tokens). Gaps-and-islands per doc;
    * the gram-occurrence count stays the one corpus shuffle. */
  private def q212(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.dupSpanIntervals(docs(s, dir), DupSpanN)
      .orderBy(col("doc_id").asc, col("span_start").asc)

  /** LENGTH-THRESHOLDED duplicate-span removal ([[TextAnalysis
    * .dedupSpansMinLen]]): q204's rewrite gated on true merged span
    * length ≥ [[DupSpanMinLen]] — short organic repeats survive, long
    * duplicated runs are cut, the actual Lee et al. production rule.
    * Same census schema as q204. */
  private def q213(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.dedupSpansMinLen(docs(s, dir), DupSpanN, DupSpanMinLen)
      .orderBy(col("doc_id").asc)

  /** Dedup-signal SATURATION audit ([[Multimodal.signalSaturation]]):
    * for each fingerprint signal a dedup arm might collapse on — the
    * resampled image hash (q203), the audio envelope fingerprint
    * (q207), the multi-band audio fingerprint (q217, the arm the
    * pipeline clusters on), the 64-bit text simhash (q50) — the
    * distinct-class census
    * and the saturated verdict against that arm's class cap. The
    * report a campaign reads BEFORE clustering: the round-11 sf10
    * percolation (one cluster from birthday-collided 15-bit audio fps)
    * would have been visible here as saturated = true. */
  private def q215(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val img = stagedResampledHashes(s, dir)
    val aud = stagedAudioFps(s, dir)
    val mb = stagedAudioMbFps(s, dir)
    val wide = stagedAudioWideFps(s, dir)
    val sh = NearDup.simHash64(d)
    Multimodal.signalSaturation(img, Seq("ph_hi", "ph_lo"),
        "image_resampled", PHashClassBucketCap)
      .union(Multimodal.signalSaturation(aud, Seq("fp"),
        "audio_envelope", AudioClassBucketCap))
      .union(Multimodal.signalSaturation(mb, Seq("fp_hi", "fp_lo"),
        "audio_multiband", AudioClassBucketCap))
      .union(Multimodal.signalSaturation(wide,
        (0 until DedupKnobs.AudioFpWideWords).map(j => s"w$j"),
        "audio_wide", AudioClassBucketCap))
      .union(Multimodal.signalSaturation(sh, Seq("fp_hi", "fp_lo"),
        "text_simhash64", SimHashBucketCap))
      .orderBy(col("signal").asc)
  }

  /** MULTI-BAND Haitsma-Kalker audio fingerprint table
    * ([[Multimodal.audioFingerprintsMultiBand]]): per sub-window the
    * envelope plus lag-b comb-filter band energies, sign-of-delta bits
    * packed into two 32-bit halves — the round-12 widening of q207's
    * ≤31-bit envelope (which q215 measures SATURATED at sf10: 1,271
    * classes over ~500k docs), the signal the pipeline's audio arm
    * clusters on. Gated bit for bit against the PCM-model replay. */
  private def q216(s: SparkSession, dir: String): DataFrame =
    stagedAudioMbFps(s, dir)
      .orderBy(col("doc_id").asc)

  /** Audio near-dup CLASS pairs over the MULTI-BAND fingerprint — the
    * 64-bit class machinery ([[Multimodal.resampledClassPairsCapped]]:
    * hash-keyed classes, 4×16-bit band candidates, per-bucket class
    * cap with lexicographic-anchor star reduction) applied verbatim to
    * q216's signal after a column rename. Replaces q207 as the
    * pipeline's audio dedup arm; q207 remains the gated degenerate
    * (B = 1) form. */
  private def q217(s: SparkSession, dir: String): DataFrame =
    Multimodal.resampledClassPairsCapped(
        stagedAudioMbFps(s, dir)
          .select(col("doc_id"), col("fp_hi").as("ph_hi"),
            col("fp_lo").as("ph_lo")),
        DedupKnobs.AudioMbMaxHamming, AudioClassBucketCap)
      .select(col("ph_hi_a").as("fp_hi_a"), col("ph_lo_a").as("fp_lo_a"),
        col("ph_hi_b").as("fp_hi_b"), col("ph_lo_b").as("fp_lo_b"),
        col("n_a").as("n_docs_a"), col("n_b").as("n_docs_b"),
        col("anchor_a"), col("anchor_b"), col("hamming"))
      .orderBy(col("fp_hi_a").asc, col("fp_lo_a").asc,
        col("fp_hi_b").asc, col("fp_lo_b").asc)

  /** INCREMENTAL train manifest — q192's result reached through the
    * incremental machinery instead of a whole-corpus rebuild: the
    * corpus slice (doc_id ≤ ⌊4/5·max⌋) lands its fingerprint and
    * capped-pair artifacts once; the batch slice pairs via
    * [[NearDup.incrementalSimhashPairsCapped]] (batch-vs-corpus +
    * batch-internal, union-exact caps); cells census the two slices
    * under their respective cluster scopes and SUM-merge
    * ([[graft.operators.DataMix.mergeCells]]); the budget half
    * re-derives from the merged census. Clusters the increment TOUCHED
    * (a batch doc bridging two corpus clusters changes their merged
    * id — the fixture really has such bridges) are handled by a
    * bounded census CORRECTION: the drifted docs' stale rows retract
    * (negative cells) and re-add under the merged clustering. The
    * ORACLE ([[incrementalManifestOracle]]) mirrors the INCREMENTAL
    * edge construction (corpus-side caps on the corpus slice, union
    * caps on the batch side) and computes the manifest directly under
    * the merged clustering — so what the gate pins is that the
    * engine's cells-correction ALGEBRA (landed cells + retraction +
    * re-census + batch cells) collapses exactly to
    * cells-under-the-merged-clustering. It does NOT pin equivalence
    * to a batch-oblivious full rebuild: a full rerun legitimately
    * re-draws cap boundaries (a bucket under the cap at corpus size
    * can exceed it at union size), so its edge set — and with bridges
    * its survivor set — can differ from the landed-truth increment
    * (round-12 ADVICE; the caveat q218's companion specs document). */
  private def q218(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{DataMix, Graph}
    val d = docs(s, dir)
    val cut = d.agg(max(col("doc_id"))).head().getLong(0) * 4 / 5
    val corpus = d.filter(col("doc_id") <= cut)
    val batch = d.filter(col("doc_id") > cut)
    // lazy: these feed ONLY the two staged tables below via by-name
    // builders, so once the artifacts are landed a steady-state run
    // must not pay their plan construction + canonicalization (~0.5 s
    // of pure driver time, measured with JobProbe — guide §7.3)
    lazy val corpusFps = graft.operators.Shingles.shared(NearDup.simHash(corpus))
    lazy val corpusPairs = graft.operators.Shingles.shared(
      NearDup.simHashPairsCapped(corpusFps,
          DedupKnobs.SimHashMaxHamming, DedupKnobs.SimHashBucketCap)
        .select(col("doc_a"), col("doc_b")))
    lazy val incPairs = NearDup.incrementalSimhashPairsCapped(corpusFps,
        NearDup.simHash(batch),
        DedupKnobs.SimHashMaxHamming, DedupKnobs.SimHashBucketCap)
      .select(col("doc_a"), col("doc_b"))
    // both cluster tables are LANDED artifacts (the q170 staging
    // doctrine): the corpus clustering is what the corpus run already
    // published; the merged clustering is this increment's output,
    // computed INCREMENTALLY since round 13 — contracted CC over the
    // incremental edges alone, relabeled through the landed corpus
    // clustering ([[graft.operators.Graph.incrementalComponents]]; the
    // contraction theorem makes the labels EQUAL to a full CC over the
    // union, so the oracle's merged clustering is unchanged) — the
    // corpus pair graph never enters the increment's CC job.
    val corpusCC = graft.engine.Staging.stagedParquet(s,
        s"inc_corpus_cc|$dir", Seq(dir))(
      Graph.connectedComponents(corpusPairs, "doc_a", "doc_b"))
    val mergedCC = graft.engine.Staging.stagedParquet(s,
        s"inc_merged_cc|$dir", Seq(dir))(
      Graph.incrementalComponents(corpusCC, incPairs, "doc_a", "doc_b"))
    // the census correction set: corpus docs whose cluster id the
    // increment CHANGED (a batch doc bridged their cluster to a
    // smaller-min one). Their stale census rows retract and their
    // corrected rows add — bounded by the touched clusters, never a
    // corpus re-census. Everything else keeps the landed corpus cells.
    val g0 = corpus.select(col("doc_id"))
      .join(corpusCC.select(col("n").as("doc_id"),
        col("component").as("__g0")), Seq("doc_id"), "left")
    val drifted = g0
      .join(mergedCC.select(col("n").as("doc_id"),
        col("component").as("__g1")), Seq("doc_id"), "left")
      .filter(coalesce(col("__g0"), col("doc_id")) =!=
        coalesce(col("__g1"), col("doc_id")))
      .select(col("doc_id"))
    // localCheckpoint (intra-run, recomputed every execution — NOT a
    // cross-pass cache): driftedDocs feeds retract AND correct, each of
    // which the manifest half references again, so un-materialized it
    // executes 4× and its subtree inflates the final plan; the merged
    // cell table below is census-sized (|splits|×|sources| ≈ 60 rows)
    // but manifestFromCells references it twice, and the un-truncated
    // q218 plan was 804 physical operators / 120 parquet scans with a
    // measured ~0.75 s silent planning gap (§3.3: materialize
    // intermediates to truncate very wide plans)
    val driftedDocs = corpus.join(drifted, Seq("doc_id")).localCheckpoint()
    val corpusCells = DataMix.manifestCells(corpus, corpusCC,
      SplitSalt, SplitTrainBp, SplitValBp)
    val retract = DataMix.negateCells(DataMix.manifestCells(driftedDocs,
      corpusCC, SplitSalt, SplitTrainBp, SplitValBp))
    val correct = DataMix.manifestCells(driftedDocs, mergedCC,
      SplitSalt, SplitTrainBp, SplitValBp)
    val batchCells = DataMix.manifestCells(batch, mergedCC,
      SplitSalt, SplitTrainBp, SplitValBp)
    DataMix.manifestFromCells(
        DataMix.mergeCells(corpusCells, retract, correct, batchCells)
          .localCheckpoint(),
        MixBudgetDen, MixCapEpochs)
      .orderBy(col("split").asc, col("source").asc)
  }

  /** CHAINED incremental train manifest — TWO increments composed,
    * day 2 anchored on day 1's LANDED artifacts (fingerprint-table
    * union, relabeled clustering), never on the raw corpus: the gated
    * form of [[graft.Pipeline.curateIncrementWithArtifacts]]'s
    * artifact algebra. Slices: corpus ≤ ⌊3/5·max⌋ < day-1 batch ≤
    * ⌊4/5·max⌋ < day-2 batch. Each day re-runs the q218 cells algebra
    * against the PREVIOUS day's landed clustering (retract + re-census
    * of the drifted docs, batch cells under the day's merged
    * clustering), and the clustering advances by
    * [[graft.operators.Graph.incrementalComponents]] over that day's
    * contracted incremental edges alone — by the contraction theorem,
    * the day-2 clustering ≡ one CC over pairs0 ∪ inc1 ∪ inc2. The
    * ORACLE ([[chainedManifestOracle]]) builds that same three-slice
    * edge set (corpus caps on the day-0 slice, union caps anchored on
    * the respective LANDED slice for each increment) and computes the
    * manifest directly under the FINAL clustering: the gate pins that
    * two rounds of cells-correction algebra collapse exactly to
    * cells-under-the-final-clustering. Like q218 it does NOT pin
    * equivalence to a batch-oblivious full rebuild (cap boundaries
    * re-draw at union sizes — the documented caveat). */
  private def q224(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{DataMix, Graph}
    val d = docs(s, dir)
    val mx = d.agg(max(col("doc_id"))).head().getLong(0)
    val cut1 = mx * 3 / 5
    val cut2 = mx * 4 / 5
    val corpus = d.filter(col("doc_id") <= cut1)
    val batch1 = d.filter(col("doc_id") > cut1 && col("doc_id") <= cut2)
    val batch2 = d.filter(col("doc_id") > cut2)
    // lazy: each feeds only the staged artifacts below (by-name
    // builders) — a steady-state run with the three clusterings landed
    // must not pay their plan construction (q218's rationale)
    lazy val fps0 = graft.operators.Shingles.shared(NearDup.simHash(corpus))
    lazy val pairs0 = graft.operators.Shingles.shared(
      NearDup.simHashPairsCapped(fps0,
          DedupKnobs.SimHashMaxHamming, DedupKnobs.SimHashBucketCap)
        .select(col("doc_a"), col("doc_b")))
    val cc0 = graft.engine.Staging.stagedParquet(s,
        s"chain_cc0|$dir", Seq(dir))(
      Graph.connectedComponents(pairs0, "doc_a", "doc_b"))
    lazy val fps1b = NearDup.simHash(batch1)
    lazy val inc1 = NearDup.incrementalSimhashPairsCapped(fps0, fps1b,
        DedupKnobs.SimHashMaxHamming, DedupKnobs.SimHashBucketCap)
      .select(col("doc_a"), col("doc_b"))
    val cc1 = graft.engine.Staging.stagedParquet(s,
        s"chain_cc1|$dir", Seq(dir))(
      Graph.incrementalComponents(cc0, inc1, "doc_a", "doc_b"))
    // day 1 LANDS its artifacts; day 2 anchors on them, not the corpus
    lazy val fps1 = graft.operators.Shingles.shared(fps0.unionByName(fps1b))
    lazy val fps2b = NearDup.simHash(batch2)
    lazy val inc2 = NearDup.incrementalSimhashPairsCapped(fps1, fps2b,
        DedupKnobs.SimHashMaxHamming, DedupKnobs.SimHashBucketCap)
      .select(col("doc_a"), col("doc_b"))
    val cc2 = graft.engine.Staging.stagedParquet(s,
        s"chain_cc2|$dir", Seq(dir))(
      Graph.incrementalComponents(cc1, inc2, "doc_a", "doc_b"))
    def cellsOf(base: DataFrame, cc: DataFrame): DataFrame =
      DataMix.manifestCells(base, cc, SplitSalt, SplitTrainBp, SplitValBp)
    // docs whose cluster id the day's increment CHANGED (labels
    // coalesce to doc_id for singleton nodes absent from a CC table)
    def driftedOf(base: DataFrame, ccA: DataFrame,
                  ccB: DataFrame): DataFrame =
      base.select(col("doc_id"))
        .join(ccA.select(col("n").as("doc_id"),
          col("component").as("__g0")), Seq("doc_id"), "left")
        .join(ccB.select(col("n").as("doc_id"),
          col("component").as("__g1")), Seq("doc_id"), "left")
        .filter(coalesce(col("__g0"), col("doc_id")) =!=
          coalesce(col("__g1"), col("doc_id")))
        .select(col("doc_id"))
    // localCheckpoints (intra-run, q218's rationale): each drifted set
    // feeds a retract + a re-census (4 references each through the
    // manifest half), each day's cell table is census-sized (~60 rows)
    // but re-referenced downstream — un-truncated, the chained plan
    // reached 1,600+ physical operators and most of the query's
    // steady-state cost was silent driver planning (§3.3)
    val drifted1 = corpus.join(driftedOf(corpus, cc0, cc1), Seq("doc_id"))
      .localCheckpoint()
    val cells1 = DataMix.mergeCells(cellsOf(corpus, cc0),
      DataMix.negateCells(cellsOf(drifted1, cc0)),
      cellsOf(drifted1, cc1), cellsOf(batch1, cc1)).localCheckpoint()
    val landed1 = d.filter(col("doc_id") <= cut2)
    val drifted2 = landed1.join(driftedOf(landed1, cc1, cc2), Seq("doc_id"))
      .localCheckpoint()
    val cellsFinal = DataMix.mergeCells(cells1,
      DataMix.negateCells(cellsOf(drifted2, cc1)),
      cellsOf(drifted2, cc2), cellsOf(batch2, cc2)).localCheckpoint()
    DataMix.manifestFromCells(cellsFinal, MixBudgetDen, MixCapEpochs)
      .orderBy(col("split").asc, col("source").asc)
  }

  /** KEYSET pagination — the scale path q75's LIMIT/OFFSET form only
    * documents: page 3 arrives via the previous page's last
    * (sort-key, tiebreak) CURSOR as a pushed predicate + top-k, so the
    * engine never sorts-then-skips the whole prefix (OFFSET n scans
    * and discards n rows per page — O(n²) over a deep pagination walk;
    * the keyset walk is O(page) per page). The cursor collect is
    * page-sized (a real client carries it from page 2's response);
    * the tie predicate (price < p) OR (price = p AND key > k) is the
    * standard composite-cursor form and reaches the parquet scan as a
    * pushed filter (plan-spec-pinned). Oracle: the OFFSET form —
    * keyset page 3 must equal offset page 3 row for row. */
  private def q219(s: SparkSession, dir: String): DataFrame = {
    val page = 10
    val orders = Sources.tablePlain(s, dir, "orders")
    val cursor = orders
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select(col("o_totalprice"), col("o_orderkey"))
      .limit(2 * page).collect().last
    val (cp, ck) = (cursor.getDouble(0), cursor.getLong(1))
    orders
      .filter(col("o_totalprice") < cp ||
        (col("o_totalprice") === cp && col("o_orderkey") > ck))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
      .limit(page)
  }

  /** AUDIO online near-dup ([[graft.streaming.NearDupStream
    * .onlineAudioDedup]]) — the streaming member of the audio dedup
    * family (the round-11 deferred candidate, composed from existing
    * parts): recordings decode and fingerprint per partition ON THE
    * STREAM (the real WAV codec path, multi-band fingerprint), band
    * with the 4×16-bit layout, and judge against the q178 bounded
    * bucket state — first-seen survives, later arrivals within
    * hamming ≤ [[DedupKnobs.AudioMbMaxHamming]] of a retained member
    * are duplicates of their earliest match (the planted exact twins
    * land at hamming 0, most near twins at 1–3). Oracle: the
    * retained-member rule is row_number() ≤ cap over the multi-band
    * band table in doc_id order. */
  private def q220(s: SparkSession, dir: String): DataFrame =
    graft.streaming.NearDupStream.runOnlineAudioDedupOnce(s, dir,
      DedupKnobs.AudioMbMaxHamming, AudioClassBucketCap.toInt)

  /** INCREMENTAL MULTIMODAL clustering — q218's incremental machinery
    * extended to every dedup arm (the round-13 surface): the corpus
    * slice (doc_id ≤ ⌊4/5·max⌋) lands its text pair table AND its
    * image/audio class-edge tables once; the batch pairs through the
    * per-arm incremental generators
    * ([[NearDup.incrementalSimhashPairsCapped]],
    * [[Multimodal.incrementalClassEdgesCapped]] against the landed
    * fingerprint tables); the merged clustering is the CONTRACTED
    * incremental CC ([[graft.operators.Graph.incrementalComponents]]
    * over the landed corpus clustering — the accumulated pair graph
    * never enters the increment's CC job, and by the contraction
    * theorem the labels equal a full CC over the edge union). Output:
    * every batch doc with its merged component and dup verdict — a
    * batch doc connected under ANY modality (text simhash, image
    * resampled-aHash class, audio multi-band class) to a corpus doc
    * or smaller batch doc is a duplicate. Oracle: the corpus-side arm
    * edges replayed with corpus-census caps, the incremental arm
    * edges as the union generator's batch-touching slice (the
    * spec-pinned equivalence, Round13OpsSpec), hook+jump CC, batch
    * tail. */
  private def q221(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val cut = d.agg(max(col("doc_id"))).head().getLong(0) * 4 / 5
    val corpus = d.filter(col("doc_id") <= cut)
    val batch = d.filter(col("doc_id") > cut)
    // per-arm fingerprints are pure per-doc functions, so the corpus/
    // batch tables are SLICES of the whole-corpus staged tables — one
    // codec pass per corpus, shared with q202/q209/q215/q216/q217.
    // Everything here is lazy: all of it feeds only the two staged
    // clusterings via by-name builders, and constructing + plan-keying
    // the three-arm edge plans measured ~1.6 s of pure driver time per
    // steady-state run (JobProbe: construct 2.05 s vs 0.47 s of jobs)
    // — work a run with landed artifacts must skip entirely (§7.3)
    lazy val imgAll = stagedResampledHashes(s, dir)
      .select(col("doc_id"), col("ph_hi"), col("ph_lo"))
    lazy val audAll = stagedAudioMbFps(s, dir)
      .select(col("doc_id"), col("fp_hi").as("ph_hi"),
        col("fp_lo").as("ph_lo"))
    lazy val corpusFps = graft.operators.Shingles.shared(NearDup.simHash(corpus))
    lazy val corpusEdges = graft.operators.Shingles.shared(
      NearDup.simHashPairsCapped(corpusFps,
          DedupKnobs.SimHashMaxHamming, DedupKnobs.SimHashBucketCap)
        .select(col("doc_a"), col("doc_b"))
        .union(Pipeline.imageEdgesFrom(
          imgAll.filter(col("doc_id") <= cut)))
        .union(Pipeline.audioEdgesFrom(
          audAll.filter(col("doc_id") <= cut)
            .select(col("doc_id"), col("ph_hi").as("fp_hi"),
              col("ph_lo").as("fp_lo")))))
    val corpusCC = graft.engine.Staging.stagedParquet(s,
        s"inc_mm_corpus_cc|$dir", Seq(dir))(
      graft.operators.Graph.connectedComponents(corpusEdges, "doc_a", "doc_b"))
    lazy val incPairs = NearDup.incrementalSimhashPairsCapped(corpusFps,
        NearDup.simHash(batch),
        DedupKnobs.SimHashMaxHamming, DedupKnobs.SimHashBucketCap)
      .select(col("doc_a"), col("doc_b"))
      .union(Multimodal.incrementalClassEdgesCapped(
        imgAll.filter(col("doc_id") <= cut),
        imgAll.filter(col("doc_id") > cut),
        PHashMaxHamming, PHashClassBucketCap))
      .union(Multimodal.incrementalClassEdgesCapped(
        audAll.filter(col("doc_id") <= cut),
        audAll.filter(col("doc_id") > cut),
        DedupKnobs.AudioMbMaxHamming, AudioClassBucketCap))
    val merged = graft.engine.Staging.stagedParquet(s,
        s"inc_mm_merged_cc|$dir", Seq(dir))(
      graft.operators.Graph.incrementalComponents(corpusCC, incPairs, "doc_a", "doc_b"))
    batch.select(col("doc_id"))
      .join(merged.select(col("n").as("doc_id"), col("component")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .withColumn("is_dup", col("component") =!= col("doc_id"))
      .orderBy(col("doc_id").asc)
  }

  /** WIDE frame-matrix audio fingerprint table
    * ([[Multimodal.audioFingerprintsWide]]): the ≥128-bit widening of
    * q216 — envelope + lag-1..8 comb-filter band energies, (16−1)×9 =
    * 135 sign-of-delta bits in nine 15-bit words. The width for true
    * 100 TB audio corpora: at 10⁹–10¹⁰ recordings the 60-bit form
    * expects ~2³⁰ birthday collisions, the 135-bit form none. Words
    * 0..3 concatenated ARE q216's fingerprint (spec-pinned), so the
    * forms agree where they overlap. Gated bit for bit against the
    * PCM-model replay. */
  private def q222(s: SparkSession, dir: String): DataFrame =
    stagedAudioWideFps(s, dir)
      .orderBy(col("doc_id").asc)

  /** Audio near-dup CLASS pairs over the WIDE fingerprint
    * ([[Multimodal.wideClassPairsCapped]]): the 64-bit class machinery
    * generalized to N words — classes key on the full word tuple,
    * candidates band per word (pigeonhole-exact for hamming < 9),
    * lexicographic-min-class star reduction over the bucket cap,
    * exact summed-bit_count verify. The scale path the pipeline's
    * audio arm switches to when q215's census ever reports the 60-bit
    * signal saturated. */
  private def q223(s: SparkSession, dir: String): DataFrame = {
    val wordCols = (0 until DedupKnobs.AudioFpWideWords).map(j => s"w$j")
    val ord = (wordCols.map(c => s"${c}_a") ++ wordCols.map(c => s"${c}_b"))
      .map(col(_).asc)
    Multimodal.wideClassPairsCapped(stagedAudioWideFps(s, dir), wordCols,
        DedupKnobs.AudioWideMaxHamming, AudioClassBucketCap)
      .orderBy(ord: _*)
  }

  /** Corpus QUALITY SCORECARD — the per-source report a curation run
    * publishes, rolled up from four independent quality operators in
    * one query: stopword ratio (q18), unigram-LM score (q110/q196),
    * duplicated-substring fraction (q197), and naive-Bayes
    * self-classification accuracy (q195). Every per-doc signal is
    * pinned by the portable floor-round and carried through
    * DECIMAL(18,6) exact sums, so each source's averages are
    * merge-order-free and hash-identical across engines. Inner joins
    * throughout: a doc must carry every signal to enter the report
    * (every fixture doc does; both engines agree on the domain). */
  private def q200(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityScorecard(docs(s, dir), TextAnalysis.stopwords("en"),
      DupSpanN, NbBuckets, NbSalt)

  /** q54's deterministic mixture sampler run as a STREAM
    * ([[graft.streaming.EventStream.runMixtureOnce]]) — streaming/batch
    * operator unification under the oracle gate: the stateless sampler
    * keeps exactly the same rows on readStream as in batch, so the
    * streamed summary hashes against q54's own SQL oracle. */
  private def q189(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.runMixtureOnce(s, dir, MixRates, MixSalt)

  /** q184's DSIR scoring applied to a document STREAM
    * ([[graft.streaming.EventStream.runDsirScoreOnce]]): the bucket
    * model trains batch-side, broadcasts into a stream-static join,
    * and the stream carries one aggregation — train-then-apply on
    * streams under the oracle gate, sharing q184's SQL. This GATE form
    * runs complete-mode with per-doc agg state (grows with docs — fine
    * over the bounded fixture); the PRODUCTION form for an unbounded
    * corpus is [[graft.streaming.EventStream.dsirScoreUpsert]]
    * (foreachBatch latest-wins upsert, ZERO streaming state — spec'd
    * row-identical to the batch scorer and state-operator-free). */
  private def q190(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.runDsirScoreOnce(s, dir,
      col("source") === DsirTargetSource, DsirBuckets, DsirSalt)

  /** Token counting two ways: whitespace and a BPE-ish regex (word runs +
    * single non-word symbols). */
  private def q46(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all(col("text"),
          lit("[0-9A-Za-z]+|[^0-9A-Za-z ]"), lit(0))).cast("long").as("n_regex_tokens"))
      .withColumn("tokens_ratio", r6(col("n_regex_tokens") / col("n_ws_tokens")))
      .orderBy(col("doc_id").asc)

  /** Point-in-interval range join (bucket-expansion equi-join, an
    * operator Spark lacks a native strategy for): lineitems shipped
    * inside the 7-day window of a high-value urgent order, rolled up by
    * promo month. DuckDB's native IEJoin answers the same BETWEEN join
    * directly — two engines, two physical strategies, one result. */
  private def q47(s: SparkSession, dir: String): DataFrame = {
    // Aggregate BELOW the range join: count/sum distribute over the
    // join, so lineitem first collapses to per-day exact moments
    // (|days| rows) and the bucket-expansion join runs days × promos
    // instead of lineitems × promos. Identical result; the join
    // intermediate drops from |matched lineitems| (117M at sf1 — both
    // sides grow linearly over a fixed date domain, so the raw join
    // output is quadratic in SF) to |days × promo window density|
    // (~20k). The 100 TB shape: the fact table never crosses the join.
    // parallelized scan: the per-day exact-decimal pre-agg is scan-fused
    val li = Sources.table(s, dir, "lineitem")
      .select(col("l_quantity"),
        expr("datediff(l_shipdate, DATE '1970-01-01')").cast("long").as("ship_day"))
      .groupBy(col("ship_day"))
      .agg(count(lit(1)).as("day_n"),
        Aggregates.exactSum(col("l_quantity")).as("day_sq"))
    val promos = Sources.table(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") >= 490000)
      .select(col("o_orderdate"),
        expr("datediff(o_orderdate, DATE '1970-01-01')").cast("long").as("lo"))
      .withColumn("hi", col("lo") + 7)
    Joins.rangeJoin(li, col("ship_day"), promos, col("lo"), col("hi"), bucketWidth = 7)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("promo_month"))
      .agg(sum(col("day_n")).as("n_pairs"), sum(col("day_sq")).as("sq"))
      .select(col("promo_month"), col("n_pairs"),
        round(col("sq").cast("double"), 2).as("sum_qty"))
      .orderBy(col("promo_month").asc)
  }

  /** Bloom-filter semi-join reduction: lineitem pruned by a broadcast
    * bloom of high-value order keys before the exact semi join. False
    * positives die at the join, so the result is exactly the plain
    * EXISTS — which is what the oracle runs. */
  private def q48(s: SparkSession, dir: String): DataFrame = {
    val li = Sources.tablePlain(s, dir, "lineitem")
    val hot = Sources.tablePlain(s, dir, "orders")
      .filter(col("o_totalprice") >= 450000)
      .select(col("o_orderkey"))
    // expectedItems derived from the build side's actual count: a fixed
    // constant either oversizes the sketch (build/literal/probe cost) or
    // undersizes it as SF grows (fp rate → 1, prefilter stops pruning)
    Joins.bloomSemiJoin(li, col("l_orderkey"), hot, col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        Aggregates.exactSum(col("l_extendedprice")).as("sp"))
      .select(col("l_returnflag"), col("n_items"),
        round(col("sp").cast("double"), 2).as("sum_price"))
      .orderBy(col("l_returnflag").asc)
  }

  /** Per-group top-k via [[Ranking.topKPerGroup]], which the
    * RewriteRowNumberTopK rule plans as the bounded-heap two-phase
    * TopKPerGroup operator: top-3 orders by price per priority class.
    * The oracle is the same row_number window idiom in SQL. */
  private def q49(s: SparkSession, dir: String): DataFrame =
    Ranking.topKPerGroup(
        Sources.tablePlain(s, dir, "orders")
          .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice")),
        groupCols = Seq("o_orderpriority"),
        orderCols = Seq("o_totalprice" -> false, "o_orderkey" -> true),
        k = 3)
      .select(col("o_orderpriority"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"), col("rank"))
      .orderBy(col("o_orderpriority").asc, col("rank").asc)

  /** 64-bit SimHash near-dup pairs (4×16 banding, two 32-bit halves) —
    * the fingerprint width for corpora where 8-bit buckets collide. */
  private def q50(s: SparkSession, dir: String): DataFrame =
    NearDup.simHash64Pairs(NearDup.simHash64(docs(s, dir)), maxHamming = SimHashMaxHamming)
      .orderBy(col("doc_a").asc, col("doc_b").asc)

  /** The simhash pair table q58 AND q59 consume, landed once per
    * (process, corpus dir) via [[graft.engine.Staging]]: clusters and
    * survivors are two reports over the SAME candidate pairs, and
    * re-running the fingerprint → band-join pipeline for each is the
    * single biggest avoidable cost in the catalog (it was 17% of the
    * round-3 bench). Whichever query runs first pays the build; the
    * other scans the staged parquet — exactly the staging-table shape
    * a 100 TB pipeline uses between stages. */
  private def stagedSimhashPairs(s: SparkSession, dir: String): DataFrame =
    graft.engine.Staging.stagedParquet(s, s"simhash_pairs|h<=$SimHashMaxHamming|$dir", Seq(dir))(
      NearDup.simHashPairs(NearDup.simHash(docs(s, dir)), maxHamming = SimHashMaxHamming))

  /** The clusters table itself, staged: q58's OUTPUT is a pipeline
    * staging table (clusters land in storage; the survivors pass
    * anti-joins against it). The build — one CC run over the staged
    * pairs — happens on this table's FIRST consumer (q59's first pass
    * in the harnesses); q58 deliberately does NOT read through it,
    * re-running the CC operator live so the bench keeps timing the
    * graph algorithm itself. Net per process: CC computes twice (q58's
    * live run + this build) instead of once per q58/q59 execution. */
  private def stagedSimhashClusters(s: SparkSession, dir: String): DataFrame =
    graft.engine.Staging.stagedParquet(s, s"simhash_clusters|h<=$SimHashMaxHamming|$dir", Seq(dir))(
      graft.operators.Graph.connectedComponents(
        stagedSimhashPairs(s, dir), "doc_a", "doc_b"))

  /** [[stagedSimhashPairs]] behind the q166 per-bucket skew cap — the
    * FLOOD-SAFE pair table the production dedup path (q170/q171) rides.
    * At sf10 the uncapped build grinds 27.7B band candidates for
    * 1465 s; this one star-reduces over-cap buckets and lands in 34 s
    * with identical pairs wherever no bucket exceeds the cap. */
  private def stagedSimhashPairsCapped(s: SparkSession, dir: String): DataFrame =
    graft.engine.Staging.stagedParquet(s,
        s"simhash_pairs_capped|h<=$SimHashMaxHamming|cap=$SimHashBucketCap|$dir",
        Seq(dir))(
      NearDup.simHashPairsCapped(NearDup.simHash(docs(s, dir)),
        SimHashMaxHamming, SimHashBucketCap))

  /** Capped clusters staged for the survivors pass — [[stagedSimhashClusters]]
    * over the flood-safe pair table (same double-compute note). */
  private def stagedSimhashClustersCapped(s: SparkSession, dir: String): DataFrame =
    graft.engine.Staging.stagedParquet(s,
        s"simhash_clusters_capped|h<=$SimHashMaxHamming|cap=$SimHashBucketCap|$dir",
        Seq(dir))(
      graft.operators.Graph.connectedComponents(
        stagedSimhashPairsCapped(s, dir), "doc_a", "doc_b"))

  /** Near-dup CLUSTERS: transitive closure of the q23 simhash pairs via
    * iterative min-label connected components — A≈B, B≈C puts {A,B,C}
    * in one duplicate group even when A,C differ pairwise. cluster_id
    * is the smallest doc_id in the component. Runs the CC operator over
    * the staged pair table (so the bench times the graph algorithm, not
    * a re-run of the fingerprint pipeline). */
  private def q58(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.connectedComponents(
        stagedSimhashPairs(s, dir), "doc_a", "doc_b")
      .select(col("n").as("doc_id"), col("component").as("cluster_id"))
      .orderBy(col("doc_id").asc)

  /** The dedup pipeline end-to-end: fingerprint → pairs → components →
    * anti-join; keeps one canonical doc (smallest id) per duplicate
    * cluster plus every unpaired doc. Consumes the staged clusters
    * table ([[stagedSimhashClusters]]) — the anti-join is the only
    * work this report adds on top of q58's output, exactly as in a
    * staged production pipeline. */
  private def q59(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val dropIds = stagedSimhashClusters(s, dir)
      .filter(col("n") =!= col("component"))
      .select(col("n"))
    d.join(dropIds, d("doc_id") === dropIds("n"), "left_anti")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id").asc)
  }

  /** q58 with the production skew guard: connected components over the
    * CAPPED pair table ([[stagedSimhashPairsCapped]]). Where no band
    * bucket exceeds the cap the pair set — and therefore the clustering
    * — is IDENTICAL to q58's; in a flood regime the star reduction
    * keeps each over-cap bucket's anchor-verified members connected
    * through the anchor (one component per flood template, by
    * construction) while members whose only paths ran through dropped
    * non-anchor edges may split off — the bounded, documented recall
    * trade (`NearDup.simHashPairsCapped`). This is the clustering a
    * 100 TB curation pipeline actually runs: the uncapped q58 input
    * costs 43× more to build at sf10 and is non-executable at corpus
    * scale. */
  private def q170(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.connectedComponents(
        stagedSimhashPairsCapped(s, dir), "doc_a", "doc_b")
      .select(col("n").as("doc_id"), col("component").as("cluster_id"))
      .orderBy(col("doc_id").asc)

  /** q59's survivor report over the capped clusters
    * ([[stagedSimhashClustersCapped]]): one canonical doc (smallest id)
    * per flood-safe duplicate cluster plus every unpaired doc — the
    * end-to-end production dedup: fingerprint → capped pairs →
    * components → anti-join, every stage flood-bounded. */
  private def q171(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val dropIds = stagedSimhashClustersCapped(s, dir)
      .filter(col("n") =!= col("component"))
      .select(col("n"))
    d.join(dropIds, d("doc_id") === dropIds("n"), "left_anti")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id").asc)
  }

  /** q96's triangle counts over the FLOOD-SAFE capped pair table —
    * the graph-analytics variant a 100 TB curation run can actually
    * execute: the uncapped pair graph's wedge bound at sf10 is a
    * measured Σd(d−1)/2 = 5.6×10¹² (non-executable; SCALE.md), while
    * the star-capped graph keeps per-bucket degree bounded so the
    * wedge table stays linear-ish in |E|. Same operator, same staged
    * wedge reuse with q173 — only the edge generator changes. */
  private def q172(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.triangleCounts(
        stagedSimhashPairsCapped(s, dir), "doc_a", "doc_b")
      .select(col("node").as("doc_id"), col("n_triangles"))
      .orderBy(col("doc_id").asc)

  /** q119's local clustering coefficients over the capped pair table
    * (flood-safe twin; see [[q172]]) — consumes the SAME staged wedge
    * table q172 lands, so the pair of reports costs one wedge pass. */
  private def q173(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.clusteringCoefficients(
        stagedSimhashPairsCapped(s, dir), "doc_a", "doc_b")
      .select(col("node").as("doc_id"), col("degree"), col("n_triangles"),
        r6(col("clustering")).as("clustering"))
      .orderBy(col("doc_id").asc)

  /** q150's 2-core over the capped pair table (flood-safe twin). */
  private def q174(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.kCoreFixedRounds(stagedSimhashPairsCapped(s, dir),
        "doc_a", "doc_b", k = 2, rounds = 4)
      .select(col("node").as("doc_id"), col("core_degree"))
      .orderBy(col("doc_id").asc)

  /** q123's label-propagation communities over the capped pair table
    * (flood-safe twin). */
  private def q175(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.labelPropagation(stagedSimhashPairsCapped(s, dir),
        "doc_a", "doc_b", rounds = 3)
      .select(col("n").as("doc_id"), col("community"))
      .orderBy(col("doc_id").asc)

  /** q101's fixed-point PageRank over the capped pair table
    * (flood-safe twin). */
  private def q176(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.pageRankFixedPoint(
        stagedSimhashPairsCapped(s, dir), "doc_a", "doc_b", iterations = 4)
      .select(col("n").as("doc_id"), col("rank_fp"))
      .orderBy(col("doc_id").asc)

  /** ONLINE streaming near-dup dedup
    * ([[graft.streaming.NearDupStream.runOnlineDedupOnce]]): documents
    * arrive as a stream, are fingerprinted IN-ROW (the shuffle-free
    * [[NearDup.simHash64Row]] — a stateful operator admits no upstream
    * aggregation), banded with the batch generators' exact 4×16-bit
    * layout, and judged against bounded per-bucket state holding each
    * bucket's first [[SimHashBucketCap]] arrivals: first-seen survives,
    * later hamming-verified arrivals are duplicates of their earliest
    * retained match. The continuous-ingest form of the capped dedup
    * pipeline (q166/q170) — state per key is capped exactly like the
    * batch bucket populations, so a boilerplate flood can't grow the
    * state store. Oracle: the retained-member rule is row_number() ≤
    * cap over the band table in doc_id order. */
  private def q178(s: SparkSession, dir: String): DataFrame =
    graft.streaming.NearDupStream.runOnlineDedupOnce(s, dir,
      SimHashMaxHamming, SimHashBucketCap.toInt)

  /** IDF-weighted salient terms per source: tf · N/df with a reciprocal
    * (not log) idf so the score is one exact long multiply + one IEEE
    * double division — bit-identical across engines, unlike ln(). The
    * per-source top-5 runs on the custom TopKPerGroup operator. */
  private def q60(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val tok = d.select(col("source"), col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val tf = tok.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tok.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val total = d.agg(count(lit(1)).as("n_total"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(total))
      .withColumn("score",
        (col("tf") * col("n_total")).cast("double") / col("df"))
    Ranking.topKPerGroup(
        scored.select(col("source"), col("term"), col("tf"), col("df"), col("score")),
        groupCols = Seq("source"),
        orderCols = Seq("score" -> false, "term" -> true), k = 5)
      .select(col("source"), col("term"), col("tf"), col("df"),
        r6(col("score")).as("score"), col("rank"))
      .orderBy(col("source").asc, col("rank").asc)
  }

  /** NTILE quartiles: per event type, value quartile membership stats.
    * The window order is (value, event_id) — a TOTAL order, since tied
    * values would otherwise land in engine-dependent buckets. */
  private def q61(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").asc, col("event_id").asc)
    cleanEvents(s, dir)
      .withColumn("quartile", ntile(4).over(w))
      .groupBy(col("event_type"), col("quartile"))
      .agg(count(lit(1)).as("n_events"),
        Aggregates.round6Portable(Aggregates.exactAvg(col("value")))
          .as("avg_value"))
      .orderBy(col("event_type").asc, col("quartile").asc)
  }

  /** Explicit GROUPING SETS: per-dimension subtotals only — the set
    * list ((l_returnflag),(l_linestatus)) that neither ROLLUP nor CUBE
    * can express (no detail level, no grand total). Runs via the same
    * hierarchical re-agg as q39/q52. */
  private def q62(s: SparkSession, dir: String): DataFrame =
    Aggregates.groupingSetsReagg(Sources.table(s, dir, "lineitem"),
        keys = Seq(col("l_returnflag"), col("l_linestatus")),
        sets = Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        aggs = Seq(count(lit(1)).as("n_items"),
          Aggregates.exactSum(col("l_quantity")).as("sq")),
        reaggs = Seq(sum(col("n_items")).as("n_items"), sum(col("sq")).as("sq")))
      .select(col("l_returnflag"), col("l_linestatus"), col("n_items"),
        round(col("sq").cast("double"), 2).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Trailing 1-hour RANGE window frame per user: unlike ROWS frames,
    * the frame is defined by the ORDER-BY VALUE interval [t-3599, t],
    * so tied timestamps all share one frame and the result is
    * tie-order-independent by construction. The frame sum is exact
    * DECIMAL (order-independent partial sums across peers). */
  private def q63(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sec = expr("ts div 1000000")
    val w = Window.partitionBy(col("user_id")).orderBy(sec)
      .rangeBetween(-3599, 0)
    cleanEvents(s, dir)
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_1h"),
        round(Aggregates.exactSum(col("value")).over(w).cast("double"), 6)
          .as("sum_1h"))
      .orderBy(col("event_id").asc)
  }

  /** Fixed-width histogram per event type: one aggregation pass, bin =
    * floor(value/width) (IEEE division + floor — engine-exact). The
    * distribution profile a curation pipeline reads before choosing
    * filter thresholds. */
  private def q64(s: SparkSession, dir: String): DataFrame =
    cleanEventsPlain(s, dir)
      .withColumn("bin", floor(col("value") / 10.0).cast("long"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type").asc, col("bin").asc)

  /** Winsorized per-type stats: exact p05/p95 computed per group, then
    * values clamped to [p05, p95] and re-aggregated — the standard
    * outlier-robust summary (two passes over the data; the percentile
    * table is group-cardinality-sized and broadcast back). */
  private def q65(s: SparkSession, dir: String): DataFrame = {
    val e = cleanEvents(s, dir)
    val pct = e.groupBy(col("event_type")).agg(
      expr("percentile(value, 0.05)").as("p05"),
      expr("percentile(value, 0.95)").as("p95"))
    e.join(broadcast(pct), "event_type")
      .withColumn("v_w", least(greatest(col("value"), col("p05")), col("p95")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count(when(col("value") < col("p05"), 1)).as("n_clamped_lo"),
        count(when(col("value") > col("p95"), 1)).as("n_clamped_hi"),
        // clamped values carry full-precision percentile endpoints, so
        // the rounding is floor-pinned BEFORE the exact-decimal sum
        // (q147 idiom) and the mean re-rounded portably
        Aggregates.round6Portable(
          sum(Aggregates.roundPortable(col("v_w"), 6)
              .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .cast("double") / count(lit(1)).cast("double"))
          .as("avg_winsorized"))
      .orderBy(col("event_type").asc)
  }

  /** The full rank-function family in one pass: rank (gaps), dense_rank
    * (no gaps), percent_rank ((r−1)/(n−1)) and cume_dist (r/n) per
    * nation over balance TIER (floor(acctbal/100)) — coarse on purpose
    * so ties are plentiful and the four functions genuinely diverge.
    * Rank functions assign tied rows identical values, so a non-total
    * window order is still engine-exact; only the final output ORDER BY
    * needs (and has) a total key. */
  private def q67(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tier = floor(col("s_acctbal") / 100).cast("long")
    val w = Window.partitionBy(col("s_nationkey")).orderBy(tier.desc)
    Sources.table(s, dir, "supplier")
      .select(col("s_nationkey"), col("s_suppkey"), tier.as("bal_tier"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        r6(percent_rank().over(w)).as("prnk"),
        r6(cume_dist().over(w)).as("cdist"))
      .orderBy(col("s_nationkey").asc, col("rnk").asc, col("s_suppkey").asc)
  }

  /** Repetition-ratio quality signal: duplicate-3-gram fraction per doc
    * (high ⇒ boilerplate/looping text — a standard pretraining filter). */
  private def q51(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.repetitionRatio(docs(s, dir))
      .select(col("doc_id"), col("n_total"), col("n_distinct"),
        r6(col("rep_ratio")).as("rep_ratio"))
      .orderBy(col("doc_id").asc)

  /** CUBE grouping sets — all 4 subtotal combinations, via hierarchical
    * re-aggregation (NULLS FIRST pinned like q39's ROLLUP). */
  private def q52(s: SparkSession, dir: String): DataFrame =
    Aggregates.cubeReagg(Sources.table(s, dir, "lineitem"),
        keys = Seq(col("l_returnflag"), col("l_linestatus")),
        aggs = Seq(count(lit(1)).as("n_items"),
          Aggregates.exactSum(col("l_quantity")).as("sq")),
        reaggs = Seq(sum(col("n_items")).as("n_items"), sum(col("sq")).as("sq")))
      .select(col("l_returnflag"), col("l_linestatus"), col("n_items"),
        round(col("sq").cast("double"), 2).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Multimodal frame sampling (video-path plumbing, stub codec): every
    * 4th 1 KiB frame of the payload; flat stats gated against byte
    * arithmetic in SQL, nested frame array exercised by the test. */
  private def q53(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.sampleFrames(s, docs(s, dir), frameSize = 1024, every = 4)
      .filter(col("n_frames") > 0)
      .select(col("doc_id"), col("n_frames"), col("n_sampled"), col("sampled_bytes"))
      .orderBy(col("doc_id").asc)

  /** Per-source keep rates for the q54 mixture (src0 dropped entirely,
    * src19 kept at 95%) and the shared salt. */
  private val MixRates: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> i * 0.05).toMap
  private val MixSalt = "mix-v1"

  /** Deterministic data-mixture sampling: per-source keep rates applied
    * via a portable id hash (md5-bucket), so the sampled subset is a
    * pure function of the data — the reproducible data-mixing stage of
    * a curation pipeline. */
  private def q54(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.deterministicMix(
        docs(s, dir), col("doc_id"), col("source"), MixRates, MixSalt)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        Aggregates.exactSum(col("n_chars")).as("sc"))
      .select(col("source"), col("n_kept"),
        round(col("sc").cast("double"), 2).as("sum_chars"))
      .orderBy(col("source").asc)

  /** The q188/q191 generator-audit oracle body (everything after the
    * minhash prefix): candidates, unblocked exact-Jaccard ground truth
    * at 0.5, and the three counts + two rates. Shared verbatim by the
    * full-corpus and sampled variants — only the base relation in the
    * prefix differs. */
  private lazy val generatorAuditOracleTail: String =
    s"""
          cand AS MATERIALIZED (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
              AND a.doc_id < b.doc_id),
          sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
          inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                           count(*) AS n_common
                    FROM sh a JOIN sh b ON a.shingle = b.shingle
                      AND a.doc_id < b.doc_id
                    GROUP BY 1, 2),
          truth AS MATERIALIZED (
            SELECT doc_a, doc_b FROM inter
            JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
            WHERE n_common / (x.n + y.n - n_common) >= $AuditMinJaccard),
          t AS (SELECT count(*) AS n_truth FROM truth),
          c AS (SELECT count(*) AS n_cand FROM cand),
          h AS (SELECT count(*) AS n_hit
                FROM truth JOIN cand USING (doc_a, doc_b))
          SELECT n_truth, n_cand, n_hit,
                 round(CAST(n_hit AS DOUBLE) / NULLIF(n_truth, 0), 6) AS recall,
                 round(CAST(n_hit AS DOUBLE) / NULLIF(n_cand, 0), 6) AS cand_precision
          FROM t, c, h ORDER BY n_truth ASC"""

  /** The q184/q190 DSIR oracle (shared: scoring a doc in batch and
    * scoring it through the stream-static model join are the same
    * arithmetic — per-bucket ln ratios at DECIMAL(18,6), exact
    * count-weighted sums). */
  private lazy val dsirOracle: String =
    s"""WITH tok AS (SELECT doc_id, source = '$DsirTargetSource' AS is_tgt,
                            unnest(string_split(text, ' ')) AS term
                     FROM documents),
        tb AS MATERIALIZED (
          SELECT doc_id, is_tgt,
                 ('0x' || substr(md5(term || '$DsirSalt'), 1, 8))::BIGINT
                   % $DsirBuckets AS b,
                 count(*) AS c
          FROM tok GROUP BY 1, 2, 3),
        bc AS (SELECT b, sum(c) AS raw_n,
                      sum(CASE WHEN is_tgt THEN c ELSE 0 END) AS tgt_n
               FROM tb GROUP BY b),
        tot AS (SELECT sum(raw_n) AS raw_tot, sum(tgt_n) AS tgt_tot FROM bc),
        sc AS (SELECT b,
                      CAST(ln(CAST(tgt_n + 1 AS DOUBLE) / (tgt_tot + $DsirBuckets))
                           - ln(CAST(raw_n + 1 AS DOUBLE) / (raw_tot + $DsirBuckets))
                        AS DECIMAL(18,6)) AS s
               FROM bc, tot)
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(sum(c * s) AS DOUBLE) AS dsir_logratio
        FROM tb JOIN sc USING (b)
        GROUP BY doc_id ORDER BY doc_id ASC"""

  /** The q54/q189 mixture oracle (shared: batch and streamed runs of
    * the same deterministic sampler must match the same SQL). */
  private lazy val mixtureOracle: String = {
    val cases = MixRates.toSeq.sortBy(_._1).map { case (g, r) =>
      s"WHEN '$g' THEN ${math.round(r * 10000)}" }.mkString(" ")
    s"""WITH k AS (
          SELECT source, n_chars,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '$MixSalt'), 1, 8))::BIGINT
                   % 10000 AS bucket,
                 CASE source $cases ELSE 0 END AS bp
          FROM documents)
        SELECT source, count(*) AS n_kept,
               round(CAST(sum(CAST(n_chars AS DECIMAL(18,6))) AS DOUBLE), 2)
                 AS sum_chars
        FROM k WHERE bucket < bp
        GROUP BY source ORDER BY source ASC"""
  }

  /** Per-source upsample rates for q68 (whole + fractional parts) and
    * the shared salt. */
  private val UpRates: Map[String, Double] =
    Map("src3" -> 2.5, "src7" -> 1.0, "src11" -> 0.4)
  private val UpSalt = "up-v1"

  /** Deterministic upsampling (rates > 1): floor(rate) copies per row
    * plus one more iff the id hash clears the fractional part — the
    * repeat-this-source-2.5x half of mixture balancing, reproducible
    * across engines like q54's downsampling. */
  private def q68(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.deterministicUpsample(
        docs(s, dir), col("doc_id"), col("source"), UpRates, UpSalt)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("doc_id")).as("n_docs"),
        max(col("copy_no")).as("max_copies"))
      .orderBy(col("source").asc)

  /** Batch/corpus split point for q70's incremental dedup. */
  private val IncrementalSplit = 400L

  /** Incremental near-dup candidates: docs ≥ the split are "today's
    * batch", probed against the pre-bucketed corpus (docs < split) —
    * no corpus-wide re-pairing. Oracle = the FULL minhash pair run
    * restricted to batch-involving pairs, which the operator must
    * reproduce exactly (signatures are per-doc, so bucketing the
    * corpus separately changes nothing). */
  private def q70(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val corpusBuckets = NearDup.lshBuckets(
      NearDup.minHashSignatures(d.filter(col("doc_id") < IncrementalSplit), MinhashK),
      LshBands, LshRows)
    NearDup.incrementalCandidates(corpusBuckets,
        d.filter(col("doc_id") >= IncrementalSplit), MinhashK, LshBands, LshRows)
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  /** q70's incremental dedup behind per-(band, bucket) caps on BOTH
    * sides ([[NearDup.incrementalCandidatesCapped]]): a flooded corpus
    * bucket is probed through its anchor only, a flooded batch bucket
    * is star-reduced — the two distinct flood regimes of a daily batch
    * against a 100 TB corpus. Corpus bucket stats are passed in
    * PRE-LANDED ([[NearDup.bucketStats]] over the staged corpus bucket
    * table), the production shape: the per-batch cost never re-shuffles
    * the corpus. Oracle mirrors every arm of the cap logic in SQL. */
  private def q168(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val corpusBuckets = graft.engine.Staging.stagedByPlan(
      NearDup.lshBuckets(
        NearDup.minHashSignatures(d.filter(col("doc_id") < IncrementalSplit),
          MinhashK), LshBands, LshRows),
      "incr_corpus_buckets")
    val stats = graft.engine.Staging.stagedByPlan(
      NearDup.bucketStats(corpusBuckets), "incr_corpus_stats")
    NearDup.incrementalCandidatesCapped(corpusBuckets,
        d.filter(col("doc_id") >= IncrementalSplit), MinhashK, LshBands,
        LshRows, LshBucketCap, corpusStats = Some(stats))
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  /** Data profile of the orders table: per column null/distinct counts
    * and min/max, one scan. o_totalprice is pre-cast to DECIMAL so the
    * rendered min/max is engine-portable (raw double formatting is
    * not). */
  private def q71(s: SparkSession, dir: String): DataFrame =
    Aggregates.columnProfile(
        Sources.table(s, dir, "orders").select(
          col("o_custkey"), col("o_orderstatus"), col("o_orderpriority"),
          col("o_totalprice").cast("decimal(18,2)").as("o_totalprice")),
        Seq("o_custkey", "o_orderstatus", "o_orderpriority", "o_totalprice"))
      .orderBy(col("col_name").asc)

  /** The end-to-end curation decision per document: every quality
    * signal (length, stopword density, repetition, language agreement)
    * as an auditable boolean reason plus the final keep flag — the
    * query a production filter actually runs before dropping data. */
  private def q69(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.curationDecision(docs(s, dir),
        TextAnalysis.stopwords("en"),
        minTokens = 5, minStopRatio = 0.10, maxRepRatio = 0.5)
      .orderBy(col("doc_id").asc)

  /** Normalized-text dedup keys: NFC + lowercase + punct→space +
    * whitespace collapse, then md5 — groups that differ only in
    * casing/punctuation/spacing collapse to one key. */
  private def q55(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        TextAnalysis.normalizeText(col("text")).as("norm"))
      .select(col("doc_id"), md5(col("norm")).as("norm_key"),
        length(col("norm")).cast("long").as("n_norm_chars"))
      .orderBy(col("doc_id").asc)

  private val KmeansK = 8
  private val KmeansIters = 2

  /** Distributed Lloyd k-means (the trainable IVF quantizer): centroids
    * after KmeansIters rounded iterations, oracle'd by the identically
    * structured unrolled SQL. */
  private def q44(s: SparkSession, dir: String): DataFrame =
    graft.operators.KMeansQuantizer
      .fit(Sources.table(s, dir, "embeddings"), KmeansK, KmeansIters)
      .select(col("centroid_id"), col("dim"), col("c").as("centroid"))
      .orderBy(col("centroid_id").asc, col("dim").asc)

  /** Unrolled-iteration SQL mirror of [[KMeansQuantizer]]. */
  /** The unrolled-Lloyd CTE chain shared by q44 and q205: long-form
    * embeddings `ed`, deterministic seeds, then per-iteration
    * distance/assign/update CTEs ending in `c$KmeansIters` (the fitted
    * centroid table). */
  private lazy val kmeansCtes: String = {
    val iterCtes = (1 to KmeansIters).map { i =>
      val prev = if (i == 1) "c0" else s"c${i - 1}"
      s"""d$i AS (SELECT ed.vec_id, $prev.centroid_id,
                    round(sum((ed.x - $prev.c) * (ed.x - $prev.c)), 6) AS dist
                  FROM ed JOIN $prev ON ed.dim = $prev.dim GROUP BY 1, 2),
          a$i AS (SELECT vec_id, centroid_id FROM (
                    SELECT vec_id, centroid_id, row_number() OVER (
                      PARTITION BY vec_id ORDER BY dist ASC, centroid_id ASC) AS rn
                    FROM d$i) WHERE rn = 1),
          c$i AS (SELECT a$i.centroid_id, ed.dim, round(avg(ed.x), 6) AS c
                  FROM a$i JOIN ed ON a$i.vec_id = ed.vec_id GROUP BY 1, 2)"""
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        ed AS (SELECT vec_id, i AS dim, v[i] AS x
               FROM e, (SELECT unnest(range(1, ${EmbeddingDim + 1})) AS i) t),
        seeds AS (SELECT vec_id,
                    CAST(row_number() OVER (ORDER BY vec_id ASC) - 1 AS BIGINT)
                      AS centroid_id
                  FROM (SELECT DISTINCT vec_id FROM ed
                        ORDER BY vec_id ASC LIMIT $KmeansK)),
        c0 AS (SELECT seeds.centroid_id, ed.dim, ed.x AS c
               FROM seeds JOIN ed ON seeds.vec_id = ed.vec_id),
        $iterCtes"""
  }

  private lazy val kmeansOracle: String =
    s"""WITH $kmeansCtes
        SELECT centroid_id, dim, c AS centroid FROM c$KmeansIters
        ORDER BY centroid_id ASC, dim ASC"""

  /** Final assignment + per-cluster hardest-first rank CTEs (dF, aF,
    * r) on top of [[kmeansCtes]] — shared by the q205 oracle and the
    * q214 composition (whose kept set is q205's rule). The oracle
    * keeps the rank-WINDOW form deliberately: it is the semantic
    * definition the engine's histogram decomposition must reproduce
    * bit for bit. */
  private lazy val kmeansAssignRankCtes: String =
    s"""dF AS (SELECT ed.vec_id, cf.centroid_id,
               round(sum((ed.x - cf.c) * (ed.x - cf.c)), 6) AS dist
             FROM ed JOIN c$KmeansIters cf ON ed.dim = cf.dim
             GROUP BY 1, 2),
        aF AS (SELECT vec_id, centroid_id, dist FROM (
                 SELECT vec_id, centroid_id, dist, row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY dist ASC, centroid_id ASC) AS rn
                 FROM dF) WHERE rn = 1),
        r AS (SELECT vec_id, centroid_id, dist,
                CAST(row_number() OVER (PARTITION BY centroid_id
                  ORDER BY dist DESC, vec_id ASC) AS BIGINT) AS rnk,
                count(*) OVER (PARTITION BY centroid_id) AS cn
              FROM aF)"""

  /** 64-bit (two-half) analog of [[simhashCte]]. */
  private val simhash64Cte: String = {
    val nibs = (1 to 16)
      .map(j => s"strpos('0123456789abcdef', substr(h, $j, 1)) - 1 AS nib$j")
      .mkString(", ")
    val sums = (0 until 64).map { b =>
      s"sum(CASE WHEN (nib${b / 4 + 1} >> ${b % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS b$b"
    }.mkString(", ")
    def half(from: Int) = (from until from + 32)
      .map(b => s"CASE WHEN b$b > 0 THEN ${1L << (b - from)} ELSE 0 END")
      .mkString(" + ")
    // bnd64 mirrors NearDup.simHash64Banded's 4×16-bit layout (bands
    // 0–1 from fp_lo, 2–3 from fp_hi; the engine REQUIRES
    // SimHashBands == 4 for exactly this layout, so the literal half
    // selection here cannot drift from it). Band-join consumers avoid
    // DuckDB's n²-materializing IEJoin, as in [[simhashCte]].
    s"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
        h AS (SELECT doc_id, md5(tk) AS h FROM tok),
        nib AS (SELECT doc_id, $nibs FROM h),
        sums AS (SELECT doc_id, $sums FROM nib GROUP BY doc_id),
        fpt64 AS MATERIALIZED (SELECT doc_id, CAST(${half(32)} AS BIGINT) AS fp_hi,
                         CAST(${half(0)} AS BIGINT) AS fp_lo FROM sums),
        bnd64 AS MATERIALIZED (SELECT doc_id, fp_hi, fp_lo, band,
                         (CASE WHEN band < 2 THEN fp_lo ELSE fp_hi END
                          >> ((band % 2) * 16)) & 65535 AS bv
                  FROM fpt64,
                       (SELECT unnest(range(0, ${NearDup.SimHashBands}))
                          AS band) bands_t)"""
  }

  /** Rounded-cosine SQL fragment (DuckDB list_dot_product matches the
    * codegen'd DotProduct's left-to-right summation bit for bit). */
  private def sqlCos(a: String, b: String): String =
    s"""round(list_dot_product($a, $b) /
         (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"""

  /** Exact SQL mirror of [[Similarity.ivfKnn]] over label centroids —
    * the IVF pipeline is deterministic by construction (rounded cosines,
    * id tie-breaks), so the approximate index is still oracle-checkable. */
  private val ivfKnnOracle: String =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        ed AS (SELECT vec_id, label, i AS dim, v[i] AS x
               FROM e, (SELECT unnest(range(1, ${EmbeddingDim + 1})) AS i) t),
        cent AS (SELECT label AS centroid_id, dim, avg(x) AS c FROM ed GROUP BY 1, 2),
        cv AS (SELECT centroid_id, list(c ORDER BY dim ASC) AS cvec FROM cent GROUP BY 1),
        scored_n AS (SELECT e.vec_id AS n_vec, e.v AS nv, cv.centroid_id,
                            ${sqlCos("e.v", "cv.cvec")} AS c_cos
                     FROM e, cv),
        corpus AS (SELECT n_vec, nv, centroid_id FROM (
                     SELECT *, row_number() OVER (PARTITION BY n_vec
                       ORDER BY c_cos DESC, centroid_id ASC) AS rn
                     FROM scored_n) WHERE rn = 1),
        scored_q AS (SELECT q.vec_id AS q_vec, q.v AS qv, cv.centroid_id,
                            ${sqlCos("q.v", "cv.cvec")} AS c_cos
                     FROM e q, cv WHERE q.vec_id < 10),
        probes AS (SELECT q_vec, qv, centroid_id FROM (
                     SELECT *, row_number() OVER (PARTITION BY q_vec
                       ORDER BY c_cos DESC, centroid_id ASC) AS rn
                     FROM scored_q) WHERE rn <= 2),
        pair AS (SELECT p.q_vec, c.n_vec, ${sqlCos("p.qv", "c.nv")} AS cosine
                 FROM probes p JOIN corpus c USING (centroid_id)
                 WHERE c.n_vec <> p.q_vec),
        r AS (SELECT *, row_number() OVER (PARTITION BY q_vec
                ORDER BY cosine DESC, n_vec ASC) AS knn_rank FROM pair)
        SELECT q_vec, n_vec, cosine, knn_rank FROM r WHERE knn_rank <= 5
        ORDER BY q_vec ASC, knn_rank ASC"""

  /** Exact SQL mirror of [[Similarity.lshBucketedKnn]] (planes = 4):
    * deterministic index-seeded hyperplane weights reproduced as literal
    * lists; sign thresholds compare bit-identical doubles. */
  private val lshKnnOracle: String = {
    val planes = 4
    val buckets = (0 until planes).map { p =>
      val m = (p % 6) + 1
      val w = (0 until EmbeddingDim).map(i => ((i * m) % 7) - 3)
        .mkString("[", ", ", "]")
      s"CASE WHEN list_dot_product(v, CAST($w AS DOUBLE[])) > 0 THEN ${1L << p} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        b AS (SELECT vec_id, v, CAST($buckets AS BIGINT) AS bucket FROM e),
        q AS (SELECT vec_id AS q_vec, v AS qv, bucket FROM b WHERE vec_id < 10),
        pair AS (SELECT q.q_vec, c.vec_id AS n_vec, ${sqlCos("q.qv", "c.v")} AS cosine
                 FROM q JOIN b c USING (bucket) WHERE c.vec_id <> q.q_vec),
        r AS (SELECT *, row_number() OVER (PARTITION BY q_vec
                ORDER BY cosine DESC, n_vec ASC) AS knn_rank FROM pair)
        SELECT q_vec, n_vec, cosine, knn_rank FROM r WHERE knn_rank <= 5
        ORDER BY q_vec ASC, knn_rank ASC"""
  }

  // ----------------------------------------------- generated oracle SQL

  // sh is multiply-referenced by most consumers (sizes + both join
  // sides) and costs a 9-figure-row unnest at sf10 — MATERIALIZED per
  // the oracle-at-scale rule (plain CTEs re-run per reference; the
  // un-materialized form recomputed the shingle pipeline up to 4× and
  // overran the sf10 spill budget)
  /** Shingle CTE chain over an arbitrary base relation (`documents`
    * for the full-corpus consumers; a sampled CTE for q191). */
  private def sqlShinglesFor(base: String): String =
    s"""tok AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM $base),
       sh AS MATERIALIZED (SELECT DISTINCT doc_id, source,
                unnest(list_transform(range(1, len(t) - 1),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
              FROM tok WHERE len(t) >= 3)"""

  private val sqlShingles = sqlShinglesFor("documents")

  /** The q197/q200 positional n-gram concatenation over token list `t`
    * at offset `i` (DuckDB lambda body), width [[DupSpanN]]. */
  private lazy val dupGramExpr: String =
    (0 until DupSpanN).map(j => s"t[i+$j]").mkString(" || ' ' || ")

  /** Naive-Bayes prediction CTE chain (mirrors
    * [[graft.operators.Classify.naiveBayesPredictions]]): hashed-bucket
    * doc counts → add-1 model + priors at DECIMAL(18,6) → exact decimal
    * score sums → per-doc argmax with the lexicographic tie-break.
    * Ends in `pred(doc_id, source, pred_source)`; shared by q195 and
    * the q200 scorecard. */
  private lazy val nbPredCtes: String =
    s"""tok AS (SELECT doc_id, source,
                       unnest(string_split(text, ' ')) AS term
                FROM documents),
        db AS MATERIALIZED (
          SELECT doc_id, source,
                 ('0x' || substr(md5(term || '$NbSalt'), 1, 8))::BIGINT
                   % $NbBuckets AS b,
                 count(*) AS c
          FROM tok GROUP BY 1, 2, 3),
        st AS (SELECT source, sum(c) AS tok_s,
                      count(DISTINCT doc_id) AS nd FROM db GROUP BY 1),
        na AS (SELECT sum(nd) AS n_all FROM st),
        bks AS (SELECT DISTINCT b FROM db),
        sb AS (SELECT source, b, sum(c) AS sc FROM db GROUP BY 1, 2),
        model AS (SELECT st.source AS m_src, bks.b,
                         CAST(ln(CAST(coalesce(sc, 0) + 1 AS DOUBLE)
                                 / (tok_s + $NbBuckets))
                           AS DECIMAL(18,6)) AS lp
                  FROM st CROSS JOIN bks
                  LEFT JOIN sb ON sb.source = st.source AND sb.b = bks.b),
        pri AS (SELECT source AS m_src,
                       CAST(ln(CAST(nd AS DOUBLE) / n_all)
                         AS DECIMAL(18,6)) AS prior
                FROM st, na),
        sc2 AS (SELECT db.doc_id, db.source, m.m_src,
                       sum(db.c * m.lp) AS ll
                FROM db JOIN model m USING (b) GROUP BY 1, 2, 3),
        fin AS (SELECT doc_id, source, m_src, ll + prior AS score
                FROM sc2 JOIN pri USING (m_src)),
        pred AS (SELECT doc_id, source, m_src AS pred_source FROM fin
                 QUALIFY row_number() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, m_src ASC) = 1)"""

  /** Pixel-model replay CTE chain for the image queries: the same
    * deterministic grayscale content [[Multimodal.pngPayloads]] encodes
    * (w = 4 + id%5, h = 3 + id%4, px = (id·31 + 7x + 13y) mod 256),
    * reduced to the aHash — ends in `ph(doc_id, width, height, phash)`.
    * The engine runs the true encode → binary column → `javax.imageio`
    * decode → hash pipeline; SQL replays the arithmetic. */
  /** Shared deterministic-pixel-model CTE prefix (mirrors
    * [[Multimodal.imageContentId]]/`pixel` integer for integer):
    * content id with the planted image twins (doc_id ≡ 27 mod 50
    * carries doc_id − 27's payload), dims 8..12 × 8..11, per-pixel
    * multiplicative-hash values, per-image sums. Ends in
    * d(doc_id, w, h, icid), p2(doc_id, w, h, k, p),
    * st(doc_id, n, sp). */
  private lazy val pixelModelCtes: String =
    s"""d AS (SELECT doc_id, icid, 8 + icid % 5 AS w, 8 + icid % 4 AS h
              FROM (SELECT doc_id,
                      CASE WHEN doc_id % 50 = 27 THEN doc_id - 27
                           WHEN doc_id % 50 = 31 THEN doc_id - 12
                           ELSE doc_id END AS icid
                    FROM documents)),
        px AS (SELECT doc_id, icid, w, h, unnest(range(0, w * h)) AS k
               FROM d),
        pk AS (SELECT doc_id, icid, w, h, k,
                      CASE WHEN doc_id % 50 = 31 AND k = 0 THEN 1
                           WHEN doc_id % 50 = 31 AND k = 1 THEN 0
                           ELSE k END AS kk
               FROM px),
        pt AS (SELECT doc_id, w, h, k,
                      (icid * 2654435761 + (kk % w) * 40503
                       + (kk // w) * 30011
                       + (kk % w) * (kk // w) * 12289) % 1000003 AS t
               FROM pk),
        p2 AS (SELECT doc_id, w, h, k, (t * t % 1000003) % 256 AS p
               FROM pt),
        st AS (SELECT doc_id, count(*) AS n, sum(p) AS sp
               FROM p2 GROUP BY doc_id)"""

  /** Native-raster aHash chain: threshold bits parity-folded into 48
    * hash bits (bit j = XOR of thresholds at k ≡ j mod 48 — identical
    * to the plain pack when w·h ≤ 48; see [[Multimodal.pHashes]]).
    * Ends in ph(doc_id, width, height, phash), MATERIALIZED. */
  private lazy val pHashCtes: String =
    s"""$pixelModelCtes,
        pb AS (SELECT doc_id, k % 48 AS j,
                      sum(CASE WHEN p2.p * st.n >= st.sp
                               THEN 1 ELSE 0 END) % 2 AS bit
               FROM p2 JOIN st USING (doc_id) GROUP BY doc_id, k % 48),
        ph AS MATERIALIZED (
          SELECT pb.doc_id, CAST(any_value(d.w) AS BIGINT) AS width,
                 CAST(any_value(d.h) AS BIGINT) AS height,
                 CAST(sum(CASE WHEN bit = 1
                               THEN (1::BIGINT << j) ELSE 0 END)
                   AS BIGINT) AS phash
          FROM pb JOIN d USING (doc_id) GROUP BY pb.doc_id)"""

  /** The q202/q203 resampled-fingerprint CTE chain: the deterministic
    * pixel model resampled to the [[DedupKnobs.PHashGrid]]² grid in
    * exact integers — cell (i, j) covers x ∈ [i·w DIV g,
    * max((i+1)·w DIV g, i·w DIV g + 1)) (nearest-pixel when the box is
    * empty), bit c = j·g+i set iff cell-sum·(w·h) ≥ image-sum·box —
    * packed into two non-negative 32-bit halves. Ends in CTE `rs`
    * (doc_id, width, height, ph_hi, ph_lo), MATERIALIZED because q203
    * references it from both class-join sides. */
  private lazy val pHashResampleCtes: String = {
    val g = PHashGrid
    s"""$pixelModelCtes,
        cb AS (SELECT doc_id, w, h, c,
                      (c % $g) * w // $g AS x0,
                      greatest(((c % $g) + 1) * w // $g,
                               (c % $g) * w // $g + 1) AS x1,
                      (c // $g) * h // $g AS y0,
                      greatest(((c // $g) + 1) * h // $g,
                               (c // $g) * h // $g + 1) AS y1
               FROM (SELECT doc_id, w, h, unnest(range(0, $g * $g)) AS c
                     FROM d)),
        cs AS (SELECT cb.doc_id, cb.c, sum(p2.p) AS sc, count(*) AS nc
               FROM cb JOIN p2 ON p2.doc_id = cb.doc_id
                 AND (p2.k % p2.w) >= cb.x0 AND (p2.k % p2.w) < cb.x1
                 AND (p2.k // p2.w) >= cb.y0 AND (p2.k // p2.w) < cb.y1
               GROUP BY cb.doc_id, cb.c),
        bits AS (SELECT cs.doc_id, cs.c,
                        CASE WHEN cs.sc * st.n >= st.sp * cs.nc
                             THEN 1 ELSE 0 END AS bit
                 FROM cs JOIN st USING (doc_id)),
        rs AS MATERIALIZED (
          SELECT d.doc_id, CAST(d.w AS BIGINT) AS width,
                 CAST(d.h AS BIGINT) AS height,
                 CAST(sum(CASE WHEN bit = 1 AND c >= 32
                               THEN (1::BIGINT << (c - 32)) ELSE 0 END)
                   AS BIGINT) AS ph_hi,
                 CAST(sum(CASE WHEN bit = 1 AND c < 32
                               THEN (1::BIGINT << c) ELSE 0 END)
                   AS BIGINT) AS ph_lo
          FROM bits JOIN d USING (doc_id)
          GROUP BY d.doc_id, d.w, d.h)"""
  }

  /** Corpus-relative shingle-df band CTE chain (mirrors
    * [[NearDup.shingleDfBandMax]] integer for integer): df histogram
    * over repeated shingles → cumulative count + exact Σcnt·df²
    * fan-out → quantile / budget / floor threshold (one row) → banded
    * shingle set `bd` → banded postings `b`. Expects `sh` from
    * [[sqlShinglesFor]] upstream; every knob interpolates from
    * [[DedupKnobs]]. The HUGEINT cast on the fan-out sum matches the
    * engine's DECIMAL(38,0) (long products overflow first at
    * web-corpus dfs); all comparisons are exact integers, so both
    * engines derive the identical threshold. */
  /** Shared deterministic-PCM-model CTE prefix (mirrors
    * [[Multimodal.audioContentId]]/`sampleU` integer for integer):
    * content id with the planted audio twins (doc_id ≡ 49 mod 50
    * carries doc_id − 24's recording), per-doc sample count, signed
    * sample values. Ends in ad(doc_id, acid, ns) and
    * sv(doc_id, ns, i, v). */
  private lazy val audioPcmCtes: String =
    s"""ad AS (SELECT doc_id, acid, 32 + acid % 97 AS ns
               FROM (SELECT doc_id,
                       CASE WHEN doc_id % 50 = 49 OR doc_id % 50 = 37
                            THEN doc_id - 24
                            ELSE doc_id END AS acid
                     FROM documents)),
        sm AS (SELECT doc_id, acid, ns, unnest(range(0, ns)) AS i FROM ad),
        st0 AS (SELECT doc_id, ns, i,
                       (acid * 2654435761 + i * 7919) % 1000003 AS t
                FROM sm),
        sv AS (SELECT doc_id, ns, i,
                      CASE WHEN doc_id % 50 = 37 AND i = 5
                           THEN ((t * t % 1000003) % 256 + 97) % 256 - 128
                           ELSE (t * t % 1000003) % 256 - 128 END AS v
               FROM st0)"""

  /** Envelope-fingerprint chain over [[audioPcmCtes]] (the q207 B=1
    * form): length-relative sub-window |v| sums, sign-of-delta bits.
    * Ends in afp(doc_id, f), MATERIALIZED (q207 joins both sides). */
  private lazy val audioEnvFpCtes: String =
    s"""$audioPcmCtes,
        eb AS (SELECT doc_id, (i * $AudioFpSubWindows) // ns AS sw,
                      sum(abs(v)) AS e
               FROM sv GROUP BY 1, 2),
        afp AS MATERIALIZED (
          SELECT doc_id,
                 CAST(sum(CASE WHEN en > e THEN (1::BIGINT << sw)
                          ELSE 0 END) AS BIGINT) AS f
          FROM (SELECT doc_id, sw, e,
                  lead(e) OVER (PARTITION BY doc_id ORDER BY sw) AS en
                FROM eb)
          WHERE en IS NOT NULL GROUP BY doc_id)"""

  /** MULTI-BAND fingerprint chain over [[audioPcmCtes]] (mirrors
    * [[Multimodal.audioFingerprintsMultiBand]]): per sub-window, band
    * 0 = Σ|v| and band b = Σ|v − lag_b(v)| (lag across the whole
    * signal, i ≥ b — the engine's comb filter exactly); bit
    * (sw + b·(S−1)) = sign of the adjacent-sub-window delta, split
    * into two non-negative 32-bit halves. Ends in
    * fpm(doc_id, ns, fp_hi, fp_lo), MATERIALIZED. */
  private lazy val audioMbCtes: String = {
    val sw = AudioFpSubWindows
    val nb = DedupKnobs.AudioFpBands
    val lags = (1 until nb)
      .map(b => s"lag(v, $b) OVER (PARTITION BY doc_id ORDER BY i) AS v$b")
      .mkString(", ")
    val bandSums = (1 until nb)
      .map(b => s"sum(CASE WHEN v$b IS NULL THEN 0 ELSE abs(v - v$b) END) AS e$b")
      .mkString(", ")
    val leads = (0 until nb)
      .map(b => s"e$b, lead(e$b) OVER (PARTITION BY doc_id ORDER BY sw) AS en$b")
      .mkString(", ")
    def half(hiSide: Boolean): String = (0 until nb).map { b =>
      val off = b * (sw - 1)
      val cond = if (hiSide) s"sw + $off >= 32" else s"sw + $off < 32"
      val shift = if (hiSide) s"sw + $off - 32" else s"sw + $off"
      s"sum(CASE WHEN en$b > e$b AND $cond THEN (1::BIGINT << ($shift)) ELSE 0 END)"
    }.mkString(" + ")
    s"""$audioPcmCtes,
        svl AS (SELECT doc_id, ns, i, v, $lags FROM sv),
        be AS (SELECT doc_id, any_value(ns) AS ns,
                      (i * $sw) // ns AS sw,
                      sum(abs(v)) AS e0, $bandSums
               FROM svl GROUP BY doc_id, (i * $sw) // ns),
        bel AS (SELECT doc_id, ns, sw, $leads FROM be),
        fpm AS MATERIALIZED (
          SELECT doc_id, CAST(any_value(ns) AS BIGINT) AS ns,
                 CAST(${half(hiSide = true)} AS BIGINT) AS fp_hi,
                 CAST(${half(hiSide = false)} AS BIGINT) AS fp_lo
          FROM bel WHERE en0 IS NOT NULL GROUP BY doc_id)"""
  }

  /** The WIDE frame-matrix fingerprint replay (q222/q223; extends
    * q215's census) — [[audioMbCtes]]' band-energy chain generalized
    * to [[graft.DedupKnobs.AudioFpWideBands]] lag bands with 15-bit
    * word packing. Expects `sv` from [[audioPcmCtes]] in scope
    * (compose after audioPcmCtes or audioMbCtes); CTEs are w-prefixed
    * so both fragments coexist in one query; ends in
    * `fpw(doc_id, ns, w0..w8)`. */
  private lazy val audioWideCtes: String = {
    val sw = AudioFpSubWindows
    val nb = DedupKnobs.AudioFpWideBands
    val wb = DedupKnobs.AudioFpWideWordBits
    val words = DedupKnobs.AudioFpWideWords
    val lags = (1 until nb)
      .map(b => s"lag(v, $b) OVER (PARTITION BY doc_id ORDER BY i) AS v$b")
      .mkString(", ")
    val bandSums = (1 until nb)
      .map(b => s"sum(CASE WHEN v$b IS NULL THEN 0 ELSE abs(v - v$b) END) AS e$b")
      .mkString(", ")
    val leads = (0 until nb)
      .map(b => s"e$b, lead(e$b) OVER (PARTITION BY doc_id ORDER BY sw) AS en$b")
      .mkString(", ")
    def word(j: Int): String = (0 until nb).map { b =>
      val off = b * (sw - 1)
      s"sum(CASE WHEN en$b > e$b AND (sw + $off) // $wb = $j " +
        s"THEN (1::BIGINT << ((sw + $off) % $wb)) ELSE 0 END)"
    }.mkString(" + ")
    val sel = (0 until words)
      .map(j => s"CAST(${word(j)} AS BIGINT) AS w$j").mkString(", ")
    s"""wsvl AS (SELECT doc_id, ns, i, v, $lags FROM sv),
        wbe AS (SELECT doc_id, any_value(ns) AS ns,
                       (i * $sw) // ns AS sw,
                       sum(abs(v)) AS e0, $bandSums
                FROM wsvl GROUP BY doc_id, (i * $sw) // ns),
        wbel AS (SELECT doc_id, ns, sw, $leads FROM wbe),
        fpw AS MATERIALIZED (
          SELECT doc_id, CAST(any_value(ns) AS BIGINT) AS ns, $sel
          FROM wbel WHERE en0 IS NOT NULL GROUP BY doc_id)"""
  }

  /** q223's class-pair SQL over `fpw` — [[wideClassPairsCapped]]
    * mirrored for nine words: classes on the word tuple, per-word
    * bands, lexicographic-min bucket anchors (a zero-padded decimal
    * concatenation of the 15-bit words orders exactly like the word
    * tuple — arg_min's key), caps, star reduction, summed-bit_count
    * verify. */
  private lazy val wideClassPairSql: String = {
    val words = DedupKnobs.AudioFpWideWords
    val ws = (0 until words).map(j => s"w$j")
    val wlist = ws.mkString(", ")
    val wkey = ws.map(w => s"lpad(CAST($w AS VARCHAR), 5, '0')")
      .mkString(" || ")
    val argmins = (ws.map(w => s"arg_min($w, $wkey) AS a_$w") ++
      Seq(s"arg_min(n_docs, $wkey) AS a_nd",
        s"arg_min(anchor, $wkey) AS a_anchor")).mkString(", ")
    val bvCase = "CASE j " + (0 until words)
      .map(j => s"WHEN $j THEN w$j").mkString(" ") + " END"
    val rowA = "(" + ws.map(w => s"a.$w").mkString(", ") + ")"
    val rowB = "(" + ws.map(w => s"b.$w").mkString(", ") + ")"
    val rowT = "(" + ws.map(w => s"t.$w").mkString(", ") + ")"
    val rowAt = "(" + ws.map(w => s"t.a_$w").mkString(", ") + ")"
    val abSel = (ws.map(w => s"a.$w AS ${w}_a") ++ ws.map(w => s"b.$w AS ${w}_b"))
      .mkString(", ")
    val starSel = (ws.map(w => s"t.a_$w AS ${w}_a") ++
      ws.map(w => s"t.$w AS ${w}_b")).mkString(", ")
    val outCols = (ws.map(w => s"${w}_a") ++ ws.map(w => s"${w}_b") ++
      Seq("n_a", "n_b", "anchor_a", "anchor_b")).mkString(", ")
    val ham = ws.map(w => s"bit_count(xor(${w}_a, ${w}_b))").mkString(" + ")
    val ord = (ws.map(w => s"${w}_a ASC") ++ ws.map(w => s"${w}_b ASC"))
      .mkString(", ")
    s"""wcls AS (SELECT $wlist, count(*) AS n_docs, min(doc_id) AS anchor
                 FROM fpw GROUP BY $wlist),
        wbnd AS (SELECT *, j AS band, $bvCase AS bv
                 FROM wcls CROSS JOIN
                   (SELECT unnest(range(0, $words)) AS j) bands),
        wst AS (SELECT band, bv, count(*) AS n, $argmins
                FROM wbnd GROUP BY 1, 2),
        wtag AS (SELECT b.*, s.n, ${ws.map(w => s"s.a_$w").mkString(", ")},
                        s.a_nd, s.a_anchor
                 FROM wbnd b JOIN wst s USING (band, bv)),
        wallp AS (SELECT $abSel, a.n_docs AS n_a, b.n_docs AS n_b,
                         a.anchor AS anchor_a, b.anchor AS anchor_b
                  FROM wtag a JOIN wtag b USING (band, bv)
                  WHERE a.n <= $AudioClassBucketCap AND $rowA < $rowB),
        wstar AS (SELECT $starSel, t.a_nd AS n_a, t.n_docs AS n_b,
                         t.a_anchor AS anchor_a, t.anchor AS anchor_b
                  FROM wtag t
                  WHERE t.n > $AudioClassBucketCap AND $rowT <> $rowAt),
        wu AS (SELECT DISTINCT $outCols FROM
                 (SELECT $outCols FROM wallp
                  UNION ALL SELECT $outCols FROM wstar))
        SELECT $outCols, CAST($ham AS BIGINT) AS hamming
        FROM wu WHERE $ham <= ${DedupKnobs.AudioWideMaxHamming}
        ORDER BY $ord"""
  }

  /** The full-corpus train-manifest SQL (q192) — ALSO the oracle of
    * q218, whose engine reaches the same result through the
    * incremental pair/cells machinery (the gate is the equivalence
    * theorem). */
  /** q192's manifest TAIL — docs + a `clusters` relation → split
    * cells → budget → apportionment. Shared by the full-corpus (q192)
    * and incremental (q218) manifest oracles: only the EDGE SET that
    * feeds the CC differs. */
  private lazy val manifestTailSql: String =
    s"""k AS (SELECT d.doc_id, d.source,
                       len(string_split(d.text, ' ')) AS n_tok,
                       coalesce(c.cluster_id, d.doc_id) AS gid
                FROM documents d LEFT JOIN clusters c ON c.n = d.doc_id),
          sp AS (SELECT source, n_tok,
                        CASE WHEN bucket < $SplitTrainBp THEN 'train'
                             WHEN bucket < $SplitValBp THEN 'val'
                             ELSE 'test' END AS split
                 FROM (SELECT source, n_tok,
                         ('0x' || substr(md5(CAST(gid AS VARCHAR) || '$SplitSalt'), 1, 8))::BIGINT
                           % 10000 AS bucket
                       FROM k)),
          cell AS (SELECT split, source, count(*) AS n_docs,
                          CAST(sum(n_tok) AS BIGINT) AS n_tokens
                   FROM sp GROUP BY 1, 2),
          per AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS src_tokens
                  FROM k GROUP BY source),
          tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS t_tot,
                         count(*) AS n_src FROM per),
          bb AS (SELECT per.source, per.src_tokens,
                        t_tot // $MixBudgetDen AS budget,
                        (t_tot // $MixBudgetDen) // n_src AS base
                 FROM per, tot),
          cp AS (SELECT *, least(base, src_tokens * $MixCapEpochs) AS capped,
                        src_tokens * $MixCapEpochs > base AS uncapped
                 FROM bb),
          lf AS (SELECT CAST(sum(capped) AS BIGINT) AS sum_capped,
                        CAST(sum(CASE WHEN uncapped THEN 1 ELSE 0 END) AS BIGINT)
                          AS n_unc FROM cp),
          al AS (SELECT source, src_tokens,
                        least(capped + CASE WHEN uncapped
                               THEN (budget - sum_capped) // NULLIF(n_unc, 0)
                               ELSE 0 END,
                              src_tokens * $MixCapEpochs) AS src_alloc
                 FROM cp, lf)
          SELECT cell.split, cell.source, cell.n_docs, cell.n_tokens,
                 CAST(src_alloc * cell.n_tokens // NULLIF(src_tokens, 0)
                   AS BIGINT) AS alloc_tokens,
                 round(CAST(src_alloc * cell.n_tokens // NULLIF(src_tokens, 0)
                        AS DOUBLE) / NULLIF(cell.n_tokens, 0), 6) AS epochs
          FROM cell JOIN al USING (source)
          ORDER BY split ASC, source ASC"""

  private lazy val fullManifestOracle: String =
    s"""WITH $simhashCte,
        $cappedEdgeCtes,
        ${ccUnrolledCtes()},
        $manifestTailSql"""

  /** The INCREMENTAL edge set — q218's oracle mirror of the landed
    * corpus pair table ([[NearDup.simHashPairsCapped]] over the corpus
    * slice, CORPUS-side caps) unioned with
    * [[NearDup.incrementalSimhashPairsCapped]] (batch-vs-corpus +
    * batch-internal, UNION-side caps). Expects `fpt`/`bnd` from
    * [[simhashCte]]; ends in `edges` for [[ccUnrolledCtes]]. */
  private lazy val incrementalEdgeCtes: String =
    s"""mx AS (SELECT max(doc_id) * 4 // 5 AS cut FROM documents),
        cbnd AS MATERIALIZED (SELECT b.* FROM bnd b, mx
               WHERE b.doc_id <= mx.cut),
        bbnd AS MATERIALIZED (SELECT b.* FROM bnd b, mx
               WHERE b.doc_id > mx.cut),
        cstats AS (SELECT band, bv, count(*) AS n, min(doc_id) AS anchor
                   FROM cbnd GROUP BY 1, 2),
        cbt AS (SELECT b.doc_id, b.simhash, b.band, b.bv, s.n, s.anchor
                FROM cbnd b JOIN cstats s ON b.band = s.band AND b.bv = s.bv),
        cu AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM cbt a JOIN cbt b
            ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
          WHERE a.n <= $SimHashBucketCap
            AND bit_count(xor(a.simhash, b.simhash)) <= $SimHashMaxHamming
          UNION ALL
          SELECT t.anchor AS doc_a, t.doc_id AS doc_b
          FROM cbt t JOIN fpt f ON f.doc_id = t.anchor
          WHERE t.n > $SimHashBucketCap AND t.doc_id <> t.anchor
            AND bit_count(xor(f.simhash, t.simhash)) <= $SimHashMaxHamming),
        bstats AS (SELECT band, bv, count(*) AS nb, min(doc_id) AS ab
                   FROM bbnd GROUP BY 1, 2),
        ustats AS (SELECT bs.band, bs.bv,
                          bs.nb + coalesce(cs.n, 0) AS n,
                          CASE WHEN coalesce(cs.n, 0) > 0 THEN cs.anchor
                               ELSE bs.ab END AS anchor
                   FROM bstats bs LEFT JOIN cstats cs
                     ON bs.band = cs.band AND bs.bv = cs.bv),
        ibt AS (SELECT b.doc_id, b.simhash, b.band, b.bv, u.n, u.anchor
                FROM bbnd b JOIN ustats u ON b.band = u.band AND b.bv = u.bv),
        iu AS (
          SELECT least(x.doc_id, y.doc_id) AS doc_a,
                 greatest(x.doc_id, y.doc_id) AS doc_b
          FROM ibt x JOIN cbnd y
            ON x.band = y.band AND x.bv = y.bv
          WHERE x.n <= $SimHashBucketCap
            AND bit_count(xor(x.simhash, y.simhash)) <= $SimHashMaxHamming
          UNION ALL
          SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM ibt x JOIN ibt y
            ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id
          WHERE x.n <= $SimHashBucketCap
            AND bit_count(xor(x.simhash, y.simhash)) <= $SimHashMaxHamming
          UNION ALL
          SELECT least(t.doc_id, t.anchor) AS doc_a,
                 greatest(t.doc_id, t.anchor) AS doc_b
          FROM ibt t JOIN fpt f ON f.doc_id = t.anchor
          WHERE t.n > $SimHashBucketCap AND t.doc_id <> t.anchor
            AND bit_count(xor(f.simhash, t.simhash)) <= $SimHashMaxHamming),
        prs AS MATERIALIZED (SELECT DISTINCT doc_a, doc_b
              FROM (SELECT doc_a, doc_b FROM cu
                    UNION ALL SELECT doc_a, doc_b FROM iu))"""

  /** [[incrementalTextPairCtes]] closed into the `edges` relation
    * [[ccUnrolledCtes]] expects — q218's text-only edge set. */
  private lazy val incrementalEdgeCtesClosed: String =
    s"""$incrementalEdgeCtes,
        edges AS MATERIALIZED (SELECT doc_a AS n, doc_b AS m FROM prs
                  UNION SELECT doc_b AS n, doc_a AS m FROM prs)"""

  /** q218's oracle: the manifest tail over the INCREMENTALLY built
    * edge set — on the engine side the cells merge additively with a
    * drifted-cluster correction, which algebraically collapses to
    * cells-under-the-merged-clustering; the oracle computes the
    * collapsed form, so the gate also pins that the correction
    * algebra is exact. */
  private lazy val incrementalManifestOracle: String =
    s"""WITH $simhashCte,
        $incrementalEdgeCtesClosed,
        ${ccUnrolledCtes()},
        $manifestTailSql"""

  /** One increment's pair CTEs — the oracle mirror of
    * [[NearDup.incrementalSimhashPairsCapped]] between a LANDED slice
    * (`bnd` rows satisfying `landedW`) and a batch slice (`batchW`);
    * both predicates may reference `mx`. Union-census caps; the anchor
    * is the landed min doc wherever the bucket has landed members
    * (ids are monotone, so that IS the union min — the same
    * `min(struct(doc_id, simhash))` the engine takes). Emits CTEs
    * prefixed `p`, ending in `<p>iu(doc_a, doc_b)`; expects fpt/bnd
    * from [[simhashCte]]. */
  private def incPairCtesOver(p: String, landedW: String,
                              batchW: String): String =
    s"""${p}cb AS MATERIALIZED (SELECT b.* FROM bnd b, mx WHERE $landedW),
        ${p}bb AS MATERIALIZED (SELECT b.* FROM bnd b, mx WHERE $batchW),
        ${p}cs AS (SELECT band, bv, count(*) AS n, min(doc_id) AS anchor
                   FROM ${p}cb GROUP BY 1, 2),
        ${p}bs AS (SELECT band, bv, count(*) AS nb, min(doc_id) AS ab
                   FROM ${p}bb GROUP BY 1, 2),
        ${p}us AS (SELECT bs.band, bs.bv,
                          bs.nb + coalesce(cs.n, 0) AS n,
                          CASE WHEN coalesce(cs.n, 0) > 0 THEN cs.anchor
                               ELSE bs.ab END AS anchor
                   FROM ${p}bs bs LEFT JOIN ${p}cs cs
                     ON bs.band = cs.band AND bs.bv = cs.bv),
        ${p}ib AS (SELECT b.doc_id, b.simhash, b.band, b.bv, u.n, u.anchor
                   FROM ${p}bb b JOIN ${p}us u
                     ON b.band = u.band AND b.bv = u.bv),
        ${p}iu AS (
          SELECT least(x.doc_id, y.doc_id) AS doc_a,
                 greatest(x.doc_id, y.doc_id) AS doc_b
          FROM ${p}ib x JOIN ${p}cb y
            ON x.band = y.band AND x.bv = y.bv
          WHERE x.n <= $SimHashBucketCap
            AND bit_count(xor(x.simhash, y.simhash)) <= $SimHashMaxHamming
          UNION ALL
          SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM ${p}ib x JOIN ${p}ib y
            ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id
          WHERE x.n <= $SimHashBucketCap
            AND bit_count(xor(x.simhash, y.simhash)) <= $SimHashMaxHamming
          UNION ALL
          SELECT least(t.doc_id, t.anchor) AS doc_a,
                 greatest(t.doc_id, t.anchor) AS doc_b
          FROM ${p}ib t JOIN fpt f ON f.doc_id = t.anchor
          WHERE t.n > $SimHashBucketCap AND t.doc_id <> t.anchor
            AND bit_count(xor(f.simhash, t.simhash)) <= $SimHashMaxHamming)"""

  /** q224's oracle: the TWO-increment edge set — corpus-side caps on
    * the day-0 slice, then [[incPairCtesOver]] once per day with the
    * landed slice advancing (day 1 lands ≤ cut1, day 2 lands ≤ cut2) —
    * fed to ONE connected-components pass, manifest computed directly
    * under the final clustering: the collapsed form that two rounds of
    * the engine's cells-correction algebra must equal. */
  private lazy val chainedManifestOracle: String =
    s"""WITH $simhashCte,
        mx AS (SELECT max(doc_id) * 3 // 5 AS cut1,
                      max(doc_id) * 4 // 5 AS cut2 FROM documents),
        c0b AS MATERIALIZED (SELECT b.* FROM bnd b, mx
               WHERE b.doc_id <= mx.cut1),
        c0s AS (SELECT band, bv, count(*) AS n, min(doc_id) AS anchor
                FROM c0b GROUP BY 1, 2),
        c0t AS (SELECT b.doc_id, b.simhash, b.band, b.bv, s.n, s.anchor
                FROM c0b b JOIN c0s s ON b.band = s.band AND b.bv = s.bv),
        cu0 AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM c0t a JOIN c0t b
            ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
          WHERE a.n <= $SimHashBucketCap
            AND bit_count(xor(a.simhash, b.simhash)) <= $SimHashMaxHamming
          UNION ALL
          SELECT t.anchor AS doc_a, t.doc_id AS doc_b
          FROM c0t t JOIN fpt f ON f.doc_id = t.anchor
          WHERE t.n > $SimHashBucketCap AND t.doc_id <> t.anchor
            AND bit_count(xor(f.simhash, t.simhash)) <= $SimHashMaxHamming),
        ${incPairCtesOver("d1", "b.doc_id <= mx.cut1",
          "b.doc_id > mx.cut1 AND b.doc_id <= mx.cut2")},
        ${incPairCtesOver("d2", "b.doc_id <= mx.cut2",
          "b.doc_id > mx.cut2")},
        prs AS MATERIALIZED (SELECT DISTINCT doc_a, doc_b FROM (
              SELECT doc_a, doc_b FROM cu0
              UNION ALL SELECT doc_a, doc_b FROM d1iu
              UNION ALL SELECT doc_a, doc_b FROM d2iu)),
        edges AS MATERIALIZED (SELECT doc_a AS n, doc_b AS m FROM prs
                  UNION SELECT doc_b AS n, doc_a AS m FROM prs),
        ${ccUnrolledCtes()},
        $manifestTailSql"""

  /** Class-edge SQL over a 64-bit class fingerprint relation
    * `src(doc_id, <hi>, <lo>)` — the oracle mirror of
    * [[Multimodal.classMemberEdges]] ∪
    * [[Multimodal.resampledClassPairsCapped]] projected to doc-level
    * (doc_a, doc_b) edges: saturation-guarded within-class member
    * stars plus capped 4×16-band class pairs (lexicographic-min-class
    * bucket anchors), hamming-verified. Emits CTEs prefixed `$p`
    * ending in `${p}edges(doc_a, doc_b)`; `touch` (optional WHERE
    * body) filters the final edge set — the incremental oracle passes
    * the batch-touching predicate there (the spec-pinned equivalence:
    * the union generator's batch-touching slice IS the incremental
    * generator's output, Round13OpsSpec). */
  private def classEdgeCtesOver(p: String, src: String, hi: String,
                                lo: String, maxHamming: Int, cap: Long,
                                touch: String = ""): String = {
    val where = if (touch.isEmpty) "" else s"WHERE $touch"
    s"""${p}cls AS MATERIALIZED (
          SELECT $hi AS hi, $lo AS lo, count(*) AS n,
                 min(doc_id) AS rep
          FROM $src GROUP BY 1, 2),
        ${p}mem AS (SELECT c.rep AS doc_a, s.doc_id AS doc_b
                    FROM $src s JOIN ${p}cls c
                      ON s.$hi = c.hi AND s.$lo = c.lo
                    WHERE c.n <= $cap AND s.doc_id <> c.rep),
        ${p}bnd AS (SELECT hi, lo, rep, j AS band,
                      CASE j WHEN 0 THEN lo & 65535
                             WHEN 1 THEN (lo >> 16) & 65535
                             WHEN 2 THEN hi & 65535
                             ELSE (hi >> 16) & 65535 END AS bv
                    FROM ${p}cls CROSS JOIN
                      (SELECT unnest(range(0, 4)) AS j) b),
        ${p}st AS (SELECT band, bv, count(*) AS bn,
                     arg_min(hi, CAST(hi AS HUGEINT) * 4294967296 + lo)
                       AS a_hi,
                     arg_min(lo, CAST(hi AS HUGEINT) * 4294967296 + lo)
                       AS a_lo
                   FROM ${p}bnd GROUP BY 1, 2),
        ${p}tg AS (SELECT b.*, s.bn, s.a_hi, s.a_lo
                   FROM ${p}bnd b JOIN ${p}st s USING (band, bv)),
        ${p}cp AS (SELECT a.rep AS doc_a, b.rep AS doc_b,
                          a.hi AS hi_a, a.lo AS lo_a,
                          b.hi AS hi_b, b.lo AS lo_b
                   FROM ${p}tg a JOIN ${p}tg b USING (band, bv)
                   WHERE a.bn <= $cap
                     AND (a.hi, a.lo) < (b.hi, b.lo)
                   UNION ALL
                   SELECT c.rep AS doc_a, t.rep AS doc_b,
                          c.hi, c.lo, t.hi, t.lo
                   FROM ${p}tg t JOIN ${p}cls c
                     ON c.hi = t.a_hi AND c.lo = t.a_lo
                   WHERE t.bn > $cap
                     AND (t.hi, t.lo) <> (t.a_hi, t.a_lo)),
        ${p}edges AS MATERIALIZED (
          SELECT DISTINCT doc_a, doc_b FROM (
            SELECT doc_a, doc_b FROM ${p}mem
            UNION ALL
            SELECT doc_a, doc_b FROM ${p}cp
            WHERE bit_count(xor(hi_a, hi_b))
                + bit_count(xor(lo_a, lo_b)) <= $maxHamming)
          $where)"""
  }

  /** q221's oracle: corpus-side arm edges under corpus-census caps
    * (text cu + image/audio class edges over the corpus slice) plus
    * the incremental arm edges (text iu mirrored; image/audio as the
    * union generator's batch-touching slice), hook+jump CC, batch
    * verdicts. */
  private lazy val incrementalMultimodalOracle: String =
    s"""WITH $simhashCte,
        $incrementalEdgeCtes,
        $pHashResampleCtes,
        $audioMbCtes,
        imsrc AS (SELECT doc_id, ph_hi, ph_lo FROM rs),
        imc_src AS (SELECT s.* FROM imsrc s, mx WHERE s.doc_id <= mx.cut),
        ausrc AS (SELECT doc_id, fp_hi, fp_lo FROM fpm),
        auc_src AS (SELECT s.* FROM ausrc s, mx WHERE s.doc_id <= mx.cut),
        ${classEdgeCtesOver("imc_", "imc_src", "ph_hi", "ph_lo",
          PHashMaxHamming, PHashClassBucketCap)},
        ${classEdgeCtesOver("imu_", "imsrc", "ph_hi", "ph_lo",
          PHashMaxHamming, PHashClassBucketCap,
          "greatest(doc_a, doc_b) > (SELECT cut FROM mx)")},
        ${classEdgeCtesOver("auc_", "auc_src", "fp_hi", "fp_lo",
          DedupKnobs.AudioMbMaxHamming, AudioClassBucketCap)},
        ${classEdgeCtesOver("auu_", "ausrc", "fp_hi", "fp_lo",
          DedupKnobs.AudioMbMaxHamming, AudioClassBucketCap,
          "greatest(doc_a, doc_b) > (SELECT cut FROM mx)")},
        alle AS MATERIALIZED (
          SELECT doc_a, doc_b FROM prs
          UNION SELECT doc_a, doc_b FROM imc_edges
          UNION SELECT doc_a, doc_b FROM imu_edges
          UNION SELECT doc_a, doc_b FROM auc_edges
          UNION SELECT doc_a, doc_b FROM auu_edges),
        edges AS MATERIALIZED (
          SELECT doc_a AS n, doc_b AS m FROM alle
          UNION SELECT doc_b AS n, doc_a AS m FROM alle),
        ${ccUnrolledCtes()}
        SELECT d.doc_id,
               coalesce(c.cluster_id, d.doc_id) AS component,
               coalesce(c.cluster_id, d.doc_id) <> d.doc_id AS is_dup
        FROM documents d CROSS JOIN mx
          LEFT JOIN clusters c ON c.n = d.doc_id
        WHERE d.doc_id > mx.cut
        ORDER BY d.doc_id ASC"""

  private lazy val dfBandCtes: String =
    s"""dfs AS MATERIALIZED (SELECT shingle, count(*) AS df
                             FROM sh GROUP BY 1),
        hist AS (SELECT df, count(*) AS cnt FROM dfs
                 WHERE df >= 2 GROUP BY df),
        cu AS (SELECT df, cnt,
                      sum(cnt) OVER (ORDER BY df ASC) AS cum,
                      sum(CAST(cnt AS HUGEINT) * df * df)
                        OVER (ORDER BY df ASC) AS cumsq,
                      sum(cnt) OVER () AS n FROM hist),
        qt AS (SELECT min(df) AS q FROM cu
               WHERE cum * 10000 >= n * $ShingleDfQuantileBp),
        bt AS (SELECT max(df) AS b FROM cu
               WHERE cumsq <= $ShingleDfFanoutBudget),
        mn AS (SELECT min(df) AS m FROM hist),
        band AS (SELECT least(coalesce(b, m, $ShingleDfFloor),
                   greatest($ShingleDfFloor,
                     coalesce(q, $ShingleDfFloor))) AS bmax
                 FROM qt, bt, mn),
        bd AS (SELECT dfs.shingle FROM dfs, band WHERE df <= bmax),
        b AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN bd USING (shingle))"""

  private def sqlStopHits(set: Seq[String]): String = {
    val inList = set.map(w => s"'$w'").mkString(", ")
    s"len(list_filter(string_split(text, ' '), x -> x IN ($inList)))"
  }

  /** Shared CTE chain (shingles → affine minhash → band buckets) for the
    * q21 full run and q70's incremental restriction. */
  private val minhashCtes: String = minhashCtesFor("documents")

  /** [[minhashCtes]] over an arbitrary base relation. */
  private def minhashCtesFor(base: String): String = {
    val p = NearDup.MinHashP
    val sigCols = (0 until MinhashK)
      .map(i => s"min((h1 + $i * h2) % $p) AS s$i")
      .mkString(", ")
    val bands = (0 until LshBands).map { b =>
      val parts = (0 until LshRows).map(r => s"CAST(s${b * LshRows + r} AS VARCHAR)")
        .mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($parts) AS bucket FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH ${sqlShinglesFor(base)},
        hh AS (SELECT doc_id,
                 ('0x' || substr(md5(shingle), 1, 15))::BIGINT % $p AS h1,
                 ('0x' || substr(md5(shingle), 16, 15))::BIGINT % $p AS h2
               FROM sh),
        sig AS MATERIALIZED (SELECT doc_id, $sigCols FROM hh GROUP BY doc_id),
        bk AS MATERIALIZED ($bands)"""
  }

  private val minhashOracle: String =
    s"""$minhashCtes
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
          AND a.doc_id < b.doc_id
        ORDER BY doc_a ASC, doc_b ASC"""

  /** [[minhashOracle]] with the q163 bucket cap: buckets over the cap
    * contribute (anchor = min doc_id, member) star pairs only. */
  private val minhashCappedOracle: String =
    s"""$minhashCtes,
        stats AS (SELECT band, bucket, count(*) AS n, min(doc_id) AS anchor
                  FROM bk GROUP BY 1, 2),
        bt AS (SELECT bk.doc_id, bk.band, bk.bucket, s.n, s.anchor
               FROM bk JOIN stats s
                 ON bk.band = s.band AND bk.bucket = s.bucket),
        u AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bt a JOIN bt b
            ON a.band = b.band AND a.bucket = b.bucket
              AND a.doc_id < b.doc_id
          WHERE a.n <= $LshBucketCap
          UNION ALL
          SELECT anchor AS doc_a, doc_id AS doc_b FROM bt
          WHERE n > $LshBucketCap AND doc_id <> anchor)
        SELECT DISTINCT doc_a, doc_b FROM u
        ORDER BY doc_a ASC, doc_b ASC"""

  /** Oracle mirror of [[NearDup.simHashPairsCapped]] (q166): the q163
    * star reduction transplanted onto the simhash band table — small
    * buckets keep the exact all-pairs band join, over-cap buckets emit
    * (anchor = min doc_id, member) edges only, and EVERY arm keeps the
    * exact hamming verify (the anchor's fingerprint comes from fpt by
    * doc_id, exactly the struct-min the engine computes). Band count,
    * band width, cap and hamming threshold are all interpolated from
    * the shared constants. */
  private lazy val simhashCappedPairCtes: String =
    s"""stats AS (SELECT band, bv, count(*) AS n, min(doc_id) AS anchor
                  FROM bnd GROUP BY 1, 2),
        bt AS (SELECT b.doc_id, b.simhash, b.band, b.bv, s.n, s.anchor
               FROM bnd b JOIN stats s ON b.band = s.band AND b.bv = s.bv),
        u AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
          FROM bt a JOIN bt b
            ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
          WHERE a.n <= $SimHashBucketCap
            AND bit_count(xor(a.simhash, b.simhash)) <= $SimHashMaxHamming
          UNION ALL
          SELECT t.anchor AS doc_a, t.doc_id AS doc_b,
                 CAST(bit_count(xor(f.simhash, t.simhash)) AS BIGINT) AS hamming
          FROM bt t JOIN fpt f ON f.doc_id = t.anchor
          WHERE t.n > $SimHashBucketCap AND t.doc_id <> t.anchor
            AND bit_count(xor(f.simhash, t.simhash)) <= $SimHashMaxHamming)"""

  private lazy val simhashCappedOracle: String =
    s"""WITH $simhashCte,
        $simhashCappedPairCtes
        SELECT DISTINCT doc_a, doc_b, hamming FROM u
        ORDER BY doc_a ASC, doc_b ASC"""

  /** Shared prefix for the q170/q171 oracles: the capped pair set
    * ([[simhashCappedPairCtes]]) deduped and symmetrized into the
    * `edges` relation [[ccUnrolledCtes]] expects — the q58/q59 oracle
    * shape with the capped generator swapped in. */
  private lazy val cappedEdgeCtes: String =
    s"""$simhashCappedPairCtes,
        prs AS MATERIALIZED (SELECT DISTINCT doc_a, doc_b FROM u),
        edges AS MATERIALIZED (SELECT doc_a AS n, doc_b AS m FROM prs
                  UNION SELECT doc_b AS n, doc_a AS m FROM prs)"""

  /** Oracle CTE prefix for the q179/q180/q181 family: multi-table LSH
    * signature buckets (weight arrays interpolated LITERALLY from the
    * engine's splitmix family — [[Similarity.lshTableWeights]]), capped-
    * generator stats, and the two cap arms ending in `u(vec_a, vec_b,
    * cosine)`. The single-side n <= cap predicate prunes over-cap
    * buckets out of the pair arm BEFORE the join, so the oracle never
    * materializes a flooded bucket's m² candidates. */
  /** The LSH band/cap/verify CTE body (b, st, bt, u) over an arbitrary
    * `(vec_id, v)` source CTE — parameterized so the q214 composition
    * can run the IDENTICAL generator over the pruned sub-corpus (its
    * bucket stats and caps are the sub-corpus's own, exactly like the
    * engine's re-run on the kept set). */
  private def embLshPairCtesOver(src: String): String = {
    val w = Similarity.lshTableWeights(EmbLshTables, EmbLshPlanes, EmbeddingDim)
    val arms = (0 until EmbLshTables).map { t =>
      val sig = (0 until EmbLshPlanes).map { p =>
        val arr = w(t)(p).mkString("[", ", ", "]")
        s"CASE WHEN list_dot_product(v, CAST($arr AS DOUBLE[])) > 0 THEN ${1L << p} ELSE 0 END"
      }.mkString(" + ")
      s"SELECT vec_id, v, $t AS tbl, CAST($sig AS BIGINT) AS bucket FROM $src"
    }.mkString("\n            UNION ALL ")
    s"""b AS MATERIALIZED ($arms),
        st AS (SELECT tbl, bucket, count(*) AS n, min(vec_id) AS anchor
               FROM b GROUP BY 1, 2),
        bt AS (SELECT b.vec_id, b.v, b.tbl, b.bucket, st.n, st.anchor
               FROM b JOIN st ON b.tbl = st.tbl AND b.bucket = st.bucket),
        u AS (
          SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
                 ${sqlCos("a.v", "c.v")} AS cosine
          FROM bt a JOIN bt c
            ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id < c.vec_id
          WHERE a.n <= $EmbLshBucketCap
            AND ${sqlCos("a.v", "c.v")} >= $EmbNearDupMinCosine
          UNION ALL
          SELECT t.anchor AS vec_a, t.vec_id AS vec_b,
                 ${sqlCos("f.v", "t.v")} AS cosine
          FROM bt t JOIN $src f ON f.vec_id = t.anchor
          WHERE t.n > $EmbLshBucketCap AND t.vec_id <> t.anchor
            AND ${sqlCos("f.v", "t.v")} >= $EmbNearDupMinCosine)"""
  }

  private lazy val embLshPairCtes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        ${embLshPairCtesOver("e")}"""

  /** q179's pair set symmetrized into the `edges(n, m)` relation
    * [[ccUnrolledCtes]] expects — the embedding-space twin of
    * [[cappedEdgeCtes]], shared by the q180/q181 oracles. */
  private lazy val embLshEdgeCtes: String =
    s"""$embLshPairCtes,
        prs AS MATERIALIZED (SELECT DISTINCT vec_a AS doc_a, vec_b AS doc_b FROM u),
        edges AS MATERIALIZED (SELECT doc_a AS n, doc_b AS m FROM prs
                  UNION SELECT doc_b AS n, doc_a AS m FROM prs)"""

  /** The two pair-table prefixes the graph-analytics oracles swap
    * between — each ends by defining `prs(a, b)` with a < b canonical
    * (the capped generator's star arm emits (anchor = bucket-min,
    * member), so a < b holds there by construction too). The five
    * oracle bodies (triangles / clustering / k-core / LPA / PageRank)
    * are written once against `prs` and instantiated for both edge
    * generators, so the capped q172–q176 family provably runs the
    * IDENTICAL recurrence as the uncapped q96/q119/q150/q123/q101 —
    * only the pair generator differs. */
  private lazy val uncappedPrsCte: String =
    s"""prs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
                  FROM bnd a JOIN bnd b
                    ON a.band = b.band AND a.bv = b.bv
                      AND a.doc_id < b.doc_id
                  WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimHashMaxHamming)"""

  private lazy val cappedPrsCte: String =
    s"""$simhashCappedPairCtes,
        prs AS MATERIALIZED (SELECT DISTINCT doc_a AS a, doc_b AS b FROM u)"""

  /** q96-shaped triangle-participation oracle over `prs`. */
  private def triangleOracle(prsCte: String): String =
    s"""WITH $simhashCte,
        $prsCte,
        tri AS (SELECT e1.a AS x, e1.m AS y, e2.c AS z
                FROM (SELECT a, b AS m FROM prs) e1
                JOIN (SELECT a AS m, b AS c FROM prs) e2 USING (m)
                WHERE EXISTS (SELECT 1 FROM prs e3
                              WHERE e3.a = e1.a AND e3.b = e2.c)),
        nodes AS (SELECT unnest([x, y, z]) AS doc_id FROM tri)
        SELECT doc_id, count(*) AS n_triangles
        FROM nodes GROUP BY doc_id ORDER BY doc_id ASC"""

  /** q119-shaped clustering-coefficient oracle over `prs`. */
  private def clusteringOracle(prsCte: String): String =
    s"""WITH $simhashCte,
        $prsCte,
        deg AS (SELECT node, count(*) AS degree FROM
                  (SELECT unnest([a, b]) AS node FROM prs)
                GROUP BY node),
        tri AS (SELECT e1.a AS x, e1.m AS y, e2.c AS z
                FROM (SELECT a, b AS m FROM prs) e1
                JOIN (SELECT a AS m, b AS c FROM prs) e2 USING (m)
                WHERE EXISTS (SELECT 1 FROM prs e3
                              WHERE e3.a = e1.a AND e3.b = e2.c)),
        tc AS (SELECT doc_id, count(*) AS n_triangles FROM
                 (SELECT unnest([x, y, z]) AS doc_id FROM tri)
               GROUP BY doc_id)
        SELECT deg.node AS doc_id, deg.degree,
               coalesce(tc.n_triangles, 0) AS n_triangles,
               CASE WHEN deg.degree >= 2
                    THEN round(CAST(2 * coalesce(tc.n_triangles, 0) AS DOUBLE)
                               / CAST(deg.degree * (deg.degree - 1) AS DOUBLE), 6)
                    ELSE 0.0 END AS clustering
        FROM deg LEFT JOIN tc ON tc.doc_id = deg.node
        ORDER BY doc_id ASC"""

  /** q150-shaped 2-core oracle over `prs` (4 unrolled peels; every
    * round CTE MATERIALIZED — DuckDB inlines plain CTEs and each round
    * is referenced several times). */
  private def kcoreOracle(prsCte: String): String = {
    val rounds = (1 to 4).map { r =>
      s"""d$r AS MATERIALIZED (SELECT node, count(*) AS deg
                FROM (SELECT a AS node FROM e${r - 1}
                      UNION ALL SELECT b AS node FROM e${r - 1})
                GROUP BY 1),
        e$r AS MATERIALIZED (SELECT a, b FROM e${r - 1}
              WHERE a IN (SELECT node FROM d$r WHERE deg >= 2)
                AND b IN (SELECT node FROM d$r WHERE deg >= 2))"""
    }.mkString(",\n          ")
    s"""WITH $simhashCte,
        $prsCte,
        e0 AS (SELECT a, b FROM prs),
        $rounds
        SELECT node AS doc_id, count(*) AS core_degree
        FROM (SELECT a AS node FROM e4 UNION ALL SELECT b AS node FROM e4)
        GROUP BY 1 ORDER BY doc_id ASC"""
  }

  /** Oracle mirror of [[NearDup.simHash64PairsCapped]] (q167) — the
    * 64-bit sibling of [[simhashCappedOracle]] over bnd64/fpt64, the
    * hamming summed across both 32-bit halves. */
  private lazy val simhash64CappedOracle: String = {
    def ham(a: String, b: String) =
      s"bit_count(xor($a.fp_hi, $b.fp_hi)) + bit_count(xor($a.fp_lo, $b.fp_lo))"
    s"""WITH $simhash64Cte,
        stats AS (SELECT band, bv, count(*) AS n, min(doc_id) AS anchor
                  FROM bnd64 GROUP BY 1, 2),
        bt AS (SELECT b.doc_id, b.fp_hi, b.fp_lo, b.band, b.bv, s.n, s.anchor
               FROM bnd64 b JOIN stats s ON b.band = s.band AND b.bv = s.bv),
        u AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(${ham("a", "b")} AS BIGINT) AS hamming
          FROM bt a JOIN bt b
            ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
          WHERE a.n <= $SimHashBucketCap
            AND ${ham("a", "b")} <= $SimHashMaxHamming
          UNION ALL
          SELECT t.anchor AS doc_a, t.doc_id AS doc_b,
                 CAST(${ham("f", "t")} AS BIGINT) AS hamming
          FROM bt t JOIN fpt64 f ON f.doc_id = t.anchor
          WHERE t.n > $SimHashBucketCap AND t.doc_id <> t.anchor
            AND ${ham("f", "t")} <= $SimHashMaxHamming)
        SELECT DISTINCT doc_a, doc_b, hamming FROM u
        ORDER BY doc_a ASC, doc_b ASC"""
  }

  /** Oracle mirror of [[NearDup.incrementalCandidatesCapped]] (q168):
    * all four arms of the two-sided cap — batch × small-corpus-bucket
    * exact, batch × big-corpus-bucket through the corpus anchor, batch-
    * internal exact under the cap, batch-internal star over it.
    * Signatures are per-doc, so restricting the full bucket CTE by
    * doc_id reproduces bucketing corpus and batch separately. */
  private val incrementalCappedOracle: String =
    s"""$minhashCtes,
        cb AS (SELECT * FROM bk WHERE doc_id < $IncrementalSplit),
        bb AS (SELECT * FROM bk WHERE doc_id >= $IncrementalSplit),
        cs AS (SELECT band, bucket, count(*) AS nc, min(doc_id) AS ac
               FROM cb GROUP BY 1, 2),
        bs AS (SELECT band, bucket, count(*) AS nb, min(doc_id) AS ab
               FROM bb GROUP BY 1, 2),
        u AS (
          SELECT least(n.doc_id, c.doc_id) AS doc_a,
                 greatest(n.doc_id, c.doc_id) AS doc_b
          FROM bb n
          JOIN cb c ON n.band = c.band AND n.bucket = c.bucket
          JOIN cs ON cs.band = c.band AND cs.bucket = c.bucket
          WHERE cs.nc <= $LshBucketCap AND n.doc_id <> c.doc_id
          UNION ALL
          SELECT least(n.doc_id, cs.ac) AS doc_a,
                 greatest(n.doc_id, cs.ac) AS doc_b
          FROM bb n JOIN cs ON cs.band = n.band AND cs.bucket = n.bucket
          WHERE cs.nc > $LshBucketCap AND n.doc_id <> cs.ac
          UNION ALL
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bb a
          JOIN bb b ON a.band = b.band AND a.bucket = b.bucket
            AND a.doc_id < b.doc_id
          JOIN bs ON bs.band = a.band AND bs.bucket = a.bucket
          WHERE bs.nb <= $LshBucketCap
          UNION ALL
          SELECT bs.ab AS doc_a, bb.doc_id AS doc_b
          FROM bb JOIN bs ON bs.band = bb.band AND bs.bucket = bb.bucket
          WHERE bs.nb > $LshBucketCap AND bb.doc_id <> bs.ab)
        SELECT DISTINCT doc_a, doc_b FROM u
        ORDER BY doc_a ASC, doc_b ASC"""

  /** Unrolled hook+jump min-label connected components in portable SQL.
    *
    * The first-cut oracle for q58/q59/q127 used `WITH RECURSIVE
    * reach(n, lbl)` — the full transitive closure, Θ(Σ |component|²)
    * rows. Fine at the driver's sf0.01 gate (components of a few docs),
    * hopeless at the sf1 scale proof: the 48k-node near-dup component
    * makes reach ~2.3e9 rows and DuckDB grinds for hours. This emits the
    * ENGINE's own algorithm instead (min-label hook + pointer jump,
    * [[graft.operators.Graph]]): per round, every node takes the min
    * label over itself and its neighbors (hook), then chases its label's
    * label (jump) — O(rounds · |E|) total, converging in O(log diameter)
    * rounds. The round count is FIXED (unrolled MATERIALIZED CTEs, the
    * q150 k-core idiom); an under-provisioned count fails the hash gate
    * LOUDLY (the engine side iterates to true convergence), it can never
    * silently agree. 16 rounds covers diameter ≥ ~2000; near-dup pair
    * graphs have single-digit diameters.
    *
    * Expects `edges(n, m)` (directed both ways) in scope; emits CTEs
    * ending in `clusters(n, cluster_id)`. */
  private def ccUnrolledCtes(rounds: Int = 16): String = {
    val l0 =
      s"""l0 AS MATERIALIZED (
            SELECT x.n, min(x.lbl) AS lbl FROM (
              SELECT n, n AS lbl FROM edges
              UNION ALL
              SELECT n, m AS lbl FROM edges) x GROUP BY x.n)"""
    val body = (1 to rounds).map { i =>
      s"""h$i AS MATERIALIZED (
            SELECT x.n, min(x.lbl) AS lbl FROM (
              SELECT n, lbl FROM l${i - 1}
              UNION ALL
              SELECT e.n AS n, l.lbl FROM edges e JOIN l${i - 1} l ON l.n = e.m) x
            GROUP BY x.n),
          l$i AS MATERIALIZED (
            SELECT h.n, least(h.lbl, h2.lbl) AS lbl
            FROM h$i h JOIN h$i h2 ON h2.n = h.lbl)"""
    }.mkString(",\n")
    s"""$l0,
        $body,
        clusters AS (SELECT n, lbl AS cluster_id FROM l$rounds)"""
  }

  /** Unrolled BPE training rounds in portable SQL — the oracle mirror
    * of [[graft.operators.Bpe]]. Round i reads s{i-1}(doc_id, toks) and
    * emits t$i (the argmax pair under the pinned (n DESC, lhs, rhs)
    * order) and s$i (the greedily merged sequences): match flags from
    * positional adjacency, overlap chains via the (pos − running match
    * count) group id, merge-every-other via parity against the chain
    * start, consumed tokens via lag — the identical window arithmetic
    * the engine runs, so both sides implement the same left-to-right
    * non-overlapping greedy semantics. t$i/s$i are MATERIALIZED: each
    * is read by several downstream CTEs and DuckDB inlines plain CTEs.
    */
  private def bpeRoundCtes(rounds: Int): String =
    (1 to rounds).map { i =>
      s"""p$i AS (SELECT doc_id, pos, toks[pos] AS tok, toks[pos + 1] AS nxt
                  FROM (SELECT doc_id, toks,
                               unnest(range(1, len(toks) + 1)) AS pos
                        FROM s${i - 1})),
          t$i AS MATERIALIZED (
            SELECT tok AS lhs, nxt AS rhs, count(*) AS n FROM p$i
            WHERE nxt IS NOT NULL GROUP BY 1, 2
            ORDER BY n DESC, lhs ASC, rhs ASC LIMIT 1),
          g$i AS (SELECT doc_id, pos, tok, nxt,
                    CASE WHEN tok = (SELECT lhs FROM t$i)
                          AND nxt = (SELECT rhs FROM t$i)
                         THEN 1 ELSE 0 END AS m
                  FROM p$i),
          h$i AS (SELECT *, pos - sum(m) OVER (
                      PARTITION BY doc_id ORDER BY pos) AS grp FROM g$i),
          k$i AS (SELECT *, CASE WHEN m = 1
                         AND (pos - min(CASE WHEN m = 1 THEN pos END)
                              OVER (PARTITION BY doc_id, grp)) % 2 = 0
                       THEN TRUE ELSE FALSE END AS ms FROM h$i),
          o$i AS (SELECT doc_id, pos, ms, tok, nxt,
                    coalesce(lag(ms) OVER (PARTITION BY doc_id ORDER BY pos),
                             FALSE) AS consumed FROM k$i),
          s$i AS MATERIALIZED (
            SELECT doc_id, list(CASE WHEN ms THEN tok || nxt ELSE tok END
                                ORDER BY pos) AS toks
            FROM o$i WHERE NOT consumed GROUP BY doc_id)"""
    }.mkString(",\n")

  /** Shared CTE prefix computing the per-doc 32-bit simhash. */
  private val simhashCte: String = {
    val bits = NearDup.SimHashBits
    val nibs = (1 to bits / 4)
      .map(j => s"strpos('0123456789abcdef', substr(h, $j, 1)) - 1 AS nib$j")
      .mkString(", ")
    val sums = (0 until bits).map { b =>
      s"sum(CASE WHEN (nib${b / 4 + 1} >> ${b % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS b$b"
    }.mkString(", ")
    val fp = (0 until bits)
      .map(b => s"CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    // bnd mirrors the ENGINE's pigeonhole banding (NearDup.simHashPairs:
    // SimHashBands bands of bits/bands bits — band count and width both
    // interpolated from the NearDup constants, so a banding change on
    // the engine side regenerates the oracle identically; any pair
    // within Hamming < bands agrees on ≥ 1 whole band). Consumers join
    // bnd to itself on (band, bv) instead of the n²
    // `fpt a JOIN fpt b ON a.doc_id < b.doc_id` inequality join —
    // which DuckDB plans as an IEJoin materializing every one of the
    // n²/2 pairs BEFORE the hamming filter (sf1: 1.25e9 rows, tens of
    // GB of spill). Unreferenced plain CTEs cost nothing, so bnd rides
    // along wherever only fpt is consumed.
    val bands = NearDup.SimHashBands
    val bandBits = bits / bands
    val bandMask = (1L << bandBits) - 1
    s"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
        h AS (SELECT doc_id, md5(tk) AS h FROM tok),
        nib AS (SELECT doc_id, $nibs FROM h),
        sums AS (SELECT doc_id, $sums FROM nib GROUP BY doc_id),
        fpt AS MATERIALIZED (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM sums),
        bnd AS MATERIALIZED (SELECT doc_id, simhash, band,
                       (simhash >> (band * $bandBits)) & $bandMask AS bv
                FROM fpt, (SELECT unnest(range(0, $bands)) AS band) bands_t)"""
  }


  private val langIdOracle: String = {
    val langs = TextAnalysis.stopwords.keys.toSeq.sorted
    val hitCols = langs
      .map(l => s"${sqlStopHits(TextAnalysis.stopwords(l))} AS hits_$l")
      .mkString(", ")
    val g = langs.map(l => s"hits_$l").mkString("greatest(", ", ", ")")
    val cases = langs
      .map(l => s"WHEN hits_$l = g AND g > 0 THEN '$l'").mkString(" ")
    s"""WITH sc AS (SELECT doc_id, lang, $hitCols FROM documents),
        p AS (SELECT lang, CASE $cases ELSE 'und' END AS pred_lang
              FROM (SELECT *, $g AS g FROM sc))
        SELECT lang, pred_lang, count(*) AS n_docs
        FROM p GROUP BY lang, pred_lang ORDER BY lang ASC, pred_lang ASC"""
  }

  // ------------------------------------------------------------- contract

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full star join + broadcast dims + exact decimal revenue rollup. */
  def entry(spark: SparkSession): DataFrame =
    q11(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_avg_value_by_user" -> (q01 _),
    "q02_equal_weight_by_day" -> (q02 _),
    "q03_speed_consistency" -> (q03 _),
    "q04_day_normalized" -> (q04 _),
    "q05_pareto_rank" -> (q05 _),
    "q06_slope_by_user_type" -> (q06 _),
    "q07_slope_price_qty" -> (q07 _),
    "q08_dup_keys" -> (q08 _),
    "q09_dedup_latest" -> (q09 _),
    "q10_integrity_events" -> (q10 _),
    "q11_star_revenue" -> (q11 _),
    "q12_semi_join" -> (q12 _),
    "q13_anti_join" -> (q13 _),
    "q14_topk_orders" -> (q14 _),
    "q15_window_running" -> (q15 _),
    "q16_set_ops" -> (q16 _),
    "q17_hourly_window" -> (q17 _),
    "q18_text_stats" -> (q18 _),
    "q19_lang_source_stats" -> (q19 _),
    "q20_exact_dedup" -> (q20 _),
    "q21_minhash_lsh" -> (q21 _),
    "q22_simhash" -> (q22 _),
    "q23_simhash_pairs" -> (q23 _),
    "q24_ngram_jaccard" -> (q24 _),
    "q25_knn_cosine" -> (q25 _),
    "q26_embedding_norms" -> (q26 _),
    "q27_lang_id_confusion" -> (q27 _),
    "q28_fingerprints" -> (q28 _),
    "q29_multimodal_stub" -> (q29 _),
    "q30_stream_hourly" -> (q30 _),
    "q31_knn_lsh_bucketed" -> (q31 _),
    "q32_clean_filter_chain" -> (q32 _),
    "q33_slope_aggregator" -> (q33 _),
    "q34_asof_join" -> (q34 _),
    "q35_quantiles" -> (q35 _),
    "q36_approx_sketches" -> (q36 _),
    "q37_sessionization" -> (q37 _),
    "q38_integrity_lineitem" -> (q38 _),
    "q39_rollup_revenue" -> (q39 _),
    "q40_pivot_by_type" -> (q40 _),
    "q41_label_centroids" -> (q41 _),
    "q42_json_extract" -> (q42 _),
    "q43_knn_ivf" -> (q43 _),
    "q44_kmeans_centroids" -> (q44 _),
    "q45_embedding_near_dup" -> (q45 _),
    "q46_token_counting" -> (q46 _),
    "q47_range_join" -> (q47 _),
    "q48_bloom_semi_join" -> (q48 _),
    "q49_topk_per_group" -> (q49 _),
    "q50_simhash64_pairs" -> (q50 _),
    "q51_repetition_ratio" -> (q51 _),
    "q52_cube_quantity" -> (q52 _),
    "q53_frame_sampling" -> (q53 _),
    "q54_mixture_sampling" -> (q54 _),
    "q55_text_normalize" -> (q55 _),
    "q56_sliding_window" -> (q56 _),
    "q57_asof_forward" -> (q57 _),
    "q58_dedup_clusters" -> (q58 _),
    "q59_dedup_survivors" -> (q59 _),
    "q60_idf_terms" -> (q60 _),
    "q61_ntile_quartiles" -> (q61 _),
    "q62_grouping_sets" -> (q62 _),
    "q63_range_frame" -> (q63 _),
    "q64_histogram" -> (q64 _),
    "q65_winsorized" -> (q65 _),
    "q66_asof_nearest" -> (q66 _),
    "q67_rank_family" -> (q67 _),
    "q68_upsample" -> (q68 _),
    "q69_curation" -> (q69 _),
    "q70_incremental_dedup" -> (q70 _),
    "q71_column_profile" -> (q71 _),
    "q72_unpivot" -> (q72 _),
    "q73_dynamic_pivot" -> (q73 _),
    "q74_map_agg" -> (q74 _),
    "q75_pagination" -> (q75 _),
    "q76_heavy_hitters" -> (q76 _),
    "q77_grouping_markers" -> (q77 _),
    "q78_slope_summary" -> (q78 _),
    "q79_subquery_scalar" -> (q79 _),
    "q80_subquery_exists" -> (q80 _),
    "q81_multiset_ops" -> (q81 _),
    "q82_gap_fill" -> (q82 _),
    "q83_share_of_total" -> (q83 _),
    "q84_bm25_topk" -> (q84 _),
    "q85_doc_chunking" -> (q85 _),
    "q86_redaction" -> (q86 _),
    "q87_salted_join" -> (q87 _),
    "q88_stratified_sample" -> (q88 _),
    "q89_fuzzy_pairs" -> (q89 _),
    "q90_funnel" -> (q90 _),
    "q91_cohort_retention" -> (q91 _),
    "q92_exact_corr" -> (q92 _),
    "q93_null_safe_join" -> (q93 _),
    "q94_debounce" -> (q94 _),
    "q95_wow_change" -> (q95 _),
    "q96_triangles" -> (q96 _),
    "q97_decontamination" -> (q97 _),
    "q98_seq_packing" -> (q98 _),
    "q99_bpe_pairs" -> (q99 _),
    "q100_cooccur_lift" -> (q100 _),
    "q101_pagerank" -> (q101 _),
    "q102_line_fit" -> (q102 _),
    "q103_token_gini" -> (q103 _),
    "q104_vocab_jaccard" -> (q104 _),
    "q105_ks_drift" -> (q105 _),
    "q106_scd2_intervals" -> (q106 _),
    "q107_interval_merge" -> (q107 _),
    "q108_skyline" -> (q108 _),
    "q109_tfidf_pairs" -> (q109 _),
    "q110_unigram_logprob" -> (q110 _),
    "q111_kmv_distinct" -> (q111 _),
    "q112_golden_record" -> (q112 _),
    "q113_anomaly_zscore" -> (q113 _),
    "q114_session_paths" -> (q114 _),
    "q115_snapshot_diff" -> (q115 _),
    "q116_quantize_audit" -> (q116 _),
    "q117_attribution" -> (q117 _),
    "q118_containment" -> (q118 _),
    "q119_clustering_coeff" -> (q119 _),
    "q120_weighted_select" -> (q120 _),
    "q121_residual_outliers" -> (q121 _),
    "q122_skew_audit" -> (q122 _),
    "q123_lpa_communities" -> (q123 _),
    "q124_pattern_audit" -> (q124 _),
    "q125_ecdf" -> (q125 _),
    "q126_zipf_fit" -> (q126 _),
    "q127_cluster_report" -> (q127 _),
    "q128_mode_per_group" -> (q128 _),
    "q129_ewma" -> (q129 _),
    "q130_minhash_audit" -> (q130 _),
    "q131_stream_dedup" -> (q131 _),
    "q132_stream_user_stats" -> (q132 _),
    "q133_higher_moments" -> (q133 _),
    "q134_distribution_position" -> (q134 _),
    "q135_exact_regime_quantiles" -> (q135 _),
    "q136_segment_dedup" -> (q136 _),
    "q137_weighted_median" -> (q137 _),
    "q138_ordered_string_agg" -> (q138 _),
    "q139_bitwise_aggs" -> (q139 _),
    "q140_date_spine" -> (q140 _),
    "q141_chi_square_cells" -> (q141 _),
    "q142_benford" -> (q142 _),
    "q143_mad_outliers" -> (q143 _),
    "q144_linear_interp" -> (q144 _),
    "q145_rolling_corr" -> (q145 _),
    "q146_token_entropy" -> (q146 _),
    "q147_welch_t" -> (q147 _),
    "q148_count_min" -> (q148 _),
    "q149_value_trajectory" -> (q149 _),
    "q150_kcore" -> (q150 _),
    "q151_percentile_bridge" -> (q151 _),
    "q152_hhi" -> (q152 _),
    "q153_sorted_neighborhood" -> (q153 _),
    "q154_psi" -> (q154 _),
    "q155_wilson_interval" -> (q155 _),
    "q156_acf" -> (q156 _),
    "q157_cusum" -> (q157 _),
    "q158_null_semantics" -> (q158 _),
    "q159_string_surface" -> (q159 _),
    "q160_datetime_surface" -> (q160 _),
    "q161_sql_surface" -> (q161 _),
    "q162_fk_audit" -> (q162 _),
    "q163_lsh_capped" -> (q163 _),
    "q164_bpe_merges" -> (q164 _),
    "q165_bpe_compress" -> (q165 _),
    "q166_simhash_capped" -> (q166 _),
    "q167_simhash64_capped" -> (q167 _),
    "q168_incremental_capped" -> (q168 _),
    "q169_image_decode" -> (q169 _),
    "q170_capped_clusters" -> (q170 _),
    "q171_capped_survivors" -> (q171 _),
    "q172_capped_triangles" -> (q172 _),
    "q173_capped_clustering" -> (q173 _),
    "q174_capped_kcore" -> (q174 _),
    "q175_capped_lpa" -> (q175 _),
    "q176_capped_pagerank" -> (q176 _),
    "q177_bpe_sampled" -> (q177 _),
    "q178_stream_online_neardup" -> (q178 _),
    "q179_embedding_neardup_lsh" -> (q179 _),
    "q180_semantic_clusters" -> (q180 _),
    "q181_semantic_survivors" -> (q181 _),
    "q182_hybrid_rrf" -> (q182 _),
    "q183_leakfree_split" -> (q183 _),
    "q184_dsir_importance" -> (q184 _),
    "q185_token_budget" -> (q185 _),
    "q186_embedding_dispersion" -> (q186 _),
    "q187_containment_matrix" -> (q187 _),
    "q188_dedup_generator_audit" -> (q188 _),
    "q189_stream_mixture" -> (q189 _),
    "q190_stream_dsir" -> (q190 _),
    "q191_generator_audit_sampled" -> (q191 _),
    "q192_train_manifest" -> (q192 _),
    "q193_shingle_df_profile" -> (q193 _),
    "q194_containment_topk" -> (q194 _),
    "q195_nb_source_confusion" -> (q195 _),
    "q196_perplexity_buckets" -> (q196 _),
    "q197_dup_span_fraction" -> (q197 _),
    "q198_image_phash" -> (q198 _),
    "q199_phash_class_pairs" -> (q199 _),
    "q200_quality_scorecard" -> (q200 _),
    "q201_phash_class_pairs_capped" -> (q201 _),
    "q202_phash_resampled" -> (q202 _),
    "q203_resampled_class_pairs" -> (q203 _),
    "q204_dedup_spans" -> (q204 _),
    "q205_prototype_pruning" -> (q205 _),
    "q206_audio_windows" -> (q206 _),
    "q207_audio_class_pairs" -> (q207 _),
    "q208_stream_quality_gate" -> (q208 _),
    "q209_multimodal_record" -> (q209 _),
    "q210_temperature_mix" -> (q210 _),
    "q211_balanced_shards" -> (q211 _),
    "q212_dup_span_intervals" -> (q212 _),
    "q213_dedup_spans_minlen" -> (q213 _),
    "q214_prune_semdedup" -> (q214 _),
    "q215_signal_saturation" -> (q215 _),
    "q216_audio_multiband_fp" -> (q216 _),
    "q217_audio_multiband_pairs" -> (q217 _),
    "q218_incremental_manifest" -> (q218 _),
    "q219_keyset_page" -> (q219 _),
    "q220_stream_audio_neardup" -> (q220 _),
    "q221_inc_multimodal_cc" -> (q221 _),
    "q222_audio_wide_fp" -> (q222 _),
    "q223_audio_wide_pairs" -> (q223 _),
    "q224_chained_manifest" -> (q224 _))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = Map(
    "q01_avg_value_by_user" ->
      s"""SELECT user_id, count(*) AS n_events,
                 floor(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       / count(*) * 1000000 + 0.5) / 1000000 AS avg_value
          FROM events WHERE $sqlClean
          GROUP BY user_id
          ORDER BY avg_value ASC, user_id ASC""",
    "q02_equal_weight_by_day" ->
      s"""WITH per_day AS (
            SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
                   floor(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                         / count(value) * 1000000 + 0.5) / 1000000 AS group_avg
            FROM events WHERE $sqlClean GROUP BY 1, 2)
          SELECT user_id, count(*) AS n_days,
                 floor(CAST(sum(CAST(group_avg AS DECIMAL(18,6))) AS DOUBLE)
                       / count(*) * 1000000 + 0.5) / 1000000 AS avg_value_eq
          FROM per_day GROUP BY user_id ORDER BY user_id ASC""",
    "q03_speed_consistency" ->
      s"""WITH g AS (
            SELECT user_id, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
                   CAST(sum(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS q
            FROM events WHERE $sqlClean
            GROUP BY user_id HAVING count(*) >= 30)
          SELECT user_id, n AS n_events,
                 floor(s / n * 1000000 + 0.5) / 1000000 AS avg_value,
                 floor(sqrt(greatest(0.0, q / n - (s / n) * (s / n)))
                       * 1000000 + 0.5) / 1000000 AS stddev_value
          FROM g
          ORDER BY avg_value ASC, user_id ASC""",
    "q04_day_normalized" ->
      s"""WITH per_day AS (
            SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
                   count(value) AS n_in_group,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
                   CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS sx2
            FROM events WHERE $sqlClean GROUP BY 1, 2 HAVING count(*) >= 3),
          st AS (
            SELECT user_id,
                   floor(sx / n_in_group * 1000000 + 0.5) / 1000000 AS group_avg,
                   floor(sqrt(greatest(0.0, sx2 / n_in_group
                         - pow(sx / n_in_group, 2))) * 1000000 + 0.5) / 1000000
                     AS group_stddev
            FROM per_day)
          SELECT user_id, count(*) AS n_days,
                 floor(CAST(sum(CAST(group_avg AS DECIMAL(18,6))) AS DOUBLE)
                       / count(*) * 1000000 + 0.5) / 1000000 AS avg_value_norm,
                 floor(CAST(sum(CAST(group_stddev AS DECIMAL(18,6))) AS DOUBLE)
                       / count(*) * 1000000 + 0.5) / 1000000 AS stddev_norm
          FROM st GROUP BY user_id HAVING count(*) >= 5
          ORDER BY user_id ASC""",
    "q05_pareto_rank" ->
      s"""WITH g AS (
            SELECT user_id, count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
                   CAST(sum(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS q
            FROM events WHERE $sqlClean
            GROUP BY user_id HAVING count(*) >= 30),
          stats AS (
            SELECT user_id, n AS n_events,
                   floor(s / n * 1000000 + 0.5) / 1000000 AS avg_value,
                   floor(sqrt(greatest(0.0, q / n - (s / n) * (s / n)))
                         * 1000000 + 0.5) / 1000000 AS stddev_value
            FROM g),
          ranked AS (
            SELECT user_id, n_events, avg_value, stddev_value,
                   dense_rank() OVER (ORDER BY avg_value ASC) AS rank_speed,
                   dense_rank() OVER (ORDER BY stddev_value ASC) AS rank_consistency
            FROM stats)
          SELECT user_id, n_events, avg_value, stddev_value,
                 rank_speed, rank_consistency,
                 rank_speed + rank_consistency AS rank_sum
          FROM ranked
          ORDER BY rank_sum ASC, avg_value ASC, stddev_value ASC, user_id ASC
          LIMIT 15""",
    "q06_slope_by_user_type" ->
      s"""WITH base AS (
            SELECT user_id, event_type, value,
                   CAST(row_number() OVER (
                     PARTITION BY user_id, event_type ORDER BY event_id ASC) AS DOUBLE) AS x
            FROM events WHERE $sqlClean),
          m AS (
            SELECT user_id, event_type, count(*) AS n_obs,
                   avg(x) AS x_mean, avg(value) AS y_mean,
                   avg(x * value) AS xy_mean, avg(x * x) AS xx_mean,
                   min(x) AS min_x, max(x) AS max_x
            FROM base GROUP BY 1, 2 HAVING count(*) >= 8)
          SELECT user_id, event_type, n_obs, min_x, max_x,
                 round(CASE WHEN xx_mean - x_mean * x_mean = 0 THEN NULL
                       ELSE (xy_mean - x_mean * y_mean) / (xx_mean - x_mean * x_mean)
                       END, 6) AS slope
          FROM m ORDER BY user_id ASC, event_type ASC""",
    "q07_slope_price_qty" ->
      s"""SELECT l_suppkey, l_returnflag, count(*) AS n_obs,
                 round(CASE WHEN var_pop(l_quantity) = 0 THEN NULL
                       ELSE covar_pop(l_quantity, l_extendedprice) / var_pop(l_quantity)
                       END, 6) AS slope
          FROM lineitem
          GROUP BY l_suppkey, l_returnflag HAVING count(*) >= 8
          ORDER BY l_suppkey ASC, l_returnflag ASC""",
    "q08_dup_keys" ->
      s"""SELECT count(*) AS dup_key_count FROM (
            SELECT user_id, event_type, value FROM events
            GROUP BY 1, 2, 3 HAVING count(*) > 1)""",
    "q09_dedup_latest" ->
      s"""SELECT user_id, event_type, round(value, 6) AS last_value,
                 event_id AS last_event_id
          FROM (SELECT *, row_number() OVER (
                  PARTITION BY user_id, event_type ORDER BY event_id DESC) AS rn
                FROM events)
          WHERE rn = 1 ORDER BY user_id ASC, event_type ASC""",
    "q10_integrity_events" ->
      s"""SELECT count(*) AS n_rows,
                 count(DISTINCT user_id) AS n_distinct_user_id,
                 count(DISTINCT event_type) AS n_distinct_event_type,
                 count(CASE WHEN value IS NULL OR isnan(value) THEN 1 END) AS n_missing_value
          FROM events""",
    "q11_star_revenue" ->
      s"""SELECT r_name, n_name, count(*) AS n_items,
                 CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY r_name, n_name
          ORDER BY r_name ASC, n_name ASC""",
    "q12_semi_join" ->
      s"""SELECT s_suppkey, s_name FROM supplier
          WHERE EXISTS (SELECT 1 FROM lineitem
                        WHERE l_suppkey = s_suppkey AND l_quantity >= 45)
          ORDER BY s_suppkey ASC""",
    "q13_anti_join" ->
      s"""SELECT c_custkey, c_name FROM customer
          WHERE NOT EXISTS (SELECT 1 FROM orders
                            WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
          ORDER BY c_custkey ASC""",
    "q14_topk_orders" ->
      s"""WITH top AS (
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20)
          SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
          FROM top ORDER BY round(o_totalprice, 2) DESC, o_orderkey ASC""",
    "q15_window_running" ->
      s"""SELECT l_suppkey, l_orderkey, l_linenumber,
                 row_number() OVER (PARTITION BY l_suppkey
                   ORDER BY l_orderkey ASC, l_linenumber ASC, l_partkey ASC,
                            l_quantity ASC, l_extendedprice ASC) AS rn,
                 lag(l_quantity, 1) OVER (PARTITION BY l_suppkey
                   ORDER BY l_orderkey ASC, l_linenumber ASC, l_partkey ASC,
                            l_quantity ASC, l_extendedprice ASC) AS lag_qty,
                 sum(l_quantity) OVER (PARTITION BY l_suppkey
                   ORDER BY l_orderkey ASC, l_linenumber ASC, l_partkey ASC,
                            l_quantity ASC, l_extendedprice ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_qty
          FROM lineitem
          ORDER BY l_suppkey ASC, l_orderkey ASC, l_linenumber ASC,
                   l_partkey ASC, l_quantity ASC, l_extendedprice ASC""",
    "q16_set_ops" ->
      s"""SELECT DISTINCT user_id FROM events
          WHERE event_type = 'purchase' AND value > 150
          UNION
          SELECT user_id FROM events WHERE event_type = 'signup' AND value > 150
          EXCEPT
          SELECT user_id FROM events WHERE event_type = 'error' AND value > 150
          ORDER BY user_id ASC""",
    "q17_hourly_window" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
                 event_type, count(*) AS n_events,
                 CASE WHEN isnan($sqlExactAvgValue) THEN CAST('NaN' AS DOUBLE)
                      ELSE floor(($sqlExactAvgValue) * 1000000 + 0.5) / 1000000
                 END AS avg_value
          FROM events GROUP BY 1, 2
          ORDER BY hour_start ASC, event_type ASC""",
    "q56_sliding_window" ->
      s"""WITH e AS (SELECT event_type, value, epoch_us(ts) AS us FROM events),
          w AS (SELECT event_type, value,
                       (us // 1800000000) * 1800000000 - k * 1800000000 AS start_us
                FROM e, (SELECT unnest([0, 1]) AS k) t)
          SELECT strftime(make_timestamp(start_us), '%Y-%m-%d %H:%M:%S') AS win_start,
                 event_type, count(*) AS n_events,
                 CASE WHEN isnan($sqlExactAvgValue) THEN CAST('NaN' AS DOUBLE)
                      ELSE floor(($sqlExactAvgValue) * 1000000 + 0.5) / 1000000
                 END AS avg_value
          FROM w GROUP BY 1, 2
          ORDER BY win_start ASC, event_type ASC""",
    "q18_text_stats" -> {
      val stop = sqlStopHits(TextAnalysis.stopwords("en"))
      s"""SELECT doc_id,
                 len(string_split(text, ' ')) AS n_tokens,
                 $stop AS n_stopwords,
                 round($stop / len(string_split(text, ' ')), 6) AS stopword_ratio,
                 round(length(replace(text, ' ', '')) / len(string_split(text, ' ')), 6)
                   AS avg_token_len
          FROM documents ORDER BY doc_id ASC"""
    },
    "q19_lang_source_stats" ->
      s"""SELECT lang, source, count(*) AS n_docs, round(avg(n_chars), 6) AS avg_chars,
                 min(n_chars) AS min_chars, max(n_chars) AS max_chars
          FROM documents GROUP BY lang, source ORDER BY lang ASC, source ASC""",
    "q20_exact_dedup" ->
      s"""SELECT count(*) AS n_rows, count(DISTINCT md5(text)) AS n_distinct,
                 count(*) - count(DISTINCT md5(text)) AS n_duplicates
          FROM documents""",
    "q21_minhash_lsh" -> minhashOracle,
    "q163_lsh_capped" -> minhashCappedOracle,
    "q166_simhash_capped" -> simhashCappedOracle,
    "q167_simhash64_capped" -> simhash64CappedOracle,
    "q168_incremental_capped" -> incrementalCappedOracle,
    // q169: the oracle replays the deterministic pixel arithmetic the
    // engine ENCODES (Multimodal.pixel); the engine side must recover
    // the identical numbers through a genuine PNG write+parse, so a
    // codec defect (wrong raster band, lossy path, truncated stream)
    // lands as a value mismatch here
    "q169_image_decode" ->
      s"""WITH $pixelModelCtes
          SELECT d.doc_id, CAST(d.w AS BIGINT) AS width,
                 CAST(d.h AS BIGINT) AS height,
                 CAST(st.n AS BIGINT) AS n_pixels,
                 CAST(st.sp AS BIGINT) AS sum_px,
                 floor(CAST(st.sp AS DOUBLE) / st.n * 1000000 + 0.5)
                   / 1000000 AS avg_px
          FROM d JOIN st USING (doc_id) ORDER BY doc_id ASC""",
    // q170/q171: the q58/q59 oracles with the capped pair generator
    // swapped in — same unrolled hook+jump CC, same survivor anti-join,
    // over the flood-bounded edge set
    "q170_capped_clusters" ->
      s"""WITH $simhashCte,
          $cappedEdgeCtes,
          ${ccUnrolledCtes()}
          SELECT n AS doc_id, cluster_id
          FROM clusters ORDER BY doc_id ASC""",
    "q171_capped_survivors" ->
      s"""WITH $simhashCte,
          $cappedEdgeCtes,
          ${ccUnrolledCtes()}
          SELECT d.doc_id, d.source FROM documents d
          WHERE NOT EXISTS (SELECT 1 FROM clusters c
                            WHERE c.n = d.doc_id AND c.n != c.cluster_id)
          ORDER BY d.doc_id ASC""",
    // q172–q176: the five graph-analytics oracle bodies instantiated
    // over the CAPPED pair generator — same recurrences as their
    // uncapped twins (q96/q119/q150/q123/q101), only `prs` changes
    "q172_capped_triangles" -> triangleOracle(cappedPrsCte),
    "q173_capped_clustering" -> clusteringOracle(cappedPrsCte),
    "q174_capped_kcore" -> kcoreOracle(cappedPrsCte),
    "q175_capped_lpa" -> lpaOracle(cappedPrsCte),
    "q176_capped_pagerank" -> pagerankOracle(cappedPrsCte),
    "q164_bpe_merges" -> {
      val unions = (1 to BpeRounds).map(i =>
        s"SELECT CAST($i AS BIGINT) AS round, lhs, rhs, n FROM t$i")
        .mkString("\n            UNION ALL ")
      s"""WITH s0 AS MATERIALIZED (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          ${bpeRoundCtes(BpeRounds)}
          SELECT round, lhs, rhs, lhs || rhs AS merged, n AS n_pairs
          FROM ($unions)
          ORDER BY round ASC"""
    },
    // q177: the q164 round CTEs over the DETERMINISTIC sample — the
    // md5-bucket predicate is q54's, constants interpolated from the
    // shared BpeSampleBps/BpeSampleSalt
    "q177_bpe_sampled" -> {
      val unions = (1 to BpeRounds).map(i =>
        s"SELECT CAST($i AS BIGINT) AS round, lhs, rhs, n FROM t$i")
        .mkString("\n            UNION ALL ")
      s"""WITH s0 AS MATERIALIZED (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
            WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                      || '$BpeSampleSalt'), 1, 8))::BIGINT
                    % 10000 < $BpeSampleBps),
          ${bpeRoundCtes(BpeRounds)}
          SELECT round, lhs, rhs, lhs || rhs AS merged, n AS n_pairs
          FROM ($unions)
          ORDER BY round ASC"""
    },
    // q178: the streaming online dedup's retained-member rule is
    // row_number() ≤ cap per (band, bv) in doc_id order — `held` is the
    // bucket state's final contents, and the probe join is bnd64 × held
    // (≤ cap rows per bucket on the held side: the oracle is itself
    // flood-safe, never the m² bucket self-join)
    "q178_stream_online_neardup" ->
      s"""WITH $simhash64Cte,
          rk AS (SELECT doc_id, fp_hi, fp_lo, band, bv,
                        row_number() OVER (PARTITION BY band, bv
                                           ORDER BY doc_id ASC) AS r
                 FROM bnd64),
          held AS (SELECT * FROM rk WHERE r <= $SimHashBucketCap),
          m AS (SELECT x.doc_id, min(y.doc_id) AS dup_of
                FROM bnd64 x JOIN held y
                  ON x.band = y.band AND x.bv = y.bv
                 AND y.doc_id < x.doc_id
                WHERE bit_count(xor(x.fp_hi, y.fp_hi))
                    + bit_count(xor(x.fp_lo, y.fp_lo)) <= $SimHashMaxHamming
                GROUP BY x.doc_id)
          SELECT d.doc_id, m.doc_id IS NOT NULL AS is_dup, m.dup_of
          FROM (SELECT DISTINCT doc_id FROM bnd64) d
          LEFT JOIN m ON m.doc_id = d.doc_id
          ORDER BY d.doc_id ASC""",
    "q165_bpe_compress" ->
      s"""WITH s0 AS MATERIALIZED (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          ${bpeRoundCtes(BpeRounds)}
          SELECT d.source, count(*) AS n_docs,
                 CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS toks_before,
                 CAST(sum(len(s.toks)) AS BIGINT) AS toks_after,
                 floor(CAST(sum(len(s.toks)) AS DOUBLE)
                       / CAST(sum(len(string_split(d.text, ' '))) AS DOUBLE)
                       * 1000000 + 0.5) / 1000000 AS compression
          FROM documents d JOIN s$BpeRounds s USING (doc_id)
          GROUP BY d.source ORDER BY d.source ASC""",
    "q22_simhash" ->
      s"""WITH $simhashCte
          SELECT doc_id, simhash FROM fpt ORDER BY doc_id ASC""",
    "q23_simhash_pairs" ->
      s"""WITH $simhashCte
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
          FROM bnd a JOIN bnd b
            ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimHashMaxHamming
          ORDER BY doc_a ASC, doc_b ASC""",
    "q24_ngram_jaccard" ->
      s"""WITH $sqlShingles,
          sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
          inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                    FROM sh a JOIN sh b ON a.source = b.source
                      AND a.shingle = b.shingle AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
          SELECT doc_a, doc_b, n_common,
                 round(n_common / (x.n + y.n - n_common), 6) AS jaccard
          FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
          WHERE n_common / (x.n + y.n - n_common) >= $PairMinJaccard
          ORDER BY doc_a ASC, doc_b ASC""",
    "q25_knn_cosine" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          q AS (SELECT vec_id AS q_vec, v AS qv FROM e WHERE vec_id < 10),
          scored AS (
            SELECT q_vec, e.vec_id AS n_vec,
                   round(list_dot_product(qv, v) /
                     (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6)
                     AS cosine
            FROM q, e WHERE e.vec_id <> q_vec),
          r AS (SELECT *, row_number() OVER (
                  PARTITION BY q_vec ORDER BY cosine DESC, n_vec ASC) AS knn_rank
                FROM scored)
          SELECT q_vec, n_vec, cosine, knn_rank FROM r WHERE knn_rank <= 5
          ORDER BY q_vec ASC, knn_rank ASC""",
    "q26_embedding_norms" ->
      s"""SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
                 round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))), 6) AS l2_norm
          FROM embeddings ORDER BY vec_id ASC""",
    "q27_lang_id_confusion" -> langIdOracle,
    "q28_fingerprints" ->
      s"""WITH $sqlShingles,
          h AS (SELECT doc_id, md5(shingle) AS h FROM sh),
          r AS (SELECT doc_id, h, row_number() OVER (
                  PARTITION BY doc_id ORDER BY h ASC) AS rn FROM h)
          SELECT doc_id, string_agg(h, '' ORDER BY h ASC) AS fingerprint
          FROM r WHERE rn <= 4 GROUP BY doc_id ORDER BY doc_id ASC""",
    "q29_multimodal_stub" ->
      s"""SELECT doc_id, octet_length(encode(text)) AS n_bytes,
                 320 + octet_length(encode(text)) % 320 AS width,
                 240 + octet_length(encode(text)) % 240 AS height,
                 round((320 + octet_length(encode(text)) % 320) /
                       (240 + octet_length(encode(text)) % 240), 6) AS aspect
          FROM documents ORDER BY doc_id ASC""",
    "q30_stream_hourly" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
                 event_type, count(*) AS n_events,
                 CASE WHEN isnan($sqlExactAvgValue) THEN CAST('NaN' AS DOUBLE)
                      ELSE floor(($sqlExactAvgValue) * 1000000 + 0.5) / 1000000
                 END AS avg_value
          FROM events GROUP BY 1, 2
          ORDER BY hour_start ASC, event_type ASC""",
    "q31_knn_lsh_bucketed" -> lshKnnOracle,
    "q43_knn_ivf" -> ivfKnnOracle,
    "q50_simhash64_pairs" ->
      s"""WITH $simhash64Cte
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.fp_hi, b.fp_hi)) +
                      bit_count(xor(a.fp_lo, b.fp_lo)) AS BIGINT) AS hamming
          FROM bnd64 a JOIN bnd64 b
            ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
          WHERE bit_count(xor(a.fp_hi, b.fp_hi)) +
                bit_count(xor(a.fp_lo, b.fp_lo)) <= $SimHashMaxHamming
          ORDER BY doc_a ASC, doc_b ASC""",
    "q51_repetition_ratio" ->
      s"""WITH $sqlShingles,
          d AS (SELECT doc_id, count(*) AS n_distinct FROM sh GROUP BY doc_id),
          t AS (SELECT doc_id,
                       CAST(len(string_split(text, ' ')) - 2 AS BIGINT) AS n_total
                FROM documents)
          SELECT t.doc_id, t.n_total, d.n_distinct,
                 round(1.0 - d.n_distinct / t.n_total, 6) AS rep_ratio
          FROM t JOIN d ON t.doc_id = d.doc_id
          WHERE t.n_total > 0
          ORDER BY t.doc_id ASC""",
    "q52_cube_quantity" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n_items,
                 round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 2)
                   AS sum_qty
          FROM lineitem
          GROUP BY CUBE (l_returnflag, l_linestatus)
          ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "q53_frame_sampling" ->
      s"""WITH t AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
          f AS (SELECT doc_id, n, (n + 1023) // 1024 AS nf FROM t WHERE n > 0),
          s AS (SELECT doc_id, n, nf, unnest(range(0, nf, 4)) AS i FROM f)
          SELECT doc_id, nf AS n_frames, count(*) AS n_sampled,
                 CAST(sum(least(1024, n - i * 1024)) AS BIGINT) AS sampled_bytes
          FROM s GROUP BY doc_id, nf
          ORDER BY doc_id ASC""",
    // one oracle, two engine paths: the batch sampler (q54) and the
    // SAME stateless operator over readStream (q189) — membership is a
    // pure function of (doc_id, salt), so all three agree
    "q54_mixture_sampling" -> mixtureOracle,
    "q189_stream_mixture" -> mixtureOracle,
    "q55_text_normalize" ->
      s"""WITH n AS (
            SELECT doc_id,
                   trim(regexp_replace(regexp_replace(
                     lower(nfc_normalize(text)),
                     '[^0-9\\p{L}\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm
            FROM documents)
          SELECT doc_id, md5(norm) AS norm_key,
                 length(norm) AS n_norm_chars
          FROM n ORDER BY doc_id ASC""",
    "q32_clean_filter_chain" ->
      s"""SELECT user_id, event_type, strftime(ts, '%Y-%m-%d') AS day,
                 CAST(hour(ts) AS BIGINT) AS hour,
                 count(*) AS n_events,
                 floor(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       / count(*) * 1000000 + 0.5) / 1000000 AS avg_value
          FROM events
          WHERE $sqlClean
            AND event_type IN ('click', 'view', 'purchase')
            AND user_id IS NOT NULL AND props IS NOT NULL
            AND CAST(value AS DOUBLE) >= 5.0
          GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2
          ORDER BY user_id ASC, event_type ASC, day ASC, hour ASC""",
    "q33_slope_aggregator" ->
      s"""WITH base AS (
            SELECT user_id, event_type, value,
                   CAST(row_number() OVER (
                     PARTITION BY user_id, event_type ORDER BY event_id ASC) AS DOUBLE) AS x
            FROM events WHERE $sqlClean),
          m AS (
            SELECT user_id, event_type, count(*) AS n_obs,
                   avg(x) AS x_mean, avg(value) AS y_mean,
                   avg(x * value) AS xy_mean, avg(x * x) AS xx_mean
            FROM base GROUP BY 1, 2 HAVING count(*) >= 8)
          SELECT user_id, event_type, n_obs,
                 round(CASE WHEN xx_mean - x_mean * x_mean = 0 THEN NULL
                       ELSE (xy_mean - x_mean * y_mean) / (xx_mean - x_mean * x_mean)
                       END, 6) AS slope
          FROM m ORDER BY user_id ASC, event_type ASC""",
    "q34_asof_join" ->
      s"""SELECT v.event_id, v.user_id, c.event_id AS click_event_id,
                 round(c.value, 6) AS click_value
          FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v
          ASOF LEFT JOIN
               (SELECT event_id, user_id, ts, value FROM events
                WHERE event_type = 'click') c
            ON v.user_id = c.user_id AND v.ts >= c.ts
          ORDER BY v.event_id ASC""",
    "q57_asof_forward" ->
      s"""SELECT v.event_id, v.user_id, c.event_id AS click_event_id,
                 round(c.value, 6) AS click_value
          FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v
          ASOF LEFT JOIN
               (SELECT event_id, user_id, ts, value FROM events
                WHERE event_type = 'click') c
            ON v.user_id = c.user_id AND v.ts <= c.ts
          ORDER BY v.event_id ASC""",
    "q35_quantiles" ->
      s"""SELECT event_type,
                 round(quantile_cont(value, 0.5), 6) AS median_value,
                 round(quantile_cont(value, 0.9), 6) AS p90_value,
                 count(DISTINCT user_id) AS n_users
          FROM events GROUP BY event_type ORDER BY event_type ASC""",
    "q44_kmeans_centroids" -> kmeansOracle,
    "q45_embedding_near_dup" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 round(list_dot_product(a.v, b.v) /
                   (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
                   AS cosine
          FROM e a, e b
          WHERE a.vec_id < b.vec_id
            AND round(list_dot_product(a.v, b.v) /
                  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
                >= $EmbNearDupMinCosine
          ORDER BY vec_a ASC, vec_b ASC""",
    // q179/q180/q181: the multi-table LSH pair prefix (see
    // embLshPairCtes) feeds the pair report, the CC recurrence, and the
    // survivor anti-join — the embedding-space twins of q170/q171
    "q179_embedding_neardup_lsh" ->
      s"""WITH $embLshPairCtes
          SELECT DISTINCT vec_a, vec_b, cosine FROM u
          ORDER BY vec_a ASC, vec_b ASC""",
    "q180_semantic_clusters" ->
      s"""WITH $embLshEdgeCtes,
          ${ccUnrolledCtes()}
          SELECT n AS vec_id, cluster_id
          FROM clusters ORDER BY vec_id ASC""",
    "q181_semantic_survivors" ->
      s"""WITH $embLshEdgeCtes,
          ${ccUnrolledCtes()}
          SELECT e.vec_id, e.label FROM embeddings e
          WHERE NOT EXISTS (SELECT 1 FROM clusters c
                            WHERE c.n = e.vec_id AND c.n != c.cluster_id)
          ORDER BY e.vec_id ASC""",
    // q182: the q84 BM25 CTEs (ranked) full-outer-joined with a q25-
    // style cosine list against probe vec 0, RRF-fused — ranks are
    // small exact integers, so 1/(k0+rank) is one IEEE division
    "q182_hybrid_rrf" ->
      s"""WITH tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
                              unnest(string_split(text, ' ')) AS term
                       FROM documents),
          hits AS (SELECT * FROM tok
                   WHERE term IN ('spark', 'join', 'window', 'merge')),
          tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
                 FROM hits GROUP BY 1, 2),
          dfq AS (SELECT term, count(DISTINCT doc_id) AS df
                  FROM hits GROUP BY 1),
          stats AS (SELECT count(*) AS n_total,
                           sum(len(string_split(text, ' '))) AS sum_dl
                    FROM documents),
          scored AS (SELECT tf.doc_id,
                            CAST(ln(1.0 + (stats.n_total - dfq.df + 0.5)
                                          / (dfq.df + 0.5))
                                 * ((tf.tf * (1.2 + 1))
                                    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl
                                         / (CAST(stats.sum_dl AS DOUBLE) / stats.n_total))))
                              AS DECIMAL(18,6)) AS s
                     FROM tf JOIN dfq ON tf.term = dfq.term, stats),
          bm AS (SELECT doc_id, CAST(sum(s) AS DOUBLE) AS score
                 FROM scored GROUP BY doc_id
                 ORDER BY score DESC, doc_id ASC LIMIT 20),
          lex AS (SELECT doc_id, row_number() OVER (
                    ORDER BY score DESC, doc_id ASC) AS lex_rank FROM bm),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          pq AS (SELECT v AS pv FROM e WHERE vec_id = 0),
          cosl AS (SELECT e.vec_id,
                          round(list_dot_product(pv, v) /
                            (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(v, v))), 6)
                            AS cosine
                   FROM e, pq WHERE e.vec_id <> 0),
          vr AS (SELECT vec_id AS doc_id, row_number() OVER (
                   ORDER BY cosine DESC, vec_id ASC) AS vec_rank FROM cosl),
          vtop AS (SELECT * FROM vr WHERE vec_rank <= 20),
          fused AS (SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
                           l.lex_rank, v.vec_rank
                    FROM lex l FULL OUTER JOIN vtop v ON l.doc_id = v.doc_id)
          SELECT doc_id,
                 coalesce(lex_rank, 0) AS lex_rank,
                 coalesce(vec_rank, 0) AS vec_rank,
                 round(coalesce(1.0 / (60 + lex_rank), 0)
                       + coalesce(1.0 / (60 + vec_rank), 0), 6) AS rrf_score
          FROM fused ORDER BY rrf_score DESC, doc_id ASC""",
    // q183: the q170 capped-cluster CTEs extended with the group-
    // inherited md5 split — same bucket arithmetic as q54's sampler
    "q183_leakfree_split" ->
      s"""WITH $simhashCte,
          $cappedEdgeCtes,
          ${ccUnrolledCtes()},
          k AS (SELECT d.doc_id, d.n_chars,
                       coalesce(c.cluster_id, d.doc_id) AS gid
                FROM documents d LEFT JOIN clusters c ON c.n = d.doc_id),
          sp AS (SELECT gid, n_chars,
                        CASE WHEN bucket < $SplitTrainBp THEN 'train'
                             WHEN bucket < $SplitValBp THEN 'val'
                             ELSE 'test' END AS split
                 FROM (SELECT gid, n_chars,
                         ('0x' || substr(md5(CAST(gid AS VARCHAR) || '$SplitSalt'), 1, 8))::BIGINT
                           % 10000 AS bucket
                       FROM k))
          SELECT split, count(*) AS n_docs, count(DISTINCT gid) AS n_groups,
                 CAST(sum(n_chars) AS BIGINT) AS sum_chars
          FROM sp GROUP BY split ORDER BY split ASC""",
    // q184: two-level hashed-unigram counts; per-bucket ln ratios
    // rounded at DECIMAL(18,6) before the exact count-weighted sum
    "q184_dsir_importance" -> dsirOracle,
    "q190_stream_dsir" -> dsirOracle,
    // q185: integer-exact equal-share + cap + one redistribution round;
    // the single double division is the final epochs readout
    "q185_token_budget" ->
      s"""WITH per AS (SELECT source,
                              CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
                       FROM documents GROUP BY source),
          tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t_tot,
                         count(*) AS n_src FROM per),
          b AS (SELECT per.source, per.n_tokens,
                       t_tot // $MixBudgetDen AS budget,
                       (t_tot // $MixBudgetDen) // n_src AS base
                FROM per, tot),
          c AS (SELECT *, least(base, n_tokens * $MixCapEpochs) AS capped,
                       n_tokens * $MixCapEpochs > base AS uncapped
                FROM b),
          l AS (SELECT CAST(sum(capped) AS BIGINT) AS sum_capped,
                       CAST(sum(CASE WHEN uncapped THEN 1 ELSE 0 END) AS BIGINT)
                         AS n_unc FROM c),
          a AS (SELECT source, n_tokens,
                       least(capped + CASE WHEN uncapped
                              THEN (budget - sum_capped) // NULLIF(n_unc, 0)
                              ELSE 0 END,
                             n_tokens * $MixCapEpochs) AS alloc
                FROM c, l)
          SELECT source, n_tokens, CAST(alloc AS BIGINT) AS alloc_tokens,
                 round(CAST(alloc AS DOUBLE) / n_tokens, 6) AS epochs
          FROM a ORDER BY source ASC""",
    // q186: the sum-vector identity — avg pairwise dot from per-dim
    // sums and per-vector norms, both decimal-exact after the proven
    // double→DECIMAL(18,6) cast; one double division at the end
    "q186_embedding_dispersion" ->
      s"""WITH ex AS (SELECT label, CAST(embedding[i] AS DOUBLE) AS v, i
                      FROM embeddings,
                           (SELECT unnest(range(1, ${EmbeddingDim + 1})) AS i) t),
          sd AS (SELECT label, i,
                        CAST(CAST(sum(CAST(v AS DECIMAL(28,12))) AS DOUBLE)
                             AS DECIMAL(18,6)) AS s
                 FROM ex GROUP BY label, i),
          a AS (SELECT label, sum(s * s) AS a2 FROM sd GROUP BY label),
          nr AS (SELECT label,
                        CAST(list_dot_product(CAST(embedding AS DOUBLE[]),
                                              CAST(embedding AS DOUBLE[]))
                          AS DECIMAL(18,6)) AS n2
                 FROM embeddings),
          b AS (SELECT label, count(*) AS n, sum(n2) AS b2
                FROM nr GROUP BY label)
          SELECT a.label, CAST(n AS BIGINT) AS n_vecs,
                 round(CAST(a2 - b2 AS DOUBLE) / (n * (n - 1)), 6)
                   AS intra_avg_dot
          FROM a JOIN b ON a.label = b.label
          WHERE n > 1
          ORDER BY a.label ASC""",
    // q187: the q118 containment CTEs (threshold on the UNROUNDED
    // ratio, corpus-relative df band) rolled up to the source×source
    // provenance matrix; each pair's containment is PINNED by the
    // portable floor-round BEFORE the DECIMAL(18,6) cast (raw
    // double→decimal casts disagree on exact-half ties across
    // engines), then the mean is an exact decimal sum + one division
    // under the portable floor-round
    "q187_containment_matrix" ->
      s"""WITH $sqlShingles,
          $dfBandCtes,
          sz AS (SELECT doc_id, count(*) AS n_a FROM b GROUP BY 1),
          it AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
                   count(*) AS n_common
                 FROM b x JOIN b y
                   ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
                 GROUP BY 1, 2),
          cp AS (SELECT doc_a, doc_b,
                   CAST(n_common AS DOUBLE) / CAST(n_a AS DOUBLE) AS c
                 FROM it JOIN sz ON sz.doc_id = it.doc_a
                 WHERE CAST(n_common AS DOUBLE) / CAST(n_a AS DOUBLE) >= $MinContainment),
          j AS (SELECT da.source AS src_a, db.source AS src_b,
                       CAST(floor(c * 1000000 + 0.5) / 1000000
                         AS DECIMAL(18,6)) AS c6
                FROM cp JOIN documents da ON da.doc_id = cp.doc_a
                        JOIN documents db ON db.doc_id = cp.doc_b)
          SELECT src_a, src_b, count(*) AS n_pairs,
                 floor(CAST(sum(c6) AS DOUBLE) / count(*) * 1000000 + 0.5)
                   / 1000000 AS avg_containment
          FROM j GROUP BY 1, 2 ORDER BY src_a ASC, src_b ASC""",
    // q188: the q21 minhash band CTEs next to an UNBLOCKED q24 jaccard
    // ground truth at 0.5 (threshold on the unrounded ratio) — counts
    // + two single-division rates
    "q188_dedup_generator_audit" ->
      s"""$minhashCtes,$generatorAuditOracleTail""",
    // q191: the identical audit arithmetic over the md5-sampled base
    // relation — the sample predicate is the ONLY difference, stated
    // once in dsamp and inherited by every CTE via the parameterized
    // prefix builder
    "q191_generator_audit_sampled" ->
      s"""${minhashCtesFor("dsamp").replaceFirst("WITH ",
             java.util.regex.Matcher.quoteReplacement(
               s"""WITH dsamp AS MATERIALIZED (
          SELECT * FROM documents
          WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '$AuditSampleSalt'), 1, 8))::BIGINT
                  % 10000 < $AuditSampleBp),
        """))},$generatorAuditOracleTail""",
    // q192: q183's split CTEs (with token counts) × q185's allocation
    // CTEs, apportioned by exact integer floor division — every number
    // BIGINT until the final epochs readout
    "q192_train_manifest" -> fullManifestOracle,
    // q218: the incremental edge set's manifest under the merged
    // clustering — pins the cells-correction algebra (see the
    // engine-side scaladoc for the full-rebuild caveats)
    "q218_incremental_manifest" -> incrementalManifestOracle,
    // q224: two chained increments, manifest under the FINAL clustering
    "q224_chained_manifest" -> chainedManifestOracle,
    // q193: the df-band derivation's cumulative histogram as a result
    // table — integers all the way (cum/cumsq narrowed HUGEINT→BIGINT
    // to match the engine's long output)
    "q193_shingle_df_profile" ->
      s"""WITH $sqlShingles,
          $dfBandCtes
          SELECT df, cnt AS n_shingles, CAST(cum AS BIGINT) AS cum_shingles,
                 CAST(cumsq AS BIGINT) AS cum_fanout,
                 CASE WHEN df <= bmax THEN 1 ELSE 0 END AS in_band,
                 CAST(bmax AS BIGINT) AS band_max
          FROM cu, band ORDER BY df ASC""",
    // q194: q118's banded containment pairs kept to the top-k per
    // doc_a — rank on the UNROUNDED ratio (exact IEEE division of two
    // ints, identical both engines), doc_b tiebreak
    "q194_containment_topk" ->
      s"""WITH $sqlShingles,
          $dfBandCtes,
          sz AS (SELECT doc_id, count(*) AS n_a FROM b GROUP BY 1),
          it AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
                   count(*) AS n_common
                 FROM b x JOIN b y
                   ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
                 GROUP BY 1, 2),
          cp AS (SELECT doc_a, doc_b, n_a, n_common,
                   CAST(n_common AS DOUBLE) / CAST(n_a AS DOUBLE) AS c
                 FROM it JOIN sz ON sz.doc_id = it.doc_a
                 WHERE CAST(n_common AS DOUBLE) / CAST(n_a AS DOUBLE) >= $MinContainment),
          rk AS (SELECT *, row_number() OVER (PARTITION BY doc_a
                   ORDER BY c DESC, doc_b ASC) AS rk FROM cp)
          SELECT doc_a, doc_b, n_a, n_common, round(c, 6) AS containment, rk
          FROM rk WHERE rk <= $ContainTopK
          ORDER BY doc_a ASC, rk ASC""",
    // q195: the NB model rebuilt verbatim — add-1 log-likelihoods and
    // log-priors at DECIMAL(18,6), exact decimal score sums, argmax
    // with the lexicographic tie-break (shared prediction CTEs)
    "q195_nb_source_confusion" ->
      s"""WITH $nbPredCtes
          SELECT source, pred_source, count(*) AS n_docs
          FROM pred GROUP BY 1, 2
          ORDER BY source ASC, pred_source ASC""",
    // q200: four per-doc quality signals — each floor-round-pinned,
    // dec6-cast, exact-summed — rolled up per source; NB predictions
    // come from the shared q195 CTE chain
    "q200_quality_scorecard" -> {
      val stop = sqlStopHits(TextAnalysis.stopwords("en"))
      def avg6(col: String) =
        s"floor(CAST(sum($col) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000"
      s"""WITH $nbPredCtes,
          sw AS (SELECT doc_id,
                        CAST(floor($stop / len(string_split(text, ' '))
                               * 1000000 + 0.5) / 1000000
                          AS DECIMAL(18,6)) AS sw6
                 FROM documents),
          utok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
                   FROM documents),
          uc AS (SELECT tk, count(*) AS cnt FROM utok GROUP BY 1),
          ut AS (SELECT sum(cnt) AS t_total FROM uc),
          ulm AS (SELECT tk, CAST(ln(CAST(cnt AS DOUBLE))
                                  - ln(CAST(t_total AS DOUBLE))
                                  AS DECIMAL(18,6)) AS lp FROM uc, ut),
          us AS (SELECT doc_id,
                        CAST(floor(CAST(sum(lp) AS DOUBLE) / count(*)
                               * 1000000 + 0.5) / 1000000
                          AS DECIMAL(18,6)) AS lp6
                 FROM utok JOIN ulm USING (tk) GROUP BY doc_id),
          dtok AS (SELECT doc_id, string_split(text, ' ') AS t
                   FROM documents),
          g AS MATERIALIZED (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t) - ${DupSpanN - 2}),
                     i -> $dupGramExpr)) AS gram
            FROM dtok WHERE len(t) >= $DupSpanN),
          occ AS (SELECT gram, count(*) AS occ FROM g GROUP BY 1),
          dd AS (SELECT doc_id,
                        CAST(floor(CAST(sum(CASE WHEN occ >= 2 THEN 1 ELSE 0 END)
                                     AS DOUBLE) / count(*) * 1000000 + 0.5)
                             / 1000000 AS DECIMAL(18,6)) AS df6
                 FROM g JOIN occ USING (gram) GROUP BY doc_id)
          SELECT d.source, count(*) AS n_docs,
                 ${avg6("sw6")} AS avg_stopword_ratio,
                 ${avg6("lp6")} AS avg_logprob,
                 ${avg6("df6")} AS avg_dup_frac,
                 ${avg6("CASE WHEN pred.pred_source = d.source THEN CAST(1 AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END")}
                   AS nb_self_acc
          FROM documents d
          JOIN sw USING (doc_id) JOIN us USING (doc_id)
          JOIN dd USING (doc_id) JOIN pred USING (doc_id)
          GROUP BY d.source ORDER BY d.source ASC"""
    },
    // q196: q110's per-doc LM score collapsed to its 6-dp class
    // histogram; bucket = (cum−1)·k DIV n + 1 over the class table
    "q196_perplexity_buckets" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
                       FROM documents),
          c AS (SELECT tk, count(*) AS cnt FROM tok GROUP BY 1),
          t AS (SELECT sum(cnt) AS t_total FROM c),
          lm AS (SELECT tk, CAST(ln(CAST(cnt AS DOUBLE))
                                 - ln(CAST(t_total AS DOUBLE))
                                 AS DECIMAL(18,6)) AS lp FROM c, t),
          s AS (SELECT doc_id, count(*) AS n_tokens,
                       floor(CAST(sum(lp) AS DOUBLE) / count(*)
                             * 1000000 + 0.5) / 1000000 AS avg_logprob
                FROM tok JOIN lm USING (tk) GROUP BY doc_id),
          cls AS (SELECT avg_logprob, count(*) AS c2,
                         CAST(sum(n_tokens) AS BIGINT) AS t2
                  FROM s GROUP BY 1),
          cu AS (SELECT *, sum(c2) OVER (ORDER BY avg_logprob ASC) AS cum,
                        sum(c2) OVER () AS n FROM cls)
          SELECT CAST(((cum - 1) * $PplBuckets // n) + 1 AS BIGINT) AS bucket,
                 CAST(sum(c2) AS BIGINT) AS n_docs,
                 min(avg_logprob) AS lo_logprob,
                 max(avg_logprob) AS hi_logprob,
                 floor(CAST(sum(t2) AS DOUBLE) / sum(c2)
                       * 1000000 + 0.5) / 1000000 AS avg_tokens
          FROM cu GROUP BY 1 ORDER BY bucket ASC""",
    // q197: positional n-grams (multiplicity kept — NOT the distinct
    // shingle table), global occurrence counts, per-doc dup fraction
    "q197_dup_span_fraction" ->
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents),
          g AS MATERIALIZED (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t) - ${DupSpanN - 2}),
                     i -> $dupGramExpr)) AS gram
            FROM tok WHERE len(t) >= $DupSpanN),
          occ AS (SELECT gram, count(*) AS occ FROM g GROUP BY 1)
          SELECT doc_id, count(*) AS n_grams,
                 CAST(sum(CASE WHEN occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup,
                 floor(CAST(sum(CASE WHEN occ >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                       / count(*) * 1000000 + 0.5) / 1000000 AS dup_frac
          FROM g JOIN occ USING (gram)
          GROUP BY doc_id ORDER BY doc_id ASC""",
    // q198: the aHash replayed from the deterministic pixel model
    // (q169's trick) — integer-exact threshold px·n ≥ Σpx, row-major
    // bit pack into BIGINT (w·h ≤ 48 bits)
    "q198_image_phash" ->
      s"""WITH $pHashCtes
          SELECT doc_id, width, height, phash FROM ph
          ORDER BY doc_id ASC""",
    // q199: hash classes self-joined WITHIN dims at hamming ≤ T — the
    // exact form the engine's 4×12 band join equals by pigeonhole
    // (T < 4); class counts, not O(cluster²) image pairs
    "q199_phash_class_pairs" ->
      s"""WITH $pHashCtes,
          cls AS (SELECT width, height, phash, count(*) AS n_imgs,
                         min(doc_id) AS anchor
                  FROM ph GROUP BY 1, 2, 3)
          SELECT a.width, a.height, a.phash AS ph_a, b.phash AS ph_b,
                 a.n_imgs AS n_a, b.n_imgs AS n_b,
                 a.anchor AS anchor_a, b.anchor AS anchor_b,
                 CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
          FROM cls a JOIN cls b
            ON a.width = b.width AND a.height = b.height
            AND a.phash < b.phash
            AND bit_count(xor(a.phash, b.phash)) <= $PHashMaxHamming
          ORDER BY a.width ASC, a.height ASC, ph_a ASC, ph_b ASC""",
    // q201: q199's class pairs behind the per-(dims, band, value)
    // class-population cap — buckets over the cap star-reduce to their
    // min-phash anchor class; every edge (star or not) still passes
    // the exact hamming verify
    "q201_phash_class_pairs_capped" ->
      s"""WITH $pHashCtes,
          cls AS (SELECT width, height, phash, count(*) AS n_imgs,
                         min(doc_id) AS anchor
                  FROM ph GROUP BY 1, 2, 3),
          banded AS (SELECT width, height, phash, n_imgs, anchor,
                            j AS band, (phash >> (12 * j)) & 4095 AS bv
                     FROM cls CROSS JOIN
                       (SELECT unnest(range(0, 4)) AS j) bands),
          stats AS (SELECT width, height, band, bv, count(*) AS n,
                           min(phash) AS aph
                    FROM banded GROUP BY 1, 2, 3, 4),
          tagged AS (SELECT b.*, s.n, s.aph
                     FROM banded b JOIN stats s
                       USING (width, height, band, bv)),
          allp AS (SELECT a.width, a.height,
                          a.phash AS ph_a, b.phash AS ph_b,
                          a.n_imgs AS n_a, b.n_imgs AS n_b,
                          a.anchor AS anchor_a, b.anchor AS anchor_b
                   FROM tagged a JOIN tagged b
                     USING (width, height, band, bv)
                   WHERE a.n <= $PHashClassBucketCap
                     AND b.n <= $PHashClassBucketCap
                     AND a.phash < b.phash),
          star AS (SELECT t.width, t.height,
                          a.phash AS ph_a, t.phash AS ph_b,
                          a.n_imgs AS n_a, t.n_imgs AS n_b,
                          a.anchor AS anchor_a, t.anchor AS anchor_b
                   FROM tagged t JOIN cls a
                     ON a.width = t.width AND a.height = t.height
                    AND a.phash = t.aph
                   WHERE t.n > $PHashClassBucketCap AND t.phash <> t.aph),
          u AS (SELECT DISTINCT width, height, ph_a, ph_b, n_a, n_b,
                                anchor_a, anchor_b
                FROM (SELECT * FROM allp UNION ALL SELECT * FROM star))
          SELECT width, height, ph_a, ph_b, n_a, n_b, anchor_a, anchor_b,
                 CAST(bit_count(xor(ph_a, ph_b)) AS BIGINT) AS hamming
          FROM u
          WHERE bit_count(xor(ph_a, ph_b)) <= $PHashMaxHamming
          ORDER BY width ASC, height ASC, ph_a ASC, ph_b ASC""",
    // q202: the 8×8 box-mean resample replayed in exact integers from
    // the pixel model — cell (i, j) covers x ∈ [i·w DIV 8,
    // max((i+1)·w DIV 8, i·w DIV 8 + 1)) (nearest-pixel when the box
    // is empty), bit c = j·8+i set iff cell-sum·(w·h) ≥ image-sum·box,
    // packed into two non-negative 32-bit halves
    "q202_phash_resampled" ->
      s"""WITH $pHashResampleCtes
          SELECT doc_id, width, height, ph_hi, ph_lo FROM rs
          ORDER BY doc_id ASC""",
    // q203: hash-keyed classes over the resampled fingerprint (dims
    // deliberately absent), 4×16-bit band candidates, per-bucket class
    // cap with min-hash-anchor star reduction — q201's capped machinery
    // carried to the 64-bit scale-invariant hash
    "q203_resampled_class_pairs" ->
      s"""WITH $pHashResampleCtes,
          cls AS (SELECT ph_hi, ph_lo, count(*) AS n_imgs,
                         min(doc_id) AS anchor
                  FROM rs GROUP BY 1, 2),
          banded AS (SELECT ph_hi, ph_lo, n_imgs, anchor, j AS band,
                            CASE j
                              WHEN 0 THEN ph_lo & 65535
                              WHEN 1 THEN (ph_lo >> 16) & 65535
                              WHEN 2 THEN ph_hi & 65535
                              ELSE (ph_hi >> 16) & 65535 END AS bv
                     FROM cls CROSS JOIN
                       (SELECT unnest(range(0, 4)) AS j) bands),
          stats AS (SELECT band, bv, count(*) AS n,
                           arg_min(ph_hi, CAST(ph_hi AS HUGEINT)
                             * 4294967296 + ph_lo) AS a_hi,
                           arg_min(ph_lo, CAST(ph_hi AS HUGEINT)
                             * 4294967296 + ph_lo) AS a_lo
                    FROM banded GROUP BY 1, 2),
          tagged AS (SELECT b.*, s.n, s.a_hi, s.a_lo
                     FROM banded b JOIN stats s USING (band, bv)),
          allp AS (SELECT a.ph_hi AS ph_hi_a, a.ph_lo AS ph_lo_a,
                          b.ph_hi AS ph_hi_b, b.ph_lo AS ph_lo_b,
                          a.n_imgs AS n_a, b.n_imgs AS n_b,
                          a.anchor AS anchor_a, b.anchor AS anchor_b
                   FROM tagged a JOIN tagged b USING (band, bv)
                   WHERE a.n <= $PHashClassBucketCap
                     AND b.n <= $PHashClassBucketCap
                     AND (a.ph_hi, a.ph_lo) < (b.ph_hi, b.ph_lo)),
          star AS (SELECT c.ph_hi AS ph_hi_a, c.ph_lo AS ph_lo_a,
                          t.ph_hi AS ph_hi_b, t.ph_lo AS ph_lo_b,
                          c.n_imgs AS n_a, t.n_imgs AS n_b,
                          c.anchor AS anchor_a, t.anchor AS anchor_b
                   FROM tagged t JOIN cls c
                     ON c.ph_hi = t.a_hi AND c.ph_lo = t.a_lo
                   WHERE t.n > $PHashClassBucketCap
                     AND (t.ph_hi, t.ph_lo) <> (t.a_hi, t.a_lo)),
          u AS (SELECT DISTINCT ph_hi_a, ph_lo_a, ph_hi_b, ph_lo_b,
                                n_a, n_b, anchor_a, anchor_b
                FROM (SELECT * FROM allp UNION ALL SELECT * FROM star))
          SELECT ph_hi_a, ph_lo_a, ph_hi_b, ph_lo_b, n_a, n_b,
                 anchor_a, anchor_b,
                 CAST(bit_count(xor(ph_hi_a, ph_hi_b)) +
                      bit_count(xor(ph_lo_a, ph_lo_b)) AS BIGINT) AS hamming
          FROM u
          WHERE bit_count(xor(ph_hi_a, ph_hi_b)) +
                bit_count(xor(ph_lo_a, ph_lo_b)) <= $PHashMaxHamming
          ORDER BY ph_hi_a ASC, ph_lo_a ASC, ph_hi_b ASC, ph_lo_b ASC""",
    // q204: duplicate-span removal — token positions via per-doc lead
    // windows (mirror of the engine), corpus-wide gram occurrence
    // count, coverage broadcast forward n-1 positions by a per-doc
    // ROWS window max, surviving tokens re-joined in position order
    "q204_dedup_spans" -> {
      val leads = (1 until DupSpanN)
        .map(i => s"lead(tk, $i) OVER w AS l$i").mkString(", ")
      val gram = ("tk" +: (1 until DupSpanN).map(i => s"l$i"))
        .mkString(" || ' ' || ")
      s"""WITH dtok AS (SELECT doc_id, string_split(text, ' ') AS t
                        FROM documents),
          tok AS MATERIALIZED (
            SELECT doc_id, s.pos AS pos, s.tk AS tk
            FROM (SELECT doc_id,
                    unnest(list_transform(range(1, len(t) + 1),
                      i -> {'pos': i, 'tk': t[i]})) AS s
                  FROM dtok)),
          g AS MATERIALIZED (
            SELECT doc_id, pos, $gram AS gram
            FROM (SELECT doc_id, pos, tk, $leads
                  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
            WHERE l${DupSpanN - 1} IS NOT NULL),
          occ AS (SELECT gram, count(*) AS occ FROM g GROUP BY 1),
          ds AS (SELECT doc_id, pos FROM g JOIN occ USING (gram)
                 WHERE occ >= 2),
          fl AS (SELECT tok.doc_id, tok.pos, tok.tk,
                        CASE WHEN ds.pos IS NULL THEN 0 ELSE 1 END AS dupf
                 FROM tok LEFT JOIN ds USING (doc_id, pos)),
          cov AS (SELECT doc_id, pos, tk,
                    max(dupf) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN ${DupSpanN - 1} PRECEDING
                      AND CURRENT ROW) AS c
                  FROM fl)
          SELECT doc_id, count(*) AS n_tokens,
                 CAST(sum(c) AS BIGINT) AS n_removed,
                 coalesce(string_agg(CASE WHEN c = 0 THEN tk END, ' '
                   ORDER BY pos), '') AS cleaned
          FROM cov GROUP BY doc_id ORDER BY doc_id ASC"""
    },
    // q212: the q204 coverage chain (0-based positions — span_start is
    // OUTPUT here) + gaps-and-islands: a new group when the coverage
    // flag changes (lag NULL ≠ flag opens the first), covered groups
    // rolled to (min pos, count) = maximal merged spans + true lengths
    "q212_dup_span_intervals" -> {
      val leads = (1 until DupSpanN)
        .map(i => s"lead(tk, $i) OVER w AS l$i").mkString(", ")
      val gram = ("tk" +: (1 until DupSpanN).map(i => s"l$i"))
        .mkString(" || ' ' || ")
      s"""WITH dtok AS (SELECT doc_id, string_split(text, ' ') AS t
                        FROM documents),
          tok AS MATERIALIZED (
            SELECT doc_id, s.pos AS pos, s.tk AS tk
            FROM (SELECT doc_id,
                    unnest(list_transform(range(1, len(t) + 1),
                      i -> {'pos': i - 1, 'tk': t[i]})) AS s
                  FROM dtok)),
          g AS MATERIALIZED (
            SELECT doc_id, pos, $gram AS gram
            FROM (SELECT doc_id, pos, tk, $leads
                  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
            WHERE l${DupSpanN - 1} IS NOT NULL),
          occ AS (SELECT gram, count(*) AS occ FROM g GROUP BY 1),
          ds AS (SELECT doc_id, pos FROM g JOIN occ USING (gram)
                 WHERE occ >= 2),
          fl AS (SELECT tok.doc_id, tok.pos,
                        CASE WHEN ds.pos IS NULL THEN 0 ELSE 1 END AS dupf
                 FROM tok LEFT JOIN ds USING (doc_id, pos)),
          cov AS (SELECT doc_id, pos,
                    max(dupf) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN ${DupSpanN - 1} PRECEDING
                      AND CURRENT ROW) AS c
                  FROM fl),
          chg AS (SELECT doc_id, pos, c,
                    CASE WHEN c = lag(c) OVER (PARTITION BY doc_id
                      ORDER BY pos) THEN 0 ELSE 1 END AS nw
                  FROM cov),
          grp AS (SELECT doc_id, pos, c,
                    sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS g
                  FROM chg)
          SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
                 count(*) AS span_len
          FROM grp WHERE c = 1 GROUP BY doc_id, g
          ORDER BY doc_id ASC, span_start ASC"""
    },
    // q213: q212's merged groups carry their run length; only covered
    // groups of >= minLen positions are removed, then the q204 census +
    // position-ordered rebuild
    "q213_dedup_spans_minlen" -> {
      val leads = (1 until DupSpanN)
        .map(i => s"lead(tk, $i) OVER w AS l$i").mkString(", ")
      val gram = ("tk" +: (1 until DupSpanN).map(i => s"l$i"))
        .mkString(" || ' ' || ")
      s"""WITH dtok AS (SELECT doc_id, string_split(text, ' ') AS t
                        FROM documents),
          tok AS MATERIALIZED (
            SELECT doc_id, s.pos AS pos, s.tk AS tk
            FROM (SELECT doc_id,
                    unnest(list_transform(range(1, len(t) + 1),
                      i -> {'pos': i - 1, 'tk': t[i]})) AS s
                  FROM dtok)),
          g AS MATERIALIZED (
            SELECT doc_id, pos, $gram AS gram
            FROM (SELECT doc_id, pos, tk, $leads
                  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
            WHERE l${DupSpanN - 1} IS NOT NULL),
          occ AS (SELECT gram, count(*) AS occ FROM g GROUP BY 1),
          ds AS (SELECT doc_id, pos FROM g JOIN occ USING (gram)
                 WHERE occ >= 2),
          fl AS (SELECT tok.doc_id, tok.pos, tok.tk,
                        CASE WHEN ds.pos IS NULL THEN 0 ELSE 1 END AS dupf
                 FROM tok LEFT JOIN ds USING (doc_id, pos)),
          cov AS (SELECT doc_id, pos, tk,
                    max(dupf) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN ${DupSpanN - 1} PRECEDING
                      AND CURRENT ROW) AS c
                  FROM fl),
          chg AS (SELECT doc_id, pos, tk, c,
                    CASE WHEN c = lag(c) OVER (PARTITION BY doc_id
                      ORDER BY pos) THEN 0 ELSE 1 END AS nw
                  FROM cov),
          grp AS (SELECT doc_id, pos, tk, c,
                    sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS g
                  FROM chg),
          rl AS (SELECT doc_id, pos, tk, c, g,
                   count(*) OVER (PARTITION BY doc_id, g) AS runlen
                 FROM grp),
          rm AS (SELECT doc_id, pos, tk,
                   CASE WHEN c = 1 AND runlen >= $DupSpanMinLen
                        THEN 1 ELSE 0 END AS r
                 FROM rl)
          SELECT doc_id, count(*) AS n_tokens,
                 CAST(sum(r) AS BIGINT) AS n_removed,
                 coalesce(string_agg(CASE WHEN r = 0 THEN tk END, ' '
                   ORDER BY pos), '') AS cleaned
          FROM rm GROUP BY doc_id ORDER BY doc_id ASC"""
    },
    // q215: the three fingerprint replays (resampled image hash, audio
    // envelope fp, 64-bit simhash) each rolled to a one-row class
    // census with the saturated verdict against its arm's class cap
    "q215_signal_saturation" ->
      s"""WITH $pHashResampleCtes,
          $simhash64Cte,
          $audioMbCtes,
          $audioWideCtes,
          eb2 AS (SELECT doc_id, (i * $AudioFpSubWindows) // ns AS sw,
                        sum(abs(v)) AS e
                 FROM sv GROUP BY 1, 2),
          afp AS (SELECT doc_id,
                        CAST(sum(CASE WHEN en > e THEN (1::BIGINT << sw)
                                 ELSE 0 END) AS BIGINT) AS f
                 FROM (SELECT doc_id, sw, e,
                         lead(e) OVER (PARTITION BY doc_id ORDER BY sw) AS en
                       FROM eb2)
                 WHERE en IS NOT NULL GROUP BY doc_id),
          imgc AS (SELECT ph_hi, ph_lo, count(*) AS n FROM rs GROUP BY 1, 2),
          audc AS (SELECT f, count(*) AS n FROM afp GROUP BY 1),
          mbc AS (SELECT fp_hi, fp_lo, count(*) AS n FROM fpm GROUP BY 1, 2),
          widc AS (SELECT ${(0 until DedupKnobs.AudioFpWideWords)
                     .map(j => s"w$j").mkString(", ")}, count(*) AS n
                   FROM fpw GROUP BY ${(1 to DedupKnobs.AudioFpWideWords)
                     .map(_.toString).mkString(", ")}),
          txtc AS (SELECT fp_hi, fp_lo, count(*) AS n FROM fpt64 GROUP BY 1, 2)
          SELECT * FROM (
            SELECT 'image_resampled' AS signal,
                   CAST(sum(n) AS BIGINT) AS n_items,
                   count(*) AS n_classes,
                   CAST(max(n) AS BIGINT) AS max_class,
                   max(n) > $PHashClassBucketCap AS saturated FROM imgc
            UNION ALL
            SELECT 'audio_envelope', CAST(sum(n) AS BIGINT), count(*),
                   CAST(max(n) AS BIGINT),
                   max(n) > $AudioClassBucketCap FROM audc
            UNION ALL
            SELECT 'audio_multiband', CAST(sum(n) AS BIGINT), count(*),
                   CAST(max(n) AS BIGINT),
                   max(n) > $AudioClassBucketCap FROM mbc
            UNION ALL
            SELECT 'audio_wide', CAST(sum(n) AS BIGINT), count(*),
                   CAST(max(n) AS BIGINT),
                   max(n) > $AudioClassBucketCap FROM widc
            UNION ALL
            SELECT 'text_simhash64', CAST(sum(n) AS BIGINT), count(*),
                   CAST(max(n) AS BIGINT),
                   max(n) > ${DedupKnobs.SimHashBucketCap} FROM txtc)
          ORDER BY signal ASC""",
    // q205: the q44 unrolled-Lloyd chain + final assignment with
    // distance kept, per-cluster hardest-first rank, ceiling as the
    // exact integer predicate (rnk-1)*10^4 < n*keepBp
    "q205_prototype_pruning" ->
      s"""WITH $kmeansCtes,
          $kmeansAssignRankCtes
          SELECT vec_id, centroid_id, dist, rnk,
                 CAST(cn AS BIGINT) AS cluster_n,
                 ((rnk - 1) * 10000 < cn * $PruneKeepBp) AS kept
          FROM r ORDER BY vec_id ASC""",
    // q214: Sorscher composition — the q205 rank CTEs pick the kept
    // set, the SAME capped LSH generator re-runs over that sub-corpus
    // (its own bucket stats/caps), CC + anti-join as in q181
    "q214_prune_semdedup" ->
      s"""WITH $kmeansCtes,
          $kmeansAssignRankCtes,
          keptv AS MATERIALIZED (SELECT vec_id FROM r
                   WHERE (rnk - 1) * 10000 < cn * $PruneKeepBp),
          ke AS MATERIALIZED (SELECT e.vec_id, e.v
                FROM e JOIN keptv USING (vec_id)),
          ${embLshPairCtesOver("ke")},
          prs AS MATERIALIZED (SELECT DISTINCT vec_a AS doc_a, vec_b AS doc_b FROM u),
          edges AS MATERIALIZED (SELECT doc_a AS n, doc_b AS m FROM prs
                    UNION SELECT doc_b AS n, doc_a AS m FROM prs),
          ${ccUnrolledCtes()}
          SELECT k.vec_id, emb.label
          FROM keptv k JOIN embeddings emb USING (vec_id)
          WHERE NOT EXISTS (SELECT 1 FROM clusters c
                            WHERE c.n = k.vec_id AND c.n != c.cluster_id)
          ORDER BY k.vec_id ASC""",
    // q206: the deterministic PCM model replayed sample by sample —
    // signed value, per-window |v| sum and sign-flip count (lag within
    // the window partition), portable floor-round mean
    "q206_audio_windows" ->
      s"""WITH $audioPcmCtes,
          wv AS (SELECT doc_id, i // $AudioFeatureWindow AS widx, i, v,
                   lag(v) OVER (PARTITION BY doc_id,
                     i // $AudioFeatureWindow ORDER BY i) AS pv
                 FROM sv)
          SELECT doc_id, CAST(widx AS BIGINT) AS window_idx,
                 count(*) AS n_samples,
                 CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
                 CAST(sum(CASE WHEN pv IS NOT NULL
                            AND ((v >= 0) != (pv >= 0))
                          THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
                 floor(CAST(sum(abs(v)) AS DOUBLE) / count(*) * 1000000
                       + 0.5) / 1000000 AS mean_abs
          FROM wv GROUP BY doc_id, widx
          ORDER BY doc_id ASC, window_idx ASC""",
    // q207: envelope fingerprint (length-relative sub-windows, bit k =
    // E(k+1) > E(k)) then fp-keyed classes, 2×8-bit band candidates,
    // per-bucket class cap with min-fp-anchor star reduction — the
    // q201/q203 capped machinery on the audio fingerprint
    "q207_audio_class_pairs" ->
      s"""WITH $audioEnvFpCtes,
          cls AS (SELECT f, count(*) AS n_docs, min(doc_id) AS anchor
                  FROM afp GROUP BY 1),
          banded AS (SELECT f, n_docs, anchor, j AS band,
                            CASE WHEN j = 0 THEN f & 255
                                 ELSE (f >> 8) & 255 END AS bv
                     FROM cls CROSS JOIN
                       (SELECT unnest(range(0, 2)) AS j) bands),
          stats AS (SELECT band, bv, count(*) AS n, min(f) AS af
                    FROM banded GROUP BY 1, 2),
          tagged AS (SELECT b.*, s.n, s.af
                     FROM banded b JOIN stats s USING (band, bv)),
          allp AS (SELECT a.f AS fp_a, b.f AS fp_b,
                          a.n_docs AS n_a, b.n_docs AS n_b,
                          a.anchor AS anchor_a, b.anchor AS anchor_b
                   FROM tagged a JOIN tagged b USING (band, bv)
                   WHERE a.n <= $AudioClassBucketCap
                     AND b.n <= $AudioClassBucketCap
                     AND a.f < b.f),
          star AS (SELECT c.f AS fp_a, t.f AS fp_b,
                          c.n_docs AS n_a, t.n_docs AS n_b,
                          c.anchor AS anchor_a, t.anchor AS anchor_b
                   FROM tagged t JOIN cls c ON c.f = t.af
                   WHERE t.n > $AudioClassBucketCap AND t.f <> t.af),
          u AS (SELECT DISTINCT fp_a, fp_b, n_a, n_b, anchor_a, anchor_b
                FROM (SELECT * FROM allp UNION ALL SELECT * FROM star))
          SELECT fp_a, fp_b, n_a, n_b, anchor_a, anchor_b,
                 CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
          FROM u WHERE bit_count(xor(fp_a, fp_b)) <= $AudioFpMaxHamming
          ORDER BY fp_a ASC, fp_b ASC""",
    // q208: q69's per-doc decision CTEs rolled up per source — the
    // streaming gate must equal the batch census exactly (the per-doc
    // decisions are stateless, so micro-batching cannot move a count)
    // q220: q178's retained-member rule over the MULTI-BAND audio band
    // table — banding mirrors NearDup.band64's 4×16-bit layout
    "q220_stream_audio_neardup" ->
      s"""WITH $audioMbCtes,
          ab AS (SELECT doc_id, fp_hi, fp_lo, j AS band,
                        CASE j
                          WHEN 0 THEN fp_lo & 65535
                          WHEN 1 THEN (fp_lo >> 16) & 65535
                          WHEN 2 THEN fp_hi & 65535
                          ELSE (fp_hi >> 16) & 65535 END AS bv
                 FROM fpm CROSS JOIN
                   (SELECT unnest(range(0, 4)) AS j) bands),
          rk AS (SELECT doc_id, fp_hi, fp_lo, band, bv,
                        row_number() OVER (PARTITION BY band, bv
                                           ORDER BY doc_id ASC) AS r
                 FROM ab),
          held AS (SELECT * FROM rk WHERE r <= $AudioClassBucketCap),
          m AS (SELECT x.doc_id, min(y.doc_id) AS dup_of
                FROM ab x JOIN held y
                  ON x.band = y.band AND x.bv = y.bv
                 AND y.doc_id < x.doc_id
                WHERE bit_count(xor(x.fp_hi, y.fp_hi))
                    + bit_count(xor(x.fp_lo, y.fp_lo))
                    <= ${DedupKnobs.AudioMbMaxHamming}
                GROUP BY x.doc_id)
          SELECT d.doc_id, m.doc_id IS NOT NULL AS is_dup, m.dup_of
          FROM (SELECT DISTINCT doc_id FROM ab) d
          LEFT JOIN m ON m.doc_id = d.doc_id
          ORDER BY d.doc_id ASC""",
    // q221: incremental multimodal clustering — corpus-side arm edges
    // under corpus caps + incremental arm edges (text mirrored; image/
    // audio as the union generator's batch-touching slice), CC, batch
    // verdicts
    "q221_inc_multimodal_cc" -> incrementalMultimodalOracle,
    // q222: the wide frame-matrix fingerprint replayed from the PCM
    // model — 9 comb-filter bands, sign-of-delta bits at
    // (sw + b·(S−1)) packed into nine 15-bit words
    "q222_audio_wide_fp" ->
      s"""WITH $audioPcmCtes,
          $audioWideCtes
          SELECT doc_id, ns AS n_samples,
                 ${(0 until DedupKnobs.AudioFpWideWords)
                   .map(j => s"w$j").mkString(", ")}
          FROM fpw ORDER BY doc_id ASC""",
    // q223: the class-pair chain (word-tuple classes, per-word bands,
    // lexicographic-min anchors, cap + star, summed-bit_count verify)
    // over the wide fingerprint
    "q223_audio_wide_pairs" ->
      s"""WITH $audioPcmCtes,
          $audioWideCtes,
          $wideClassPairSql""",
    // q216: the multi-band fingerprint replayed from the PCM model —
    // per sub-window envelope + lag-b comb energies, sign-of-delta
    // bits at (sw + b·(S−1)) split into two non-negative halves
    "q216_audio_multiband_fp" ->
      s"""WITH $audioMbCtes
          SELECT doc_id, ns AS n_samples, fp_hi, fp_lo FROM fpm
          ORDER BY doc_id ASC""",
    // q217: the q203 class-pair chain (hash-keyed classes, 4×16-bit
    // bands, per-bucket cap with lexicographic-anchor star reduction)
    // over the multi-band fingerprint
    "q217_audio_multiband_pairs" ->
      s"""WITH $audioMbCtes,
          cls AS (SELECT fp_hi AS ph_hi, fp_lo AS ph_lo,
                         count(*) AS n_docs, min(doc_id) AS anchor
                  FROM fpm GROUP BY 1, 2),
          banded AS (SELECT ph_hi, ph_lo, n_docs, anchor, j AS band,
                            CASE j
                              WHEN 0 THEN ph_lo & 65535
                              WHEN 1 THEN (ph_lo >> 16) & 65535
                              WHEN 2 THEN ph_hi & 65535
                              ELSE (ph_hi >> 16) & 65535 END AS bv
                     FROM cls CROSS JOIN
                       (SELECT unnest(range(0, 4)) AS j) bands),
          stats AS (SELECT band, bv, count(*) AS n,
                           arg_min(ph_hi, CAST(ph_hi AS HUGEINT)
                             * 4294967296 + ph_lo) AS a_hi,
                           arg_min(ph_lo, CAST(ph_hi AS HUGEINT)
                             * 4294967296 + ph_lo) AS a_lo
                    FROM banded GROUP BY 1, 2),
          tagged AS (SELECT b.*, s.n, s.a_hi, s.a_lo
                     FROM banded b JOIN stats s USING (band, bv)),
          allp AS (SELECT a.ph_hi AS ph_hi_a, a.ph_lo AS ph_lo_a,
                          b.ph_hi AS ph_hi_b, b.ph_lo AS ph_lo_b,
                          a.n_docs AS n_a, b.n_docs AS n_b,
                          a.anchor AS anchor_a, b.anchor AS anchor_b
                   FROM tagged a JOIN tagged b USING (band, bv)
                   WHERE a.n <= $AudioClassBucketCap
                     AND b.n <= $AudioClassBucketCap
                     AND (a.ph_hi, a.ph_lo) < (b.ph_hi, b.ph_lo)),
          star AS (SELECT c.ph_hi AS ph_hi_a, c.ph_lo AS ph_lo_a,
                          t.ph_hi AS ph_hi_b, t.ph_lo AS ph_lo_b,
                          c.n_docs AS n_a, t.n_docs AS n_b,
                          c.anchor AS anchor_a, t.anchor AS anchor_b
                   FROM tagged t JOIN cls c
                     ON c.ph_hi = t.a_hi AND c.ph_lo = t.a_lo
                   WHERE t.n > $AudioClassBucketCap
                     AND (t.ph_hi, t.ph_lo) <> (t.a_hi, t.a_lo)),
          u AS (SELECT DISTINCT ph_hi_a, ph_lo_a, ph_hi_b, ph_lo_b,
                                n_a, n_b, anchor_a, anchor_b
                FROM (SELECT * FROM allp UNION ALL SELECT * FROM star))
          SELECT ph_hi_a AS fp_hi_a, ph_lo_a AS fp_lo_a,
                 ph_hi_b AS fp_hi_b, ph_lo_b AS fp_lo_b,
                 n_a AS n_docs_a, n_b AS n_docs_b, anchor_a, anchor_b,
                 CAST(bit_count(xor(ph_hi_a, ph_hi_b)) +
                      bit_count(xor(ph_lo_a, ph_lo_b)) AS BIGINT) AS hamming
          FROM u
          WHERE bit_count(xor(ph_hi_a, ph_hi_b)) +
                bit_count(xor(ph_lo_a, ph_lo_b)) <= ${DedupKnobs.AudioMbMaxHamming}
          ORDER BY fp_hi_a ASC, fp_lo_a ASC, fp_hi_b ASC, fp_lo_b ASC""",
    "q208_stream_quality_gate" -> {
      val langs = TextAnalysis.stopwords.keys.toSeq.sorted
      val hitCols = langs
        .map(l => s"${sqlStopHits(TextAnalysis.stopwords(l))} AS hits_$l")
        .mkString(", ")
      val g = langs.map(l => s"hits_$l").mkString("greatest(", ", ", ")")
      val cases = langs
        .map(l => s"WHEN hits_$l = g AND g > 0 THEN '$l'").mkString(" ")
      val stop = sqlStopHits(TextAnalysis.stopwords("en"))
      def n(c: String) =
        s"CAST(sum(CASE WHEN $c THEN 1 ELSE 0 END) AS BIGINT) AS n_$c"
      s"""WITH $sqlShingles,
          d AS (SELECT doc_id, count(*) AS n_distinct FROM sh GROUP BY doc_id),
          t AS (SELECT doc_id,
                       CAST(len(string_split(text, ' ')) - 2 AS BIGINT) AS n_total
                FROM documents),
          rep AS (SELECT t.doc_id, 1.0 - d.n_distinct / t.n_total AS rep_ratio
                  FROM t JOIN d ON t.doc_id = d.doc_id WHERE t.n_total > 0),
          st AS (SELECT doc_id, source,
                        len(string_split(text, ' ')) AS n_tokens,
                        $stop / len(string_split(text, ' ')) AS stop_ratio
                 FROM documents),
          sc AS (SELECT doc_id, lang, $hitCols FROM documents),
          p AS (SELECT doc_id, lang, CASE $cases ELSE 'und' END AS pred_lang
                FROM (SELECT *, $g AS g FROM sc)),
          r AS (SELECT st.doc_id, st.source,
                       st.n_tokens < 5 AS too_short,
                       st.stop_ratio < 0.10 AS low_stopword,
                       coalesce(rep.rep_ratio, 0) > 0.5 AS high_repetition,
                       p.pred_lang != p.lang AS lang_mismatch
                FROM st JOIN p ON st.doc_id = p.doc_id
                LEFT JOIN rep ON st.doc_id = rep.doc_id)
          SELECT source, count(*) AS n_docs,
                 CAST(sum(CASE WHEN NOT (too_short OR low_stopword
                            OR high_repetition OR lang_mismatch)
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
                 ${n("too_short")}, ${n("low_stopword")},
                 ${n("high_repetition")}, ${n("lang_mismatch")}
          FROM r GROUP BY source ORDER BY source ASC"""
    },
    // q209: the multimodal record = text stats ⋈ resampled image hash
    // ⋈ audio envelope fingerprint, every modality replayed from its
    // deterministic model (q202's resample chain, q207's PCM chain)
    "q209_multimodal_record" -> {
      val stop = sqlStopHits(TextAnalysis.stopwords("en"))
      s"""WITH $pHashResampleCtes,
          $audioMbCtes,
          tq AS (SELECT doc_id,
                        CAST(len(string_split(text, ' ')) AS BIGINT)
                          AS n_tokens,
                        floor($stop * 1.0
                              / len(string_split(text, ' ')) * 1000000
                              + 0.5) / 1000000 AS stopword_ratio
                 FROM documents)
          SELECT tq.doc_id, tq.n_tokens, tq.stopword_ratio,
                 rs.width, rs.height, rs.ph_hi, rs.ph_lo,
                 fpm.ns AS n_samples, fpm.fp_hi AS audio_fp_hi,
                 fpm.fp_lo AS audio_fp_lo
          FROM tq JOIN rs ON tq.doc_id = rs.doc_id
            JOIN fpm ON tq.doc_id = fpm.doc_id
          ORDER BY tq.doc_id ASC"""
    },
    // q210: √-weight integerized once (⌊√tokens·10³+½⌋), then pure
    // HUGEINT cross-multiplication — sqrt is IEEE-correctly-rounded in
    // both engines, so the only float op agrees bit for bit
    "q210_temperature_mix" ->
      s"""WITH census AS (SELECT source, count(*) AS n_docs,
                 CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                   AS n_tokens
               FROM documents GROUP BY 1),
          wi AS (SELECT source, n_docs, n_tokens,
                   CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000 + 0.5)
                     AS BIGINT) AS w
                 FROM census),
          tot AS (SELECT sum(w) AS tw, sum(n_tokens) AS tt FROM wi),
          rated AS (SELECT source, n_docs, n_tokens,
                      least(10000, CAST(
                        (CAST(w AS HUGEINT) * (tt // $TempBudgetDen) * 10000)
                        // (CAST(tw AS HUGEINT) * n_tokens) AS BIGINT))
                        AS rate_bp
                    FROM wi CROSS JOIN tot),
          kept AS (SELECT d.source, count(*) AS n_kept_docs,
                     CAST(sum(len(string_split(d.text, ' '))) AS BIGINT)
                       AS n_kept_tokens
                   FROM documents d JOIN rated r USING (source)
                   WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                       || '$TempMixSalt'), 1, 8))::BIGINT % 10000
                     < r.rate_bp
                   GROUP BY 1)
          SELECT r.source, r.n_docs, r.n_tokens, r.rate_bp,
                 coalesce(k.n_kept_docs, 0) AS n_kept_docs,
                 coalesce(k.n_kept_tokens, 0) AS n_kept_tokens
          FROM rated r LEFT JOIN kept k USING (source)
          ORDER BY source ASC""",
    // q211: micro-bucket census ranked by token mass, ranks snake over
    // shards (serpentine round-robin) — all arithmetic integer-exact
    "q211_balanced_shards" ->
      s"""WITH mb AS (
            SELECT (('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                     || '$ShardSalt'), 1, 8))::BIGINT % 10000)
                   % ${ShardN * ShardBuckets} AS mbk,
                   count(*) AS n_docs,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                     AS n_tokens
            FROM documents GROUP BY 1),
          r AS (SELECT mbk, n_docs, n_tokens,
                  row_number() OVER (ORDER BY n_tokens DESC, mbk ASC) - 1
                    AS rn
                FROM mb)
          SELECT CAST(CASE WHEN (rn // $ShardN) % 2 = 0 THEN rn % $ShardN
                           ELSE ${ShardN - 1} - rn % $ShardN END AS BIGINT)
                   AS shard,
                 count(*) AS n_buckets,
                 CAST(sum(n_docs) AS BIGINT) AS n_docs,
                 CAST(sum(n_tokens) AS BIGINT) AS n_tokens
          FROM r GROUP BY 1 ORDER BY shard ASC""",
    "q46_token_counting" ->
      s"""SELECT doc_id,
                 len(string_split(text, ' ')) AS n_ws_tokens,
                 len(regexp_extract_all(text, '[0-9A-Za-z]+|[^0-9A-Za-z ]'))
                   AS n_regex_tokens,
                 round(len(regexp_extract_all(text, '[0-9A-Za-z]+|[^0-9A-Za-z ]')) /
                       len(string_split(text, ' ')), 6) AS tokens_ratio
          FROM documents ORDER BY doc_id ASC""",
    "q47_range_join" ->
      s"""SELECT strftime(o.o_orderdate, '%Y-%m') AS promo_month,
                 count(*) AS n_pairs,
                 round(CAST(sum(CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE), 2)
                   AS sum_qty
          FROM lineitem l JOIN orders o
            ON l.l_shipdate >= o.o_orderdate
           AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
          WHERE o.o_orderpriority = '1-URGENT' AND o.o_totalprice >= 490000
          GROUP BY 1 ORDER BY promo_month ASC""",
    "q48_bloom_semi_join" ->
      s"""SELECT l_returnflag, count(*) AS n_items,
                 round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 2)
                   AS sum_price
          FROM lineitem l
          WHERE EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_orderkey = l.l_orderkey
                          AND o.o_totalprice >= 450000)
          GROUP BY 1 ORDER BY l_returnflag ASC""",
    "q49_topk_per_group" ->
      s"""SELECT o_orderpriority, o_orderkey,
                 round(o_totalprice, 2) AS o_totalprice, rank
          FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
                FROM orders)
          WHERE rank <= 3
          ORDER BY o_orderpriority ASC, rank ASC""",
    "q37_sessionization" ->
      s"""WITH o AS (
            SELECT user_id, ts, value,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                          OR epoch_ns(ts) - epoch_ns(lag(ts) OVER (
                               PARTITION BY user_id ORDER BY ts)) >= 3600000000000
                        THEN 1 ELSE 0 END AS is_new
            FROM events),
          sess AS (
            SELECT user_id, value,
                   CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_ordinal
            FROM o)
          SELECT user_id, session_ordinal, count(*) AS n_events,
                 floor($sqlExactAvgValue * 1000000 + 0.5) / 1000000
                   AS avg_value
          FROM sess GROUP BY user_id, session_ordinal
          ORDER BY user_id ASC, session_ordinal ASC""",
    "q38_integrity_lineitem" ->
      s"""SELECT count(*) AS n_rows,
                 count(DISTINCT l_suppkey) AS n_distinct_l_suppkey,
                 count(DISTINCT l_partkey) AS n_distinct_l_partkey,
                 count(DISTINCT l_returnflag) AS n_distinct_l_returnflag,
                 count(CASE WHEN l_quantity IS NULL OR isnan(l_quantity) THEN 1 END)
                   AS n_missing_l_quantity,
                 count(CASE WHEN l_extendedprice IS NULL OR isnan(l_extendedprice) THEN 1 END)
                   AS n_missing_l_extendedprice
          FROM lineitem""",
    "q39_rollup_revenue" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n_items,
                 CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
          FROM lineitem
          GROUP BY ROLLUP (l_returnflag, l_linestatus)
          ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "q40_pivot_by_type" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val cols = types.map(t =>
        s"floor(CAST(sum(CAST(CASE WHEN event_type = '$t' THEN value END " +
          s"AS DECIMAL(18,6))) AS DOUBLE) " +
          s"/ count(CASE WHEN event_type = '$t' THEN value END) " +
          s"* 1000000 + 0.5) / 1000000 AS avg_$t")
        .mkString(", ")
      s"""SELECT user_id, $cols FROM events WHERE $sqlClean
          GROUP BY user_id ORDER BY user_id ASC"""
    },
    "q41_label_centroids" ->
      s"""SELECT label, i AS dim,
                 round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS centroid
          FROM embeddings, (SELECT unnest(range(1, ${EmbeddingDim + 1})) AS i) t
          GROUP BY label, i ORDER BY label ASC, dim ASC""",
    "q42_json_extract" ->
      s"""SELECT event_type,
                 count(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS n_with_k,
                 round(avg(CAST(json_extract_string(props, '$$.k') AS BIGINT)), 6) AS avg_k,
                 min(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS min_k,
                 max(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS max_k
          FROM events GROUP BY event_type ORDER BY event_type ASC""",
    "q58_dedup_clusters" ->
      s"""WITH $simhashCte,
          prs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM bnd a JOIN bnd b
                    ON a.band = b.band AND a.bv = b.bv
                      AND a.doc_id < b.doc_id
                  WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimHashMaxHamming),
          edges AS MATERIALIZED (SELECT doc_a AS n, doc_b AS m FROM prs
                    UNION SELECT doc_b AS n, doc_a AS m FROM prs),
          ${ccUnrolledCtes()}
          SELECT n AS doc_id, cluster_id
          FROM clusters ORDER BY doc_id ASC""",
    "q59_dedup_survivors" ->
      s"""WITH $simhashCte,
          prs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM bnd a JOIN bnd b
                    ON a.band = b.band AND a.bv = b.bv
                      AND a.doc_id < b.doc_id
                  WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimHashMaxHamming),
          edges AS MATERIALIZED (SELECT doc_a AS n, doc_b AS m FROM prs
                    UNION SELECT doc_b AS n, doc_a AS m FROM prs),
          ${ccUnrolledCtes()}
          SELECT d.doc_id, d.source FROM documents d
          WHERE NOT EXISTS (SELECT 1 FROM clusters c
                            WHERE c.n = d.doc_id AND c.n != c.cluster_id)
          ORDER BY d.doc_id ASC""",
    "q60_idf_terms" ->
      s"""WITH tok AS (SELECT source, doc_id,
                        unnest(string_split(text, ' ')) AS term FROM documents),
          tf AS (SELECT source, term, count(*) AS tf FROM tok GROUP BY 1, 2),
          dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
          tot AS (SELECT count(*) AS n_total FROM documents),
          scored AS (SELECT tf.source, tf.term, tf.tf, dfq.df,
                            CAST(tf.tf * tot.n_total AS DOUBLE) / dfq.df AS score
                     FROM tf JOIN dfq ON tf.term = dfq.term, tot),
          ranked AS (SELECT *, row_number() OVER (PARTITION BY source
                       ORDER BY score DESC, term ASC) AS rank FROM scored)
          SELECT source, term, tf, df, round(score, 6) AS score, rank
          FROM ranked WHERE rank <= 5
          ORDER BY source ASC, rank ASC""",
    "q61_ntile_quartiles" ->
      s"""WITH q AS (SELECT event_type, value,
                       ntile(4) OVER (PARTITION BY event_type
                         ORDER BY value ASC, event_id ASC) AS quartile
                     FROM events WHERE $sqlClean)
          SELECT event_type, quartile, count(*) AS n_events,
                 floor(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       / count(*) * 1000000 + 0.5) / 1000000 AS avg_value
          FROM q GROUP BY 1, 2
          ORDER BY event_type ASC, quartile ASC""",
    "q62_grouping_sets" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n_items,
                 round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_qty
          FROM lineitem
          GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
          ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "q63_range_frame" ->
      s"""SELECT event_id, user_id,
                 count(*) OVER w AS n_1h,
                 round(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE), 6)
                   AS sum_1h
          FROM events WHERE $sqlClean
          WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000000000
                       RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
          ORDER BY event_id ASC""",
    "q64_histogram" ->
      s"""SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bin,
                 count(*) AS n
          FROM events WHERE $sqlClean
          GROUP BY 1, 2 ORDER BY event_type ASC, bin ASC""",
    "q65_winsorized" ->
      s"""WITH pct AS (SELECT event_type,
                        quantile_cont(value, 0.05) AS p05,
                        quantile_cont(value, 0.95) AS p95
                      FROM events WHERE $sqlClean GROUP BY 1)
          SELECT e.event_type, count(*) AS n_events,
                 count(CASE WHEN e.value < pct.p05 THEN 1 END) AS n_clamped_lo,
                 count(CASE WHEN e.value > pct.p95 THEN 1 END) AS n_clamped_hi,
                 floor(CAST(sum(CAST(floor(least(greatest(e.value, pct.p05),
                                                 pct.p95) * 1000000 + 0.5)
                                     / 1000000 AS DECIMAL(18,6))) AS DOUBLE)
                       / count(*) * 1000000 + 0.5) / 1000000
                   AS avg_winsorized
          FROM events e JOIN pct ON e.event_type = pct.event_type
          WHERE $sqlClean
          GROUP BY 1 ORDER BY e.event_type ASC""",
    "q66_asof_nearest" ->
      s"""WITH v AS (SELECT event_id, user_id, ts FROM events
                     WHERE event_type = 'view'),
          c AS (SELECT event_id, user_id, ts, value FROM events
                WHERE event_type = 'click'),
          b AS (SELECT v.event_id, v.user_id, v.ts,
                       c.event_id AS b_id, c.value AS b_val, c.ts AS b_ts
                FROM v ASOF LEFT JOIN c
                  ON v.user_id = c.user_id AND v.ts >= c.ts),
          f AS (SELECT v.event_id,
                       c.event_id AS f_id, c.value AS f_val, c.ts AS f_ts
                FROM v ASOF LEFT JOIN c
                  ON v.user_id = c.user_id AND v.ts <= c.ts)
          SELECT b.event_id, b.user_id,
                 CASE WHEN b_id IS NULL THEN f_id
                      WHEN f_id IS NULL THEN b_id
                      WHEN epoch_ns(b.ts) - epoch_ns(b_ts)
                           <= epoch_ns(f_ts) - epoch_ns(b.ts) THEN b_id
                      ELSE f_id END AS click_event_id,
                 round(CASE WHEN b_id IS NULL THEN f_val
                            WHEN f_id IS NULL THEN b_val
                            WHEN epoch_ns(b.ts) - epoch_ns(b_ts)
                                 <= epoch_ns(f_ts) - epoch_ns(b.ts) THEN b_val
                            ELSE f_val END, 6) AS click_value
          FROM b JOIN f ON b.event_id = f.event_id
          ORDER BY b.event_id ASC""",
    "q67_rank_family" ->
      s"""SELECT s_nationkey, s_suppkey,
                 CAST(floor(s_acctbal / 100) AS BIGINT) AS bal_tier,
                 rank() OVER w AS rnk,
                 dense_rank() OVER w AS drnk,
                 round(percent_rank() OVER w, 6) AS prnk,
                 round(cume_dist() OVER w, 6) AS cdist
          FROM supplier
          WINDOW w AS (PARTITION BY s_nationkey
                       ORDER BY CAST(floor(s_acctbal / 100) AS BIGINT) DESC)
          ORDER BY s_nationkey ASC, rnk ASC, s_suppkey ASC""",
    "q68_upsample" -> {
      val wholeCases = UpRates.toSeq.sortBy(_._1).map { case (g, r) =>
        s"WHEN '$g' THEN ${math.floor(r).toLong}" }.mkString(" ")
      val fracCases = UpRates.toSeq.sortBy(_._1).map { case (g, r) =>
        s"WHEN '$g' THEN ${math.round((r - math.floor(r)) * 10000)}" }.mkString(" ")
      s"""WITH k AS (
            SELECT source, doc_id,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '$UpSalt'), 1, 8))::BIGINT
                     % 10000 AS bucket,
                   CAST(CASE source $wholeCases ELSE 0 END AS BIGINT) AS whole,
                   CASE source $fracCases ELSE 0 END AS fbp
            FROM documents),
          c AS (SELECT source, doc_id,
                       whole + CASE WHEN bucket < fbp THEN 1 ELSE 0 END AS copies
                FROM k),
          e AS (SELECT source, doc_id,
                       unnest(generate_series(1, copies)) AS copy_no
                FROM c WHERE copies > 0)
          SELECT source, count(*) AS n_rows, count(DISTINCT doc_id) AS n_docs,
                 max(copy_no) AS max_copies
          FROM e GROUP BY source ORDER BY source ASC"""
    },
    "q69_curation" -> {
      val langs = TextAnalysis.stopwords.keys.toSeq.sorted
      val hitCols = langs
        .map(l => s"${sqlStopHits(TextAnalysis.stopwords(l))} AS hits_$l")
        .mkString(", ")
      val g = langs.map(l => s"hits_$l").mkString("greatest(", ", ", ")")
      val cases = langs
        .map(l => s"WHEN hits_$l = g AND g > 0 THEN '$l'").mkString(" ")
      val stop = sqlStopHits(TextAnalysis.stopwords("en"))
      s"""WITH $sqlShingles,
          d AS (SELECT doc_id, count(*) AS n_distinct FROM sh GROUP BY doc_id),
          t AS (SELECT doc_id,
                       CAST(len(string_split(text, ' ')) - 2 AS BIGINT) AS n_total
                FROM documents),
          rep AS (SELECT t.doc_id, 1.0 - d.n_distinct / t.n_total AS rep_ratio
                  FROM t JOIN d ON t.doc_id = d.doc_id WHERE t.n_total > 0),
          st AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
                        $stop / len(string_split(text, ' ')) AS stop_ratio
                 FROM documents),
          sc AS (SELECT doc_id, lang, $hitCols FROM documents),
          p AS (SELECT doc_id, lang, CASE $cases ELSE 'und' END AS pred_lang
                FROM (SELECT *, $g AS g FROM sc)),
          r AS (SELECT st.doc_id,
                       st.n_tokens < 5 AS too_short,
                       st.stop_ratio < 0.10 AS low_stopword,
                       coalesce(rep.rep_ratio, 0) > 0.5 AS high_repetition,
                       p.pred_lang != p.lang AS lang_mismatch
                FROM st JOIN p ON st.doc_id = p.doc_id
                LEFT JOIN rep ON st.doc_id = rep.doc_id)
          SELECT doc_id, too_short, low_stopword, high_repetition, lang_mismatch,
                 NOT (too_short OR low_stopword OR high_repetition OR lang_mismatch)
                   AS keep
          FROM r ORDER BY doc_id ASC"""
    },
    "q70_incremental_dedup" ->
      s"""$minhashCtes
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
            AND a.doc_id < b.doc_id
          WHERE a.doc_id >= $IncrementalSplit OR b.doc_id >= $IncrementalSplit
          ORDER BY doc_a ASC, doc_b ASC""",
    "q71_column_profile" -> {
      def row(c: String, expr: String) =
        s"""SELECT '$c' AS col_name,
                   count(CASE WHEN $expr IS NULL THEN 1 END) AS n_nulls,
                   count(DISTINCT $expr) AS n_distinct,
                   CAST(min($expr) AS VARCHAR) AS min_value,
                   CAST(max($expr) AS VARCHAR) AS max_value
            FROM orders"""
      Seq(
        row("o_custkey", "o_custkey"),
        row("o_orderstatus", "o_orderstatus"),
        row("o_orderpriority", "o_orderpriority"),
        row("o_totalprice", "CAST(o_totalprice AS DECIMAL(18,2))"))
        .mkString("", " UNION ALL ", " ORDER BY col_name ASC")
    },
    "q72_unpivot" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val cols = types.map(t =>
        s"floor(CAST(sum(CAST(CASE WHEN event_type = '$t' THEN value END " +
          s"AS DECIMAL(18,6))) AS DOUBLE) " +
          s"/ count(CASE WHEN event_type = '$t' THEN value END) " +
          s"* 1000000 + 0.5) / 1000000 AS avg_$t")
        .mkString(", ")
      val arms = types.map(t =>
        s"SELECT user_id, '$t' AS event_type, avg_$t AS avg_value FROM wide")
        .mkString(" UNION ALL ")
      s"""WITH wide AS (SELECT user_id, $cols FROM events WHERE $sqlClean
                        GROUP BY user_id),
          long AS ($arms)
          SELECT user_id, event_type, avg_value FROM long
          WHERE avg_value IS NOT NULL
          ORDER BY user_id ASC, event_type ASC"""
    },
    "q73_dynamic_pivot" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val cols = types.map(t =>
        s"floor(CAST(sum(CAST(CASE WHEN event_type = '$t' THEN value END " +
          s"AS DECIMAL(18,6))) AS DOUBLE) " +
          s"/ count(CASE WHEN event_type = '$t' THEN value END) " +
          s"* 1000000 + 0.5) / 1000000 AS avg_$t")
        .mkString(", ")
      s"""SELECT user_id, $cols FROM events WHERE $sqlClean
          GROUP BY user_id ORDER BY user_id ASC"""
    },
    "q74_map_agg" ->
      s"""SELECT user_id, event_type, count(*) AS n_events
          FROM events WHERE $sqlClean
          GROUP BY 1, 2 ORDER BY user_id ASC, event_type ASC""",
    "q75_pagination" ->
      s"""SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
          FROM orders
          ORDER BY o_totalprice DESC, o_orderkey ASC
          LIMIT 10 OFFSET 20""",
    // q219: keyset page 3 ≡ offset page 3 — the oracle is deliberately
    // the OFFSET form; the engine walks in via the composite cursor
    "q219_keyset_page" ->
      s"""SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
          FROM orders
          ORDER BY o_totalprice DESC, o_orderkey ASC
          LIMIT 10 OFFSET 20""",
    "q77_grouping_markers" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n_items,
                 CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
                 CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
                 CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
          FROM lineitem
          GROUP BY ROLLUP (l_returnflag, l_linestatus)
          ORDER BY gid ASC, l_returnflag ASC NULLS FIRST,
                   l_linestatus ASC NULLS FIRST""",
    // exact regime: capacity 64 > the 31-token vocabulary, so every
    // Space-Saving counter is a true count and err is identically 0
    "q76_heavy_hitters" ->
      s"""SELECT tok AS item, count(*) AS cnt, CAST(0 AS BIGINT) AS err
          FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
          GROUP BY tok ORDER BY cnt DESC, item ASC""",
    "q78_slope_summary" ->
      s"""WITH base AS (
            SELECT user_id, event_type, value,
                   CAST(row_number() OVER (
                     PARTITION BY user_id, event_type ORDER BY event_id ASC) AS DOUBLE) AS x
            FROM events WHERE $sqlClean),
          m AS (
            SELECT user_id, event_type, count(*) AS n_obs,
                   avg(x) AS x_mean, avg(value) AS y_mean,
                   avg(x * value) AS xy_mean, avg(x * x) AS xx_mean
            FROM base GROUP BY 1, 2 HAVING count(*) >= 8),
          fine AS (
            SELECT event_type,
                   round(CASE WHEN xx_mean - x_mean * x_mean = 0 THEN NULL
                         ELSE (xy_mean - x_mean * y_mean) / (xx_mean - x_mean * x_mean)
                         END, 6) AS slope
            FROM m)
          SELECT event_type, count(slope) AS n_groups,
                 floor(CAST(sum(CAST(slope AS DECIMAL(18,6))) AS DOUBLE)
                       / count(slope) * 1000000 + 0.5) / 1000000 AS mean_slope
          FROM fine GROUP BY event_type ORDER BY event_type ASC""",
    "q79_subquery_scalar" ->
      s"""SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
          FROM orders
          WHERE o_totalprice > 1.5 * (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                                             / count(o_totalprice) FROM orders)
          ORDER BY o_orderkey ASC""",
    "q80_subquery_exists" ->
      s"""SELECT c_custkey, c_name
          FROM customer
          WHERE EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_totalprice > 400000)
            AND NOT EXISTS (SELECT 1 FROM orders
                            WHERE o_custkey = c_custkey AND o_totalprice < 10000)
          ORDER BY c_custkey ASC""",
    "q81_multiset_ops" ->
      s"""SELECT 'intersect' AS op, o_custkey, CAST(1 AS BIGINT) AS n
          FROM (SELECT o_custkey FROM orders WHERE o_totalprice >= 300000
                INTERSECT
                SELECT o_custkey FROM orders WHERE o_totalprice < 50000)
          UNION ALL
          SELECT 'except_all' AS op, o_custkey, count(*) AS n
          FROM (SELECT o_custkey FROM orders WHERE o_totalprice >= 300000
                EXCEPT ALL
                SELECT o_custkey FROM orders WHERE o_totalprice < 50000)
          GROUP BY o_custkey
          ORDER BY op ASC, o_custkey ASC""",
    // epoch_us // 3.6e9 mirrors Spark's `ts div 3600000000` in exact
    // integer arithmetic; max_by ≡ max(struct(event_id, value)).value
    "q82_gap_fill" ->
      s"""WITH clean AS (
            SELECT user_id, epoch_us(ts) // 3600000000 AS h, event_id, value
            FROM events WHERE $sqlClean),
          obs AS (SELECT user_id, h, max_by(value, event_id) AS v
                  FROM clean GROUP BY 1, 2),
          span AS (SELECT user_id, min(h) AS h0, max(h) AS h1
                   FROM clean GROUP BY 1),
          grid AS (SELECT user_id, unnest(generate_series(h0, h1)) AS h FROM span),
          filled AS (
            SELECT g.user_id, o.v,
                   last_value(o.v IGNORE NULLS) OVER (
                     PARTITION BY g.user_id ORDER BY g.h ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv
            FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.h = o.h)
          SELECT user_id, count(*) AS n_hours, count(v) AS n_observed,
                 floor(CAST(sum(CAST(fv AS DECIMAL(18,6))) AS DOUBLE)
                       / count(fv) * 1000000 + 0.5) / 1000000 AS avg_filled
          FROM filled GROUP BY user_id ORDER BY user_id ASC""",
    "q83_share_of_total" ->
      s"""WITH g AS (
            SELECT l_returnflag, l_linestatus,
                   sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS rev
            FROM lineitem GROUP BY 1, 2)
          SELECT l_returnflag, l_linestatus,
                 CAST(round(rev, 2) AS DOUBLE) AS revenue,
                 floor(CAST(rev AS DOUBLE)
                       / CAST(sum(rev) OVER (PARTITION BY l_returnflag) AS DOUBLE)
                       * 1000000 + 0.5) / 1000000 AS share
          FROM g ORDER BY l_returnflag ASC, l_linestatus ASC""",
    // constants appear as the same literals on both sides (1.2 + 1,
    // not 2.2) so each engine folds them with the identical IEEE op;
    // per-term scores round at DECIMAL(18,6) before the order-free sum
    "q84_bm25_topk" ->
      s"""WITH tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
                              unnest(string_split(text, ' ')) AS term
                       FROM documents),
          hits AS (SELECT * FROM tok
                   WHERE term IN ('spark', 'join', 'window', 'merge')),
          tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
                 FROM hits GROUP BY 1, 2),
          dfq AS (SELECT term, count(DISTINCT doc_id) AS df
                  FROM hits GROUP BY 1),
          stats AS (SELECT count(*) AS n_total,
                           sum(len(string_split(text, ' '))) AS sum_dl
                    FROM documents),
          scored AS (SELECT tf.doc_id,
                            CAST(ln(1.0 + (stats.n_total - dfq.df + 0.5)
                                          / (dfq.df + 0.5))
                                 * ((tf.tf * (1.2 + 1))
                                    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl
                                         / (CAST(stats.sum_dl AS DOUBLE) / stats.n_total))))
                              AS DECIMAL(18,6)) AS s
                     FROM tf JOIN dfq ON tf.term = dfq.term, stats)
          SELECT doc_id, count(*) AS n_terms, CAST(sum(s) AS DOUBLE) AS score
          FROM scored GROUP BY doc_id
          ORDER BY score DESC, doc_id ASC LIMIT 20""",
    "q85_doc_chunking" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          st AS (SELECT doc_id, toks,
                        unnest(generate_series(0, len(toks) - 1, 40)) AS start
                 FROM t)
          SELECT doc_id, CAST(start // 40 AS BIGINT) AS chunk_id,
                 CAST(len(list_slice(toks, start + 1, start + 50)) AS BIGINT) AS n_tokens,
                 md5(array_to_string(list_slice(toks, start + 1, start + 50), ' ')) AS chunk_hash
          FROM st ORDER BY doc_id ASC, chunk_id ASC""",
    "q86_redaction" ->
      s"""SELECT doc_id,
                 CAST(len(regexp_extract_all(text, '\\b(customer|order)\\b')) AS BIGINT)
                   AS n_redacted,
                 md5(regexp_replace(text, '\\b(customer|order)\\b', '[PII]', 'g'))
                   AS redacted_md5
          FROM documents ORDER BY doc_id ASC""",
    // the salted join is result-identical to the plain join — the
    // oracle states the plain form
    "q87_salted_join" ->
      s"""SELECT p_brand, count(*) AS n_items,
                 CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                     AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY p_brand ORDER BY p_brand ASC""",
    "q88_stratified_sample" ->
      s"""SELECT source, doc_id, CAST(rn AS BIGINT) AS rn FROM (
            SELECT source, doc_id,
                   row_number() OVER (PARTITION BY source
                     ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
            FROM documents)
          WHERE rn <= 3 ORDER BY source ASC, rn ASC""",
    // the oracle brute-forces |V|^2 levenshtein over the (tiny fixture)
    // vocabulary; the engine side uses delete-one blocking and never
    // builds the cross product
    "q89_fuzzy_pairs" ->
      s"""WITH v AS (SELECT DISTINCT p_brand AS tok FROM part)
          SELECT a.tok AS tok_a, b.tok AS tok_b,
                 CAST(levenshtein(a.tok, b.tok) AS BIGINT) AS dist
          FROM v a JOIN v b ON a.tok < b.tok
          WHERE levenshtein(a.tok, b.tok) <= 1
          ORDER BY tok_a ASC, tok_b ASC""",
    "q90_funnel" ->
      s"""WITH v AS (SELECT user_id, min(event_id) AS e1 FROM events
                     WHERE event_type = 'view' GROUP BY 1),
          c AS (SELECT e.user_id, min(e.event_id) AS e2
                FROM events e JOIN v ON e.user_id = v.user_id
                WHERE e.event_type = 'click' AND e.event_id > v.e1 GROUP BY 1),
          p AS (SELECT e.user_id, min(e.event_id) AS e3
                FROM events e JOIN c ON e.user_id = c.user_id
                WHERE e.event_type = 'purchase' AND e.event_id > c.e2 GROUP BY 1)
          SELECT stage, n_users FROM (
            SELECT '1_view' AS stage, count(*) AS n_users FROM v
            UNION ALL SELECT '2_click', count(*) FROM c
            UNION ALL SELECT '3_purchase', count(*) FROM p)
          ORDER BY stage ASC""",
    "q91_cohort_retention" ->
      s"""WITH e AS (SELECT DISTINCT user_id,
                            epoch_ns(ts) // 86400000000000 AS d FROM events),
          ch AS (SELECT user_id, min(d) AS cohort_d FROM e GROUP BY 1)
          SELECT ch.cohort_d, e.d - ch.cohort_d AS offset_d,
                 count(*) AS n_users
          FROM e JOIN ch ON e.user_id = ch.user_id
          GROUP BY 1, 2 ORDER BY cohort_d ASC, offset_d ASC""",
    // identical operand order to the Spark side: every Σ is an exact
    // DECIMAL(38,12), the closed form combines them in doubles whose
    // ops (including sqrt) are all IEEE-correctly-rounded
    // same INTEGER moments as the engine's limb sums — x = quantity,
    // y = price cents; DuckDB's BIGINT sum accumulates in exact HUGEINT
    "q92_exact_corr" ->
      s"""WITH sc AS (SELECT l_returnflag,
                        CAST(l_quantity AS BIGINT) AS x,
                        CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
                      FROM lineitem),
          m AS (
            SELECT l_returnflag, count(*) AS n,
                   sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                   sum(x * x) AS sxx, sum(y * y) AS syy
            FROM sc GROUP BY 1)
          SELECT l_returnflag, n,
                 floor(((n * CAST(sxy AS DOUBLE)) - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                       / (sqrt((n * CAST(sxx AS DOUBLE)) - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                          * sqrt((n * CAST(syy AS DOUBLE)) - (CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
                       * 1000000 + 0.5) / 1000000 AS corr_qty_price
          FROM m ORDER BY l_returnflag ASC""",
    "q93_null_safe_join" ->
      s"""WITH e AS (SELECT event_type,
                            nullif(CAST(json_extract_string(props, '$$.k') AS BIGINT) % 10, 0) AS kk
                     FROM events),
          v AS (SELECT kk, count(*) AS n_view FROM e
                WHERE event_type = 'view' GROUP BY 1),
          c AS (SELECT kk, count(*) AS n_click FROM e
                WHERE event_type = 'click' GROUP BY 1)
          SELECT v.kk, n_view, n_click
          FROM v JOIN c ON v.kk IS NOT DISTINCT FROM c.kk
          ORDER BY v.kk ASC NULLS FIRST""",
    "q94_debounce" ->
      s"""WITH w AS (SELECT user_id, epoch_ns(ts) AS t, event_id,
                            lag(epoch_ns(ts)) OVER (PARTITION BY user_id
                              ORDER BY epoch_ns(ts) ASC, event_id ASC) AS prev_t
                     FROM events)
          SELECT user_id, count(*) AS n_events,
                 count(CASE WHEN prev_t IS NULL OR t - prev_t >= 60000000000
                            THEN 1 END) AS n_kept
          FROM w GROUP BY 1 ORDER BY user_id ASC""",
    "q95_wow_change" ->
      s"""WITH g AS (
            SELECT l_returnflag,
                   datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) // 7 AS wk,
                   sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS rev
            FROM lineitem GROUP BY 1, 2),
          lg AS (SELECT *, lag(rev) OVER (PARTITION BY l_returnflag
                                          ORDER BY wk ASC) AS prev FROM g)
          SELECT l_returnflag, CAST(wk AS BIGINT) AS wk,
                 CAST(round(rev, 2) AS DOUBLE) AS revenue,
                 CAST(round(rev - prev, 2) AS DOUBLE) AS wow_delta,
                 floor(CAST(rev - prev AS DOUBLE) / CAST(prev AS DOUBLE)
                       * 1000000 + 0.5) / 1000000 AS wow_pct
          FROM lg ORDER BY l_returnflag ASC, wk ASC""",
    // triangles a<b<c once each: wedge (a,m)+(m,c) closed by (a,c)
    "q96_triangles" -> triangleOracle(uncappedPrsCte),
    "q97_decontamination" ->
      s"""WITH tk AS (SELECT doc_id, source, string_split(text, ' ') AS toks
                      FROM documents),
          g AS (SELECT doc_id, source, array_to_string(toks[p:p+4], ' ') AS ngram
                FROM (SELECT doc_id, source, toks,
                             unnest(range(1, len(toks) - 3)) AS p
                      FROM tk WHERE len(toks) >= 5)),
          ev AS (SELECT DISTINCT ngram FROM g WHERE source = 'src0'),
          tr AS (SELECT DISTINCT doc_id, ngram FROM g WHERE source != 'src0'),
          agg AS (SELECT tr.doc_id, count(*) AS n_grams,
                         count(ev.ngram) AS n_contaminated
                  FROM tr LEFT JOIN ev ON tr.ngram = ev.ngram
                  GROUP BY tr.doc_id)
          SELECT doc_id, n_grams, n_contaminated,
                 floor(CAST(n_contaminated AS DOUBLE) / n_grams
                       * 1000000 + 0.5) / 1000000 AS contamination
          FROM agg WHERE n_contaminated > 0 ORDER BY doc_id ASC""",
    "q98_seq_packing" ->
      s"""WITH t AS (SELECT source, doc_id,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                     FROM documents),
          o AS (SELECT *, coalesce(sum(n_tokens) OVER (
                    PARTITION BY source ORDER BY doc_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS tok_offset FROM t)
          SELECT source, doc_id, n_tokens,
                 CAST(tok_offset AS BIGINT) AS tok_offset,
                 CAST(tok_offset // 256 AS BIGINT) AS first_chunk,
                 CAST((tok_offset + n_tokens - 1) // 256 AS BIGINT) AS last_chunk
          FROM o ORDER BY source ASC, doc_id ASC""",
    "q99_bpe_pairs" ->
      s"""WITH tk AS (SELECT string_split(text, ' ') AS toks FROM documents),
          p AS (SELECT array_to_string(toks[p:p+1], ' ') AS pair
                FROM (SELECT toks, unnest(range(1, len(toks))) AS p
                      FROM tk WHERE len(toks) >= 2))
          SELECT pair, count(*) AS n FROM p GROUP BY pair
          ORDER BY n DESC, pair ASC LIMIT 20""",
    "q100_cooccur_lift" ->
      s"""WITH dt AS (SELECT DISTINCT doc_id, tok FROM
                        (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                         FROM documents)),
          dfq AS (SELECT tok, count(*) AS df FROM dt GROUP BY tok),
          voc AS (SELECT tok, df FROM
                    (SELECT *, row_number() OVER (ORDER BY df DESC, tok ASC)
                       AS rn FROM dfq) WHERE rn <= 30),
          vt AS (SELECT dt.doc_id, dt.tok, voc.df FROM dt JOIN voc USING (tok)),
          nn AS (SELECT count(*) AS n_docs FROM documents),
          pr AS (SELECT a.tok AS tok_a, b.tok AS tok_b,
                        a.df AS df_a, b.df AS df_b, count(*) AS df_ab
                 FROM vt a JOIN vt b
                   ON a.doc_id = b.doc_id AND a.tok < b.tok
                 GROUP BY 1, 2, 3, 4)
          SELECT tok_a, tok_b, df_a, df_b, df_ab,
                 floor(CAST(df_ab * nn.n_docs AS DOUBLE)
                       / CAST(df_a * df_b AS DOUBLE) * 1000000 + 0.5) / 1000000
                   AS lift
          FROM pr, nn WHERE df_ab >= 5 ORDER BY tok_a ASC, tok_b ASC""",
    "q101_pagerank" -> pagerankOracle(uncappedPrsCte),
    // integer moments in the cents domain (see q92); slope/intercept
    // divide by the same literal 100 the engine divides by
    "q102_line_fit" ->
      s"""WITH sc AS (SELECT l_returnflag,
                        CAST(l_quantity AS BIGINT) AS x,
                        CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
                      FROM lineitem),
          m AS (
            SELECT l_returnflag, count(*) AS n_obs,
                   sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                   sum(x * x) AS sxx, sum(y * y) AS syy
            FROM sc GROUP BY 1),
          c AS (SELECT l_returnflag, n_obs,
                  (n_obs * CAST(sxy AS DOUBLE))
                    - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) AS cn,
                  (n_obs * CAST(sxx AS DOUBLE))
                    - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS vxn,
                  (n_obs * CAST(syy AS DOUBLE))
                    - (CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS vyn,
                  CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
                FROM m),
          sl AS (SELECT *, CASE WHEN vxn = 0 THEN NULL ELSE cn / vxn END AS slope
                 FROM c)
          SELECT l_returnflag, n_obs,
                 floor(slope / 100 * 1000000 + 0.5) / 1000000 AS slope,
                 floor((syd - slope * sxd) / n_obs / 100 * 1000000 + 0.5)
                   / 1000000 AS intercept,
                 CASE WHEN vxn = 0 OR vyn = 0 THEN NULL
                      ELSE floor((cn * cn) / (vxn * vyn) * 1000000 + 0.5) / 1000000
                 END AS r2
          FROM sl ORDER BY l_returnflag ASC""",
    "q103_token_gini" ->
      s"""WITH tc AS (SELECT doc_id, tok, count(*) AS c FROM
                        (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                         FROM documents) GROUP BY 1, 2),
          m AS (SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_distinct,
                       sum(c * c) AS ssq
                FROM tc GROUP BY 1)
          SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, n_distinct,
                 floor((1.0 - CAST(ssq AS DOUBLE)
                              / CAST(n_tokens * n_tokens AS DOUBLE))
                       * 1000000 + 0.5) / 1000000 AS gini
          FROM m ORDER BY doc_id ASC""",
    "q104_vocab_jaccard" ->
      s"""WITH gt AS (SELECT DISTINCT g, tok FROM
                        (SELECT source AS g,
                                unnest(string_split(text, ' ')) AS tok
                         FROM documents)),
          sz AS (SELECT g, count(*) AS vsize FROM gt GROUP BY 1),
          it AS (SELECT a.g AS g_a, b.g AS g_b, count(*) AS n_common
                 FROM gt a JOIN gt b ON a.tok = b.tok AND a.g < b.g
                 GROUP BY 1, 2)
          SELECT g_a, g_b, sa.vsize AS size_a, sb.vsize AS size_b, n_common,
                 floor(CAST(n_common AS DOUBLE)
                       / CAST(sa.vsize + sb.vsize - n_common AS DOUBLE)
                       * 1000000 + 0.5) / 1000000 AS jaccard
          FROM it JOIN sz sa ON it.g_a = sa.g JOIN sz sb ON it.g_b = sb.g
          ORDER BY g_a ASC, g_b ASC""",
    // the oracle's one global-order cumulative window is the semantic
    // spec; the engine side replaces it with the two-level bucketed
    // prefix sum (Aggregates.ks2Sample)
    "q105_ks_drift" ->
      s"""WITH f AS (SELECT value AS v,
                       count(CASE WHEN event_type = 'view' THEN 1 END) AS ca,
                       count(CASE WHEN event_type = 'click' THEN 1 END) AS cb
                     FROM events
                     WHERE $sqlClean AND event_type IN ('view', 'click')
                     GROUP BY value),
          c AS (SELECT sum(ca) OVER w AS a, sum(cb) OVER w AS b FROM f
                WINDOW w AS (ORDER BY v ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          t AS (SELECT max(a) AS n_a, max(b) AS n_b FROM c),
          d AS (SELECT max(abs(CAST(a AS DECIMAL(38,0)) * t.n_b
                               - CAST(b AS DECIMAL(38,0)) * t.n_a)) AS dnum,
                       t.n_a, t.n_b
                FROM c, t GROUP BY t.n_a, t.n_b)
          SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
                 floor(CAST(dnum AS DOUBLE)
                       / CAST(CAST(n_a AS DECIMAL(38,0)) * n_b AS DOUBLE)
                       * 1000000 + 0.5) / 1000000 AS ks_d
          FROM d ORDER BY n_a ASC""",
    "q106_scd2_intervals" ->
      s"""WITH s AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type,
                       lag(epoch_us(ts)) OVER w AS pt,
                       lag(event_type) OVER w AS pa
                     FROM events
                     WINDOW w AS (PARTITION BY user_id
                                  ORDER BY epoch_us(ts) ASC, event_id ASC)),
          c AS (SELECT user_id, t, event_id, event_type FROM s
                WHERE pt IS NULL OR event_type IS DISTINCT FROM pa)
          SELECT user_id, CAST(row_number() OVER w2 AS BIGINT) AS version,
                 event_type, t AS valid_from, lead(t) OVER w2 AS valid_to
          FROM c WINDOW w2 AS (PARTITION BY user_id
                               ORDER BY t ASC, event_id ASC)
          ORDER BY user_id ASC, version ASC""",
    "q107_interval_merge" ->
      s"""WITH iv AS (SELECT user_id, epoch_us(ts) AS st,
                        epoch_us(ts)
                          + CAST(floor(value * 1000000.0) AS BIGINT) AS en
                      FROM events WHERE $sqlClean AND value > 0),
          w1 AS (SELECT user_id, st, en,
                   max(en) OVER (PARTITION BY user_id
                                 ORDER BY st ASC, en ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) AS prev_en
                 FROM iv),
          f AS (SELECT user_id, st, en,
                  CASE WHEN prev_en IS NULL OR st > prev_en
                       THEN 1 ELSE 0 END AS nf FROM w1),
          isl AS (SELECT user_id, st, en,
                    sum(nf) OVER (PARTITION BY user_id
                                  ORDER BY st ASC, en ASC) AS island FROM f)
          SELECT user_id, CAST(island AS BIGINT) AS island,
                 min(st) AS merged_start, max(en) AS merged_end,
                 count(*) AS n_intervals
          FROM isl GROUP BY user_id, island
          ORDER BY user_id ASC, island ASC""",
    // textbook O(n²) dominance spec — the engine's pruned two-stage plan
    // must reproduce it exactly
    "q108_skyline" ->
      s"""WITH g AS (SELECT user_id, count(*) AS n,
                       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
                       CAST(sum(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS q
                     FROM events WHERE $sqlClean
                     GROUP BY user_id HAVING count(*) >= 30),
          st AS (SELECT user_id,
                   floor(s / n * 1000000 + 0.5) / 1000000 AS avg_value,
                   floor(sqrt(greatest(0.0, q / n - (s / n) * (s / n)))
                         * 1000000 + 0.5) / 1000000 AS stddev_value
                 FROM g)
          SELECT user_id, avg_value, stddev_value FROM st p
          WHERE NOT EXISTS (
            SELECT 1 FROM st q
            WHERE q.avg_value <= p.avg_value
              AND q.stddev_value <= p.stddev_value
              AND (q.avg_value < p.avg_value
                   OR q.stddev_value < p.stddev_value))
          ORDER BY avg_value ASC, user_id ASC""",
    "q109_tfidf_pairs" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                       FROM documents),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
          dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1
                  HAVING count(*) BETWEEN 2 AND 100),
          n AS (SELECT count(*) AS n_total FROM documents),
          wt AS (SELECT tf.doc_id, tf.term,
                   CAST(tf.tf * ln(CAST(n_total AS DOUBLE) / df)
                        AS DECIMAL(18,6)) AS w
                 FROM tf JOIN dfq USING (term), n),
          nr AS (SELECT doc_id, sum(w * w) AS norm2 FROM wt GROUP BY 1),
          dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     count(*) AS n_shared, sum(a.w * b.w) AS dot
                   FROM wt a JOIN wt b
                     ON a.term = b.term AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
          cs AS (SELECT doc_a, doc_b, n_shared,
                   floor(CAST(dot AS DOUBLE)
                         / (sqrt(CAST(na.norm2 AS DOUBLE))
                            * sqrt(CAST(nb.norm2 AS DOUBLE)))
                         * 1000000 + 0.5) / 1000000 AS cosine
                 FROM dots JOIN nr na ON na.doc_id = dots.doc_a
                           JOIN nr nb ON nb.doc_id = dots.doc_b)
          SELECT doc_a, doc_b, n_shared, cosine FROM cs
          WHERE cosine >= 0.30 ORDER BY doc_a ASC, doc_b ASC""",
    "q110_unigram_logprob" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
                       FROM documents),
          c AS (SELECT tk, count(*) AS cnt FROM tok GROUP BY 1),
          t AS (SELECT sum(cnt) AS t_total FROM c),
          lm AS (SELECT tk, CAST(ln(CAST(cnt AS DOUBLE))
                                 - ln(CAST(t_total AS DOUBLE))
                                 AS DECIMAL(18,6)) AS lp FROM c, t)
          SELECT doc_id, count(*) AS n_tokens,
                 floor(CAST(sum(lp) AS DOUBLE) / count(*)
                       * 1000000 + 0.5) / 1000000 AS avg_logprob
          FROM tok JOIN lm USING (tk)
          GROUP BY doc_id ORDER BY doc_id ASC""",
    "q111_kmv_distinct" ->
      s"""WITH tok AS (SELECT DISTINCT source,
                         unnest(string_split(text, ' ')) AS tk
                       FROM documents),
          h AS (SELECT source,
                  ('0x' || substr(md5(tk), 1, 15))::BIGINT AS h FROM tok),
          bk AS (SELECT source, h FROM h
                 QUALIFY row_number() OVER (PARTITION BY source
                                            ORDER BY h ASC) <= 256),
          agg AS (SELECT source, count(*) AS n_hashes, max(h) AS kth_hash
                  FROM bk GROUP BY 1),
          ex AS (SELECT source, count(*) AS exact_distinct
                 FROM tok GROUP BY 1)
          SELECT agg.source, n_hashes, kth_hash,
                 CASE WHEN n_hashes < 256 THEN CAST(n_hashes AS DOUBLE)
                      ELSE floor(255 * CAST(1152921504606846976 AS DOUBLE)
                                 / kth_hash * 1000000 + 0.5) / 1000000
                      END AS est_distinct,
                 exact_distinct
          FROM agg JOIN ex ON agg.source = ex.source
          ORDER BY agg.source ASC""",
    "q112_golden_record" ->
      s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS t, event_id,
                        event_type, value,
                        CAST(json_extract_string(props, '$$.k') AS BIGINT)
                          AS k_prop
                      FROM events),
          lv AS (SELECT user_id, value FROM (
                   SELECT user_id, value, row_number() OVER (
                     PARTITION BY user_id ORDER BY t DESC, event_id DESC) AS rn
                   FROM ev WHERE value IS NOT NULL AND NOT isnan(value))
                 WHERE rn = 1),
          lk AS (SELECT user_id, k_prop FROM (
                   SELECT user_id, k_prop, row_number() OVER (
                     PARTITION BY user_id ORDER BY t DESC, event_id DESC) AS rn
                   FROM ev WHERE k_prop IS NOT NULL) WHERE rn = 1),
          lt AS (SELECT user_id, event_type FROM (
                   SELECT user_id, event_type, row_number() OVER (
                     PARTITION BY user_id ORDER BY t DESC, event_id DESC) AS rn
                   FROM ev WHERE event_type IS NOT NULL) WHERE rn = 1),
          ag AS (SELECT user_id, max(t) AS last_seen, count(*) AS n_rows
                 FROM ev GROUP BY 1)
          SELECT ag.user_id, round(lv.value, 6) AS last_value,
                 lk.k_prop AS last_k, lt.event_type AS last_type,
                 ag.last_seen, ag.n_rows
          FROM ag LEFT JOIN lv USING (user_id) LEFT JOIN lk USING (user_id)
                  LEFT JOIN lt USING (user_id)
          ORDER BY ag.user_id ASC""",
    // operand order mirrors TimeSeries.rollingZScore exactly: decimal
    // window sums → double mean/var/σ → one division per score
    "q113_anomaly_zscore" ->
      s"""WITH w AS (SELECT user_id, event_id, value,
                       count(value) OVER win AS n_ctx,
                       CAST(sum(CAST(value AS DECIMAL(18,6))) OVER win
                            AS DOUBLE) AS s1,
                       CAST(sum(CAST(value AS DECIMAL(18,6))
                                * CAST(value AS DECIMAL(18,6))) OVER win
                            AS DOUBLE) AS s2
                     FROM events WHERE $sqlClean
                     WINDOW win AS (PARTITION BY user_id ORDER BY event_id ASC
                                    ROWS BETWEEN 20 PRECEDING
                                             AND 1 PRECEDING)),
          z AS (SELECT user_id, event_id, value, n_ctx,
                  (value - s1 / n_ctx)
                    / sqrt(greatest((s2 - s1 * s1 / n_ctx) / n_ctx, 0.0))
                    AS zscore
                FROM w
                WHERE n_ctx >= 10
                  AND sqrt(greatest((s2 - s1 * s1 / n_ctx) / n_ctx, 0.0)) > 0)
          SELECT user_id, event_id, round(value, 6) AS value, n_ctx,
                 round(zscore, 6) AS zscore
          FROM z WHERE abs(zscore) > 2.5
          ORDER BY user_id ASC, event_id ASC""",
    "q114_session_paths" ->
      s"""WITH $sessionCtes,
          tr AS (SELECT event_type AS et_from,
                   lead(event_type) OVER (PARTITION BY user_id, sid
                                          ORDER BY t ASC, event_id ASC)
                     AS et_to
                 FROM sess)
          SELECT et_from, et_to, count(*) AS n_transitions
          FROM tr WHERE et_to IS NOT NULL GROUP BY 1, 2
          ORDER BY n_transitions DESC, et_from ASC, et_to ASC""",
    // compares the actual columns null-safely — digest equality on the
    // engine side must coincide with value equality
    "q115_snapshot_diff" ->
      s"""WITH ce AS (SELECT user_id, epoch_ns(ts) AS t, event_id,
                        event_type, value
                      FROM events WHERE $sqlClean),
          a AS (SELECT user_id, event_type, value FROM (
                  SELECT *, row_number() OVER (PARTITION BY user_id
                    ORDER BY t DESC, event_id DESC) AS rn
                  FROM ce WHERE event_id % 4 <> 0) WHERE rn = 1),
          b AS (SELECT user_id, event_type, value FROM (
                  SELECT *, row_number() OVER (PARTITION BY user_id
                    ORDER BY t DESC, event_id DESC) AS rn
                  FROM ce) WHERE rn = 1),
          d AS (SELECT CASE WHEN b.user_id IS NULL THEN 'removed'
                            WHEN a.user_id IS NULL THEN 'added'
                            WHEN a.event_type IS DISTINCT FROM b.event_type
                              OR a.value IS DISTINCT FROM b.value
                            THEN 'changed' ELSE 'unchanged' END AS status
                FROM a FULL OUTER JOIN b ON a.user_id = b.user_id)
          SELECT status, count(*) AS n_keys FROM d GROUP BY 1
          ORDER BY status ASC""",
    // q = floor(x/scale + ½) with scale always spelled maxabs/127, so
    // both engines run the identical IEEE op sequence
    "q116_quantize_audit" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings),
          ed AS (SELECT vec_id, i AS dim, v[i] AS x
                 FROM e, (SELECT unnest(range(1, ${EmbeddingDim + 1})) AS i) t),
          m AS (SELECT vec_id, x,
                  max(abs(x)) OVER (PARTITION BY vec_id) AS maxabs FROM ed),
          qz AS (SELECT vec_id, x, maxabs, maxabs / 127 AS scale,
                   CASE WHEN maxabs = 0 THEN 0
                        ELSE floor(x / (maxabs / 127) + 0.5) END AS q
                 FROM m),
          er AS (SELECT vec_id, scale, q,
                   CASE WHEN maxabs = 0 THEN 0.0
                        ELSE abs(x - q * (maxabs / 127)) END AS err
                 FROM qz)
          SELECT vec_id, count(*) AS n_dims,
                 round(max(scale), 6) AS scale,
                 CAST(max(abs(q)) AS BIGINT) AS max_q,
                 round(max(err), 6) AS max_abs_err
          FROM er GROUP BY vec_id ORDER BY vec_id ASC""",
    "q117_attribution" ->
      s"""WITH $sessionCtes,
          att AS (SELECT event_type,
                    last_value(CASE WHEN event_type IN ('view', 'click')
                                    THEN event_type END IGNORE NULLS)
                      OVER (PARTITION BY user_id, sid
                            ORDER BY t ASC, event_id ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS last_touch
                  FROM sess)
          SELECT coalesce(last_touch, 'none') AS channel,
                 count(*) AS n_purchases
          FROM att WHERE event_type = 'purchase'
          GROUP BY 1 ORDER BY channel ASC""",
    // threshold applies to the UNROUNDED ratio on both sides; the
    // 6-dp rounding is output-only. The df band is corpus-relative
    // (quantile + fan-out budget, dfBandCtes) — same derivation as the
    // engine, exact integers throughout.
    "q118_containment" ->
      s"""WITH $sqlShingles,
          $dfBandCtes,
          sz AS (SELECT doc_id, count(*) AS n_a FROM b GROUP BY 1),
          it AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
                   count(*) AS n_common
                 FROM b x JOIN b y
                   ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
                 GROUP BY 1, 2)
          SELECT doc_a, doc_b, n_a, n_common,
                 round(CAST(n_common AS DOUBLE) / CAST(n_a AS DOUBLE), 6)
                   AS containment
          FROM it JOIN sz ON sz.doc_id = it.doc_a
          WHERE CAST(n_common AS DOUBLE) / CAST(n_a AS DOUBLE) >= $MinContainment
          ORDER BY doc_a ASC, doc_b ASC""",
    "q119_clustering_coeff" -> clusteringOracle(uncappedPrsCte),
    "q120_weighted_select" ->
      s"""WITH d AS (SELECT doc_id, source,
                       0.5 + CAST(n_chars % 100 AS DOUBLE) / 100 AS w
                     FROM documents),
          k AS (SELECT doc_id, source,
                  floor(pow((('0x' || substr(md5(doc_id || 'sel-v1'), 1, 8))::BIGINT
                             + 1) / 4294967296.0, 1.0 / w)
                        * 1000000 + 0.5) / 1000000 AS sel_key
                FROM d),
          sel AS (SELECT * FROM k QUALIFY row_number() OVER (
                    PARTITION BY source
                    ORDER BY sel_key DESC, doc_id ASC) <= 5)
          SELECT source, doc_id, sel_key FROM sel
          ORDER BY source ASC, sel_key DESC, doc_id ASC""",
    // the q102 cents-domain fit re-derived, broadcast onto the rows,
    // ranked by the UNROUNDED |residual| (every op deterministic IEEE)
    "q121_residual_outliers" ->
      s"""WITH sc AS (SELECT l_returnflag,
                        CAST(l_quantity AS BIGINT) AS x,
                        CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
                      FROM lineitem),
          m AS (SELECT l_returnflag, count(*) AS n_obs,
                  sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                  sum(x * x) AS sxx FROM sc GROUP BY 1),
          c AS (SELECT l_returnflag, n_obs,
                  n_obs * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cn,
                  n_obs * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vxn,
                  CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
                FROM m),
          fit AS (SELECT l_returnflag, cn / vxn AS slope,
                    (syd - (cn / vxn) * sxd) / n_obs AS intercept FROM c),
          r AS (SELECT li.l_returnflag, li.l_orderkey, li.l_linenumber,
                  li.l_quantity,
                  CAST(floor(li.l_extendedprice * 100 + 0.5) AS BIGINT)
                    - (fit.slope * CAST(li.l_quantity AS BIGINT)
                       + fit.intercept) AS resid
                FROM lineitem li JOIN fit USING (l_returnflag)),
          top AS (SELECT * FROM r QUALIFY row_number() OVER (
                    PARTITION BY l_returnflag
                    ORDER BY abs(resid) DESC, l_orderkey ASC,
                             l_linenumber ASC) <= 5)
          SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
                 floor(resid / 100 * 1000000 + 0.5) / 1000000 AS residual
          FROM top ORDER BY l_returnflag ASC, abs(resid) DESC,
                            l_orderkey ASC, l_linenumber ASC""",
    "q122_skew_audit" ->
      s"""WITH counts AS (SELECT l_suppkey, count(*) AS n_rows
                          FROM lineitem GROUP BY 1)
          SELECT count(*) AS n_keys, max(n_rows) AS max_rows,
                 floor(quantile_cont(n_rows, 0.5) * 1000000 + 0.5) / 1000000
                   AS median_rows,
                 floor(avg(n_rows) * 1000000 + 0.5) / 1000000 AS avg_rows,
                 floor(CAST(max(n_rows) AS DOUBLE) / quantile_cont(n_rows, 0.5)
                       * 1000000 + 0.5) / 1000000 AS skew_factor
          FROM counts ORDER BY n_keys ASC""",
    "q123_lpa_communities" -> lpaOracle(uncappedPrsCte),
    "q124_pattern_audit" -> {
      val cats = Seq(
        ("entity", "\\b(customer|order|supplier)\\b"),
        ("number", "\\b[0-9]+\\b"),
        ("capitalized", "\\b[A-Z][a-z]+\\b"))
      val arms = cats.map { case (n, p) =>
        s"""SELECT source, '$n' AS category,
               CAST(len(regexp_extract_all(text, '$p')) AS BIGINT) AS n
            FROM documents"""
      }.mkString(" UNION ALL ")
      s"""WITH c AS ($arms)
          SELECT source, category,
                 count(CASE WHEN n > 0 THEN 1 END) AS n_docs_hit,
                 CAST(sum(n) AS BIGINT) AS n_matches
          FROM c GROUP BY 1, 2 ORDER BY source ASC, category ASC"""
    },
    "q125_ecdf" ->
      s"""WITH b AS (SELECT event_type, CAST(floor(value) AS BIGINT) AS bucket,
                       count(*) AS n
                     FROM events WHERE $sqlClean GROUP BY 1, 2),
          c AS (SELECT event_type, bucket, n,
                  sum(n) OVER (PARTITION BY event_type
                               ORDER BY bucket ASC) AS cum_n,
                  sum(n) OVER (PARTITION BY event_type) AS total FROM b)
          SELECT event_type, bucket, n, CAST(cum_n AS BIGINT) AS cum_n,
                 floor(CAST(cum_n AS DOUBLE) / CAST(total AS DOUBLE)
                       * 1000000 + 0.5) / 1000000 AS ecdf
          FROM c ORDER BY event_type ASC, bucket ASC""",
    // 6-dp-floored logs make every product exact in double (<= 47
    // mantissa bits), so the decimal moments equal the engine's
    "q126_zipf_fit" ->
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tk
                       FROM documents),
          f AS (SELECT tk, count(*) AS cnt FROM tok GROUP BY 1),
          r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tk ASC)
                       AS rank FROM f),
          l AS (SELECT floor(ln(CAST(rank AS DOUBLE)) * 1000000 + 0.5)
                         / 1000000 AS lx,
                       floor(ln(CAST(cnt AS DOUBLE)) * 1000000 + 0.5)
                         / 1000000 AS ly FROM r),
          m AS (SELECT count(*) AS n_obs,
                  sum(CAST(lx AS DECIMAL(38,12))) AS sx,
                  sum(CAST(ly AS DECIMAL(38,12))) AS sy,
                  sum(CAST(lx * ly AS DECIMAL(38,12))) AS sxy,
                  sum(CAST(lx * lx AS DECIMAL(38,12))) AS sxx,
                  sum(CAST(ly * ly AS DECIMAL(38,12))) AS syy
                FROM l),
          c AS (SELECT n_obs,
                  (n_obs * CAST(sxy AS DOUBLE))
                    - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) AS cn,
                  (n_obs * CAST(sxx AS DOUBLE))
                    - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS vxn,
                  (n_obs * CAST(syy AS DOUBLE))
                    - (CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS vyn,
                  CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
                FROM m),
          sl AS (SELECT *, CASE WHEN vxn = 0 THEN NULL ELSE cn / vxn END
                       AS slope FROM c)
          SELECT n_obs AS vocab_size,
                 floor(slope * 1000000 + 0.5) / 1000000 AS zipf_slope,
                 floor((syd - slope * sxd) / n_obs * 1000000 + 0.5) / 1000000
                   AS intercept,
                 CASE WHEN vxn = 0 OR vyn = 0 THEN NULL
                      ELSE floor((cn * cn) / (vxn * vyn) * 1000000 + 0.5)
                           / 1000000 END AS r2
          FROM sl ORDER BY vocab_size ASC""",
    "q127_cluster_report" ->
      s"""WITH $simhashCte,
          prs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM bnd a JOIN bnd b
                    ON a.band = b.band AND a.bv = b.bv
                      AND a.doc_id < b.doc_id
                  WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimHashMaxHamming),
          edges AS MATERIALIZED (SELECT doc_a AS n, doc_b AS m FROM prs
                    UNION SELECT doc_b AS n, doc_a AS m FROM prs),
          ${ccUnrolledCtes()},
          sz AS (SELECT cluster_id, count(*) AS n_docs FROM clusters GROUP BY 1),
          pc AS (SELECT c.cluster_id, count(*) AS n_pairs
                 FROM prs JOIN clusters c ON prs.doc_a = c.n GROUP BY 1)
          SELECT sz.cluster_id AS cluster_id, n_docs, n_pairs,
                 floor(CAST(n_pairs AS DOUBLE) * 2
                       / CAST(n_docs * (n_docs - 1) AS DOUBLE)
                       * 1000000 + 0.5) / 1000000 AS pair_density
          FROM sz JOIN pc ON sz.cluster_id = pc.cluster_id
          ORDER BY sz.cluster_id ASC""",
    "q128_mode_per_group" ->
      s"""WITH b AS (SELECT event_type, CAST(floor(value) AS BIGINT) AS bucket,
                       count(*) AS n
                     FROM events WHERE $sqlClean GROUP BY 1, 2)
          SELECT event_type, bucket AS mode_bucket, n AS n_rows FROM b
          QUALIFY row_number() OVER (PARTITION BY event_type
                                     ORDER BY n DESC, bucket ASC) = 1
          ORDER BY event_type ASC""",
    "q129_ewma" -> ewmaOracle,
    "q130_minhash_audit" ->
      s"""$minhashCtes,
          cand AS MATERIALIZED (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bk a JOIN bk b ON a.band = b.band
              AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
          est AS (SELECT doc_a, doc_b,
                    CAST(CASE WHEN sa.s0 = sb.s0 THEN 1 ELSE 0 END + CASE WHEN sa.s1 = sb.s1 THEN 1 ELSE 0 END + CASE WHEN sa.s2 = sb.s2 THEN 1 ELSE 0 END + CASE WHEN sa.s3 = sb.s3 THEN 1 ELSE 0 END + CASE WHEN sa.s4 = sb.s4 THEN 1 ELSE 0 END + CASE WHEN sa.s5 = sb.s5 THEN 1 ELSE 0 END + CASE WHEN sa.s6 = sb.s6 THEN 1 ELSE 0 END + CASE WHEN sa.s7 = sb.s7 THEN 1 ELSE 0 END + CASE WHEN sa.s8 = sb.s8 THEN 1 ELSE 0 END + CASE WHEN sa.s9 = sb.s9 THEN 1 ELSE 0 END + CASE WHEN sa.s10 = sb.s10 THEN 1 ELSE 0 END + CASE WHEN sa.s11 = sb.s11 THEN 1 ELSE 0 END AS DOUBLE) / 12 AS est_raw
                  FROM cand JOIN sig sa ON sa.doc_id = cand.doc_a
                            JOIN sig sb ON sb.doc_id = cand.doc_b),
          sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
          -- candidate-restricted intersection, mirroring the ENGINE's
          -- join order (cand → a-side shingles → b-side match): the
          -- global sh×sh self-join form pays Σdf² — 10 decades of
          -- wasted pairs in the sf10 flood regime, where it overran
          -- the spill disk; this form is linear in |cand|·shingles/doc
          cm AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
                 FROM cand c
                 JOIN sh x ON x.doc_id = c.doc_a
                 JOIN sh y ON y.doc_id = c.doc_b
                   AND y.shingle = x.shingle
                 GROUP BY 1, 2)
          SELECT est.doc_a, est.doc_b,
                 floor(est_raw * 1000000 + 0.5) / 1000000 AS est_jaccard,
                 floor(CAST(coalesce(cm.n_common, 0) AS DOUBLE)
                       / CAST(sa.n_sh + sb.n_sh - coalesce(cm.n_common, 0)
                              AS DOUBLE) * 1000000 + 0.5) / 1000000
                   AS exact_jaccard
          FROM est LEFT JOIN cm ON cm.doc_a = est.doc_a
                                AND cm.doc_b = est.doc_b
               JOIN sz sa ON sa.doc_id = est.doc_a
               JOIN sz sb ON sb.doc_id = est.doc_b
          ORDER BY est.doc_a ASC, est.doc_b ASC""",
    "q131_stream_dedup" ->
      s"""SELECT event_type, count(*) AS n_keys,
                 count(DISTINCT user_id) AS n_users,
                 count(DISTINCT day) AS n_days
          FROM (SELECT DISTINCT user_id, event_type,
                       strftime(ts, '%Y-%m-%d') AS day FROM events)
          GROUP BY event_type ORDER BY event_type ASC""",
    "q132_stream_user_stats" ->
      s"""WITH m AS (
            SELECT user_id, count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv,
                   CAST(sum(CAST(value AS DECIMAL(18,6)) *
                            CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sq
            FROM events WHERE $sqlClean GROUP BY user_id)
          SELECT user_id, n_events,
                 floor((sv / n_events) * 1000000 + 0.5) / 1000000 AS mean_value,
                 floor(sqrt(greatest(sq / n_events
                                     - (sv / n_events) * (sv / n_events), 0))
                       * 1000000 + 0.5) / 1000000 AS stddev_value
          FROM m ORDER BY user_id ASC""",
    "q133_higher_moments" ->
      s"""WITH p AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS v
                     FROM lineitem),
          s AS (SELECT l_returnflag, count(v) AS n,
                       sum(v) AS s1, sum(v*v) AS s2,
                       sum(v*v*v) AS s3, sum(v*v*v*v) AS s4
                FROM p GROUP BY l_returnflag),
          d AS (SELECT l_returnflag, n,
                       CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                       CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS s2n,
                       CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS s3n,
                       CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS s4n
                FROM s),
          m AS (SELECT l_returnflag, n, mean,
                       s2n - mean * mean AS m2,
                       s3n - 3.0 * mean * s2n + 2.0 * mean * mean * mean AS m3,
                       s4n - 4.0 * mean * s3n + 6.0 * mean * mean * s2n
                           - 3.0 * (mean * mean) * (mean * mean) AS m4
                FROM d)
          SELECT l_returnflag, n,
                 floor(mean * 1000000 + 0.5) / 1000000 AS mean_value,
                 CASE WHEN m2 > 0 THEN
                   floor(m3 / (m2 * sqrt(m2)) * 1000000 + 0.5) / 1000000
                 END AS skewness,
                 CASE WHEN m2 > 0 THEN
                   floor((m4 / (m2 * m2) - 3.0) * 1000000 + 0.5) / 1000000
                 END AS kurtosis
          FROM m ORDER BY l_returnflag ASC""",
    "q134_distribution_position" ->
      s"""WITH r AS (
            SELECT event_type, value,
                   ntile(4) OVER w AS quartile,
                   percent_rank() OVER w AS pr,
                   cume_dist() OVER w AS cd
            FROM events WHERE $sqlClean
            WINDOW w AS (PARTITION BY event_type
                         ORDER BY value ASC, event_id ASC))
          SELECT event_type, quartile, count(*) AS n,
                 floor(min(value) * 1000000 + 0.5) / 1000000 AS lo,
                 floor(max(value) * 1000000 + 0.5) / 1000000 AS hi,
                 floor(max(pr) * 1000000 + 0.5) / 1000000 AS max_pct_rank,
                 floor(max(cd) * 1000000 + 0.5) / 1000000 AS max_cume_dist
          FROM r GROUP BY event_type, quartile
          ORDER BY event_type ASC, quartile ASC""",
    "q135_exact_regime_quantiles" ->
      s"""SELECT event_type, count(value) AS n,
                 floor(quantile_disc(value, 0.5) * 1000000 + 0.5) / 1000000
                   AS p50,
                 floor(quantile_disc(value, 0.9) * 1000000 + 0.5) / 1000000
                   AS p90
          FROM events WHERE $sqlClean
          GROUP BY event_type ORDER BY event_type ASC""",
    "q136_segment_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
          f AS (SELECT doc_id, toks, CAST(floor(len(toks) / 8) AS INT) AS nseg
                FROM t WHERE len(toks) >= 8),
          seg AS (SELECT doc_id,
                    array_to_string(toks[i*8+1 : i*8+8], ' ') AS seg
                  FROM f, unnest(range(0, nseg)) AS u(i)),
          d AS (SELECT seg, count(DISTINCT doc_id) AS nd FROM seg GROUP BY seg),
          j AS (SELECT s.doc_id,
                  CASE WHEN d.nd > 1 THEN 1 ELSE 0 END AS isdup
                FROM seg s JOIN d USING (seg))
          SELECT doc_id, count(*) AS n_segments,
                 CAST(sum(isdup) AS BIGINT) AS n_dup_segments,
                 floor(CAST(sum(isdup) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                       * 1000000 + 0.5) / 1000000 AS dup_fraction
          FROM j GROUP BY doc_id ORDER BY doc_id ASC""",
    "q137_weighted_median" ->
      """WITH bp AS (SELECT l_returnflag, l_extendedprice,
                       sum(CAST(l_quantity AS DECIMAL(18,6))) AS w
                     FROM lineitem GROUP BY 1, 2),
          c AS (SELECT l_returnflag, l_extendedprice, w,
                  sum(w) OVER (PARTITION BY l_returnflag
                               ORDER BY l_extendedprice ASC) AS cw,
                  sum(w) OVER (PARTITION BY l_returnflag) AS tw
                FROM bp)
          SELECT l_returnflag,
                 floor(min(l_extendedprice) * 1000000 + 0.5) / 1000000
                   AS weighted_median,
                 CAST(max(tw) AS DOUBLE) AS total_weight
          FROM c WHERE cw * 2 >= tw
          GROUP BY l_returnflag ORDER BY l_returnflag ASC""",
    "q138_ordered_string_agg" ->
      """SELECT lang, count(*) AS n_docs,
                count(DISTINCT source) AS n_sources,
                string_agg(DISTINCT source, ',' ORDER BY source ASC)
                  AS sources_csv
         FROM documents GROUP BY lang ORDER BY lang ASC""",
    "q139_bitwise_aggs" ->
      s"""SELECT event_type, count(*) AS n,
                 bit_and(user_id) AS uid_and, bit_or(user_id) AS uid_or,
                 bit_xor(event_id) AS eid_xor,
                 bool_and(value > 0) AS all_positive,
                 bool_or(value > 1000) AS any_large
          FROM events WHERE $sqlClean
          GROUP BY event_type ORDER BY event_type ASC""",
    "q140_date_spine" ->
      """WITH mm AS (SELECT CAST(min(o_orderdate) AS DATE) AS lo,
                            CAST(max(o_orderdate) AS DATE) AS hi FROM orders),
          spine AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
                           AS DATE) AS d FROM mm),
          daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
                           count(*) AS n_orders FROM orders GROUP BY 1)
          SELECT strftime(s.d, '%Y-%m') AS month, count(*) AS n_days,
                 CAST(sum(CASE WHEN coalesce(n_orders, 0) > 0
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_active_days,
                 CAST(sum(CASE WHEN coalesce(n_orders, 0) = 0
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_days,
                 CAST(sum(coalesce(n_orders, 0)) AS BIGINT) AS n_orders
          FROM spine s LEFT JOIN daily ON s.d = daily.d
          GROUP BY 1 ORDER BY 1 ASC""",
    "q141_chi_square_cells" ->
      s"""WITH cells AS (
            SELECT event_type,
                   CAST(${sqlDow("ts")} AS BIGINT) AS dow,
                   count(*) AS o
            FROM events GROUP BY 1, 2),
          t AS (SELECT event_type, dow, o,
                  sum(o) OVER (PARTITION BY event_type) AS rt,
                  sum(o) OVER (PARTITION BY dow) AS ct,
                  sum(o) OVER () AS g
                FROM cells),
          x AS (SELECT event_type, dow, o,
                  (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
                    / CAST(g AS DOUBLE) AS e
                FROM t)
          SELECT event_type, dow, o,
                 floor(e * 1000000 + 0.5) / 1000000 AS expected,
                 floor((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e
                       * 1000000 + 0.5) / 1000000 AS chi2_cell
          FROM x ORDER BY event_type ASC, dow ASC""",
    "q142_benford" ->
      """WITH counts AS (
            SELECT TRY_CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                       AS VARCHAR), 1, 1) AS BIGINT) AS digit,
                   count(*) AS n
            FROM orders
            GROUP BY 1 HAVING digit BETWEEN 1 AND 9),
          t AS (SELECT digit, n, CAST(n AS DOUBLE)
                         / CAST(sum(n) OVER () AS DOUBLE) AS obs,
                       CAST(CASE digit
                         WHEN 1 THEN 0.301030 WHEN 2 THEN 0.176091
                         WHEN 3 THEN 0.124939 WHEN 4 THEN 0.096910
                         WHEN 5 THEN 0.079181 WHEN 6 THEN 0.066947
                         WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153
                         ELSE 0.045757 END AS DOUBLE) AS benford_p
                FROM counts)
          SELECT digit, n,
                 floor(obs * 1000000 + 0.5) / 1000000 AS observed_p,
                 benford_p,
                 floor(abs(obs - benford_p) * 1000000 + 0.5) / 1000000
                   AS abs_dev
          FROM t ORDER BY digit ASC""",
    "q143_mad_outliers" ->
      s"""WITH e AS (SELECT event_type, value FROM events WHERE $sqlClean),
          m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
                FROM e GROUP BY 1),
          d AS (SELECT e.event_type, abs(value - med) AS dev, med
                FROM e JOIN m USING (event_type)),
          m2 AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
                 FROM d GROUP BY 1)
          SELECT d.event_type, count(*) AS n,
                 floor(max(med) * 1000000 + 0.5) / 1000000 AS median_value,
                 floor(max(mad) * 1000000 + 0.5) / 1000000 AS mad,
                 CAST(sum(CASE WHEN dev > mad * 3 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_outliers
          FROM d JOIN m2 USING (event_type)
          GROUP BY 1 ORDER BY 1 ASC""",
    "q144_linear_interp" ->
      s"""WITH clean AS (
            SELECT user_id, epoch_us(ts) // 3600000000 AS h, event_id, value
            FROM events WHERE $sqlClean),
          obs AS (SELECT user_id, h, max_by(value, event_id) AS v
                  FROM clean GROUP BY 1, 2),
          seg AS (SELECT user_id, h, v,
                    lead(h) OVER w AS hn, lead(v) OVER w AS vn
                  FROM obs
                  WINDOW w AS (PARTITION BY user_id ORDER BY h ASC)),
          interp AS (SELECT user_id,
                       v + (vn - v) * (CAST(g - h AS DOUBLE)
                                       / CAST(hn - h AS DOUBLE)) AS vi,
                       1 AS is_interp
                     FROM seg, unnest(generate_series(h + 1, hn - 1)) AS u(g)
                     WHERE hn IS NOT NULL AND hn - h > 1),
          allg AS (SELECT user_id, v AS vi, 0 AS is_interp FROM obs
                   UNION ALL SELECT * FROM interp)
          SELECT user_id, count(*) AS n_grid,
                 CAST(sum(is_interp) AS BIGINT) AS n_interp,
                 floor(CAST(sum(CAST(floor(vi * 1000000 + 0.5) / 1000000
                                     AS DECIMAL(18,6))) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000
                   AS avg_filled
          FROM allg GROUP BY user_id ORDER BY user_id ASC""",
    "q145_rolling_corr" ->
      """WITH daily AS (
            SELECT date_diff('day', DATE '1970-01-01',
                             CAST(o_orderdate AS DATE)) AS d,
                   count(*) AS x,
                   sum(CAST(o_totalprice AS DECIMAL(18,2))) AS y
            FROM orders GROUP BY 1),
          m AS (SELECT d, x, y,
                  count(*) OVER f AS fn,
                  sum(x) OVER f AS sx, sum(y) OVER f AS sy,
                  sum(x * x) OVER f AS sxx, sum(y * x) OVER f AS sxy,
                  sum(y * y) OVER f AS syy
                FROM daily
                WINDOW f AS (ORDER BY d ASC
                             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)),
          c AS (SELECT d, fn, x, y,
                  CAST(fn AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS covn,
                  CAST(fn AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varxn,
                  CAST(fn AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS varyn
                FROM m)
          SELECT CAST(d AS BIGINT) AS d, fn AS n_days, x AS n_orders,
                 CAST(y AS DOUBLE) AS revenue,
                 CASE WHEN varxn = 0 OR varyn = 0 THEN NULL
                      ELSE floor(covn / sqrt(varxn * varyn)
                                 * 1000000 + 0.5) / 1000000 END AS corr7
          FROM c ORDER BY d ASC""",
    "q146_token_entropy" ->
      """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS tk
                      FROM documents),
          c AS (SELECT lang, tk, count(*) AS cnt FROM tok GROUP BY 1, 2),
          g AS (SELECT lang, count(*) AS vocab,
                       CAST(sum(cnt) AS BIGINT) AS total_tokens,
                       sum(CAST(floor(CAST(cnt AS DOUBLE)
                                      * ln(CAST(cnt AS DOUBLE))
                                      * 1000000 + 0.5) / 1000000
                                AS DECIMAL(18,6))) AS sclogc
                FROM c GROUP BY lang)
          SELECT lang, vocab, total_tokens,
                 floor((ln(CAST(total_tokens AS DOUBLE))
                        - CAST(sclogc AS DOUBLE)
                          / CAST(total_tokens AS DOUBLE))
                       * 1000000 + 0.5) / 1000000 AS entropy_nats
          FROM g ORDER BY lang ASC""",
    "q147_welch_t" ->
      s"""WITH g AS (SELECT event_type, count(*) AS n1,
                       sum(CAST(floor(value * 1e12 + 0.5) / 1e12
                                AS DECIMAL(38,12))) AS s1,
                       sum(CAST(floor(value * value * 1e12 + 0.5) / 1e12
                                AS DECIMAL(38,12))) AS q1
                     FROM events WHERE $sqlClean GROUP BY 1),
          m AS (SELECT event_type, n1, s1, q1,
                  CAST(sum(n1) OVER () - n1 AS BIGINT) AS n2,
                  sum(s1) OVER () - s1 AS s2,
                  sum(q1) OVER () - q1 AS q2
                FROM g),
          d AS (SELECT event_type, n1, n2,
                  CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
                  CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
                  (CAST(q1 AS DOUBLE)
                     - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                       / CAST(n1 AS DOUBLE))
                    / (CAST(n1 AS DOUBLE) - 1.0) / CAST(n1 AS DOUBLE) AS se1,
                  (CAST(q2 AS DOUBLE)
                     - (CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
                       / CAST(n2 AS DOUBLE))
                    / (CAST(n2 AS DOUBLE) - 1.0) / CAST(n2 AS DOUBLE) AS se2
                FROM m)
          SELECT event_type, n1 AS n_in, n2 AS n_out,
                 floor((m1 - m2) * 1000000 + 0.5) / 1000000 AS mean_diff,
                 floor((m1 - m2) / sqrt(se1 + se2) * 1000000 + 0.5) / 1000000
                   AS t_stat,
                 floor(((se1 + se2) * (se1 + se2))
                       / ((se1 * se1) / (CAST(n1 AS DOUBLE) - 1.0)
                          + (se2 * se2) / (CAST(n2 AS DOUBLE) - 1.0))
                       * 1000000 + 0.5) / 1000000 AS welch_df
          FROM d ORDER BY event_type ASC""",
    "q148_count_min" -> {
      def nib(pos: Int) =
        s"(strpos('0123456789abcdef', substr(md5(d || ':' || tk), $pos, 1)) - 1)"
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tk
                       FROM documents),
          cnt AS (SELECT tk, count(*) AS n FROM tok GROUP BY 1),
          hs AS (SELECT tk, n, d,
                   (${nib(6)} * 256 + ${nib(7)} * 16 + ${nib(8)}) % 1024 AS c
                 FROM cnt, unnest([0, 1, 2, 3]) AS u(d)),
          cells AS (SELECT d, c, CAST(sum(n) AS BIGINT) AS cell_n
                    FROM hs GROUP BY 1, 2),
          top AS (SELECT tk FROM cnt ORDER BY n DESC, tk ASC LIMIT 20)
          SELECT hs.tk, CAST(max(n) AS BIGINT) AS exact_n,
                 CAST(min(cell_n) AS BIGINT) AS cms_est,
                 CAST(min(cell_n) - max(n) AS BIGINT) AS overcount
          FROM hs JOIN top USING (tk) JOIN cells USING (d, c)
          GROUP BY hs.tk ORDER BY exact_n DESC, tk ASC"""
    },
    "q149_value_trajectory" ->
      s"""WITH w AS (SELECT user_id, value,
                       first_value(value) OVER win AS fv,
                       nth_value(value, 2) OVER win AS sv,
                       last_value(value) OVER win AS lv
                     FROM events WHERE $sqlClean
                     WINDOW win AS (PARTITION BY user_id
                                    ORDER BY ts ASC, event_id ASC
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND UNBOUNDED FOLLOWING))
          SELECT user_id, count(*) AS n_events,
                 floor(max(fv) * 1000000 + 0.5) / 1000000 AS first_value,
                 floor(max(sv) * 1000000 + 0.5) / 1000000 AS second_value,
                 floor(max(lv) * 1000000 + 0.5) / 1000000 AS last_value
          FROM w GROUP BY user_id ORDER BY user_id ASC""",
    "q150_kcore" -> kcoreOracle(uncappedPrsCte),
    "q151_percentile_bridge" ->
      s"""WITH base AS (
            SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS vk,
                   (epoch_us(ts) // 86400000000) % 2 = 0 AS is_ref
            FROM events WHERE $sqlClean),
          cum AS (SELECT event_type, vk,
                    CAST(sum(count(*)) OVER (PARTITION BY event_type
                      ORDER BY vk ASC ROWS UNBOUNDED PRECEDING) AS BIGINT)
                      AS ncum
                  FROM base WHERE is_ref GROUP BY event_type, vk),
          nref AS (SELECT event_type, count(*) AS n_ref
                   FROM base WHERE is_ref GROUP BY 1),
          probe AS (SELECT event_type, vk FROM base WHERE NOT is_ref),
          j AS (SELECT p.event_type, coalesce(c.ncum, 0) AS ncum
                FROM probe p ASOF LEFT JOIN cum c
                  ON p.event_type = c.event_type AND p.vk >= c.vk)
          SELECT j.event_type, count(*) AS n_probe, max(n_ref) AS n_ref,
                 floor(CAST(sum(CAST(floor(CAST(ncum AS DOUBLE)
                                           / CAST(n_ref AS DOUBLE)
                                           * 1000000 + 0.5) / 1000000
                                     AS DECIMAL(18,6))) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000
                   AS avg_pct,
                 CAST(sum(CASE WHEN ncum * 2 < n_ref THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_below_median
          FROM j JOIN nref USING (event_type)
          GROUP BY 1 ORDER BY 1 ASC""",
    "q152_hhi" ->
      """WITH s AS (
            SELECT l_returnflag, l_suppkey,
                   sum(CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(18,6))) AS rev
            FROM lineitem GROUP BY 1, 2),
          sh AS (SELECT l_returnflag,
                   CAST(rev AS DOUBLE)
                     / CAST(sum(rev) OVER (PARTITION BY l_returnflag)
                            AS DOUBLE) AS sh
                 FROM s)
          SELECT l_returnflag, count(*) AS n_suppliers,
                 floor(CAST(sum(CAST(floor(sh * sh * 1000000 + 0.5) / 1000000
                                     AS DECIMAL(18,6))) AS DOUBLE)
                       * 1000000 + 0.5) / 1000000 AS hhi
          FROM sh GROUP BY 1 ORDER BY 1 ASC""",
    "q153_sorted_neighborhood" -> {
      val leads = (1 to 3).flatMap(i => Seq(
        s"lead(doc_id, $i) OVER w AS nid$i",
        s"lead(simhash, $i) OVER w AS nfp$i")).mkString(", ")
      val arms = (1 to 3).map(i =>
        s"""SELECT least(doc_id, nid$i) AS a, greatest(doc_id, nid$i) AS b,
                   bit_count(xor(simhash, nfp$i)) AS h
            FROM l WHERE nid$i IS NOT NULL""").mkString(" UNION ")
      s"""WITH $simhashCte,
          f AS (SELECT doc_id, simhash, simhash // 16777216 AS bk FROM fpt),
          l AS (SELECT bk, doc_id, simhash, $leads
                FROM f WINDOW w AS (PARTITION BY bk
                                    ORDER BY simhash ASC, doc_id ASC)),
          prs AS ($arms)
          SELECT DISTINCT a AS doc_a, b AS doc_b, CAST(h AS BIGINT) AS hamming
          FROM prs WHERE h <= $SimHashMaxHamming
          ORDER BY doc_a ASC, doc_b ASC"""
    },
    "q154_psi" ->
      s"""WITH base AS (
            SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bin,
                   (epoch_us(ts) // 86400000000) % 2 = 0 AS side
            FROM events WHERE $sqlClean),
          cells AS (SELECT event_type, bin,
                      count(CASE WHEN side THEN 1 END) AS na,
                      count(CASE WHEN NOT side THEN 1 END) AS nb
                    FROM base GROUP BY 1, 2),
          tot AS (SELECT event_type, CAST(sum(na) AS BIGINT) AS ta,
                         CAST(sum(nb) AS BIGINT) AS tb
                  FROM cells GROUP BY 1),
          t AS (SELECT c.event_type,
                  CAST(na AS DOUBLE) / CAST(ta AS DOUBLE) AS p,
                  CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE) AS q
                FROM cells c JOIN tot USING (event_type)
                WHERE na > 0 AND nb > 0)
          SELECT event_type, count(*) AS n_common_bins,
                 floor(CAST(sum(CAST(floor((p - q) * ln(p / q)
                                           * 1000000 + 0.5) / 1000000
                                     AS DECIMAL(18,6))) AS DOUBLE)
                       * 1000000 + 0.5) / 1000000 AS psi
          FROM t GROUP BY 1 ORDER BY 1 ASC""",
    "q155_wilson_interval" ->
      s"""WITH a AS (SELECT event_type, count(*) AS n,
                       CAST(sum(CASE WHEN value > 100 THEN 1 ELSE 0 END)
                            AS BIGINT) AS k
                     FROM events WHERE $sqlClean GROUP BY 1),
          c AS (SELECT event_type, n, k,
                  CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
                  CAST(n AS DOUBLE) AS nd,
                  CAST(1.959964 AS DOUBLE) AS zv
                FROM a),
          w AS (SELECT event_type, n, k, p,
                  (p + (zv * zv) / (nd * 2.0)) / (1.0 + (zv * zv) / nd)
                    AS center,
                  (zv * sqrt(p * (1.0 - p) / nd
                             + (zv * zv) / (nd * nd * 4.0)))
                    / (1.0 + (zv * zv) / nd) AS half
                FROM c)
          SELECT event_type, n, k,
                 floor(p * 1000000 + 0.5) / 1000000 AS rate,
                 floor((center - half) * 1000000 + 0.5) / 1000000
                   AS wilson_lo,
                 floor((center + half) * 1000000 + 0.5) / 1000000
                   AS wilson_hi
          FROM w ORDER BY event_type ASC""",
    "q156_acf" -> {
      val lags = (1 to 7).map(l => s"lag(x, $l) OVER w AS y$l").mkString(", ")
      val arms = (1 to 7).map(l =>
        s"SELECT $l AS lag_d, x, y$l AS y FROM lg WHERE y$l IS NOT NULL")
        .mkString(" UNION ALL ")
      s"""WITH daily AS (
            SELECT date_diff('day', DATE '1970-01-01',
                             CAST(o_orderdate AS DATE)) AS d, count(*) AS x
            FROM orders GROUP BY 1),
          lg AS (SELECT d, x, $lags FROM daily WINDOW w AS (ORDER BY d ASC)),
          arms AS ($arms),
          m AS (SELECT lag_d, count(*) AS n_pairs,
                  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                  CAST(sum(x * y) AS BIGINT) AS sxy,
                  CAST(sum(x * x) AS BIGINT) AS sxx,
                  CAST(sum(y * y) AS BIGINT) AS syy
                FROM arms GROUP BY 1),
          c AS (SELECT lag_d, n_pairs,
                  CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS covn,
                  CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varxn,
                  CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS varyn
                FROM m)
          SELECT CAST(lag_d AS BIGINT) AS lag_d, n_pairs,
                 CASE WHEN varxn = 0 OR varyn = 0 THEN NULL
                      ELSE floor(covn / sqrt(varxn * varyn)
                                 * 1000000 + 0.5) / 1000000 END AS acf
          FROM c ORDER BY lag_d ASC"""
    },
    "q157_cusum" ->
      """WITH daily AS (
            SELECT date_diff('day', DATE '1970-01-01',
                             CAST(o_orderdate AS DATE)) AS d,
                   sum(CAST(o_totalprice AS DECIMAL(18,2))) AS y
            FROM orders GROUP BY 1),
          c AS (SELECT d,
                  CAST(row_number() OVER (ORDER BY d ASC) AS BIGINT) AS t,
                  sum(y) OVER (ORDER BY d ASC ROWS UNBOUNDED PRECEDING)
                    AS cum,
                  sum(y) OVER () AS sAll,
                  CAST(count(*) OVER () AS BIGINT) AS nAll
                FROM daily),
          s AS (SELECT d, t, cum, sAll, nAll,
                  CAST(cum AS DOUBLE)
                    - (CAST(t AS DOUBLE)
                       * (CAST(sAll AS DOUBLE) / CAST(nAll AS DOUBLE)))
                    AS cusum
                FROM c),
          sc AS (SELECT *, floor(abs(cusum) * 1000000 + 0.5) / 1000000
                        AS abs_cusum FROM s),
          top AS (SELECT * FROM sc ORDER BY abs_cusum DESC, d ASC LIMIT 1)
          SELECT d AS split_day, t, nAll AS n_days,
                 floor(cusum * 1000000 + 0.5) / 1000000 AS cusum, abs_cusum,
                 floor(CAST(cum AS DOUBLE) / CAST(t AS DOUBLE)
                       * 1000000 + 0.5) / 1000000 AS mean_before,
                 floor(CAST(sAll - cum AS DOUBLE)
                       / CAST(nAll - t AS DOUBLE)
                       * 1000000 + 0.5) / 1000000 AS mean_after
          FROM top""",
    "q158_null_semantics" ->
      """SELECT event_type, count(*) AS n_rows,
                CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_value_null,
                CAST(sum(CASE WHEN isnan(value) THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_value_nan,
                CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_props_null,
                count(nullif(value, 0.0)) AS n_nonzero_nonnull,
                floor(CAST(sum(CASE WHEN NOT isnan(coalesce(value, 0.0))
                                    THEN CAST(coalesce(value, 0.0)
                                              AS DECIMAL(18,6)) END)
                           AS DOUBLE)
                      / CAST(sum(CASE WHEN NOT isnan(coalesce(value, 0.0))
                                      THEN 1 ELSE 0 END) AS DOUBLE)
                      * 1000000 + 0.5) / 1000000 AS imputed_mean
         FROM events GROUP BY 1 ORDER BY 1 ASC""",
    "q159_string_surface" ->
      """SELECT p_brand, count(*) AS n_parts,
                min(upper(p_name)) AS min_name_upper,
                max(reverse(p_name)) AS max_name_rev,
                min(lpad(CAST(p_size AS VARCHAR), 3, '0')) AS min_size_pad,
                max(concat_ws('-', p_brand, substring(p_name, 1, 5)))
                  AS max_tag
         FROM part GROUP BY 1 ORDER BY 1 ASC""",
    "q160_datetime_surface" ->
      s"""WITH o AS (SELECT o_orderdate,
                      date_trunc('month', CAST(o_orderdate AS DATE)) AS m
                    FROM orders)
          SELECT strftime(m, '%Y-%m') AS month, count(*) AS n_orders,
                 CAST(min(extract(quarter FROM m)) AS BIGINT) AS q,
                 min(strftime(last_day(m), '%Y-%m-%d')) AS month_end,
                 CAST(sum(CASE WHEN ${sqlDow("o_orderdate")} IN (0, 6)
                               THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_weekend_orders
          FROM o GROUP BY 1 ORDER BY 1 ASC""",
    // graft_nfc is NFC normalization PLUS per-codepoint lowercase
    // (casefold-normalize); on the ASCII fixture names DuckDB's
    // lower(nfc_normalize(x)) is the exact analog
    "q161_sql_surface" ->
      """SELECT r_name AS region, lower(nfc_normalize(n_name)) AS nation,
                count(*) AS n_orders,
                CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                     AS DOUBLE) AS revenue
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, lower(nfc_normalize(n_name))
         ORDER BY region ASC, nation ASC""",
    "q162_fk_audit" -> {
      val arms = Seq(
        ("lineitem.orderkey->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        ("lineitem.partkey->part", "lineitem", "l_partkey",
          "part", "p_partkey"),
        ("lineitem.suppkey->supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        ("orders.custkey->customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        ("customer.nationkey->nation", "customer", "c_nationkey",
          "nation", "n_nationkey")).map { case (rel, c, ck, p, pk) =>
        // NOT EXISTS, not NOT IN: NOT IN's three-valued logic drops
        // NULL child keys (and zeroes out entirely on a NULL parent
        // key) where Spark's left_anti counts them as orphans
        s"""SELECT '$rel' AS relation,
                   (SELECT count(*) FROM $c) AS n_child,
                   (SELECT count(DISTINCT $ck) FROM $c) AS n_keys,
                   (SELECT count(*) FROM $c
                    WHERE NOT EXISTS (SELECT 1 FROM $p
                                      WHERE $p.$pk = $c.$ck)) AS n_orphans"""
      }.mkString(" UNION ALL ")
      s"SELECT * FROM ($arms) ORDER BY relation ASC"
    })

  /** Shared 30-min µs sessionization CTE chain — the oracle mirror of
    * [[sessionized]], consumed by both the q114 and q117 oracles. */
  private val sessionCtes: String =
    s"""w AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type,
               lag(epoch_us(ts)) OVER win AS pt
             FROM events
             WINDOW win AS (PARTITION BY user_id
                            ORDER BY epoch_us(ts) ASC, event_id ASC)),
        f AS (SELECT *, CASE WHEN pt IS NULL OR t - pt > 1800000000
                             THEN 1 ELSE 0 END AS nf FROM w),
        sess AS (SELECT user_id, t, event_id, event_type,
                   sum(nf) OVER (PARTITION BY user_id
                                 ORDER BY t ASC, event_id ASC) AS sid
                 FROM f)"""

  /** Mirror of [[graft.operators.TimeSeries.ewmaHalf]] (k = 8): the
    * same left-associated term chain with exact binary-fraction weight
    * literals, lag-0 written as the bare column. */
  private val ewmaOracle: String = {
    val k = 8
    def pw(j: Int) = java.math.BigDecimal.valueOf(math.pow(0.5, j)).toPlainString
    val lagCols = (1 until k).map(j => s"lag(value, $j) OVER win AS l$j").mkString(",\n                 ")
    val num = (0 until k).map {
      case 0 => s"coalesce(value * ${pw(0)}, 0.0)"
      case j => s"coalesce(l$j * ${pw(j)}, 0.0)"
    }.mkString(" + ")
    val den = (0 until k).map {
      case 0 => s"CASE WHEN value IS NOT NULL THEN ${pw(0)} ELSE 0.0 END"
      case j => s"CASE WHEN l$j IS NOT NULL THEN ${pw(j)} ELSE 0.0 END"
    }.mkString(" + ")
    s"""WITH w AS (SELECT user_id, event_id, value,
                 $lagCols
               FROM events WHERE $sqlClean
               WINDOW win AS (PARTITION BY user_id ORDER BY event_id ASC))
        SELECT user_id, event_id, round(value, 6) AS value,
               floor(($num) / ($den) * 1000000 + 0.5) / 1000000 AS ewma
        FROM w ORDER BY user_id ASC, event_id ASC"""
  }

  /** 3 unrolled label-propagation rounds over the simhash pair graph —
    * the identical recurrence [[graft.operators.Graph.labelPropagation]]
    * runs: neighbor-majority vote, ties to the smallest label
    * (row_number ORDER BY c DESC, lbl ASC ≡ the engine's
    * max(struct(c, −lbl))). */
  private def lpaOracle(prsCte: String): String = {
    val rounds = (1 to 3).map { i =>
      s"""v$i AS (SELECT e.n, l${i - 1}.lbl, count(*) AS c
                  FROM e JOIN l${i - 1} ON e.m = l${i - 1}.n GROUP BY 1, 2),
          l$i AS (SELECT n, lbl FROM v$i
                  QUALIFY row_number() OVER (PARTITION BY n
                    ORDER BY c DESC, lbl ASC) = 1)"""
    }.mkString(",\n")
    s"""WITH $simhashCte,
        $prsCte,
        e AS MATERIALIZED (SELECT a AS n, b AS m FROM prs UNION SELECT b, a FROM prs),
        l0 AS (SELECT DISTINCT n, n AS lbl FROM e),
        $rounds
        SELECT n AS doc_id, lbl AS community FROM l3 ORDER BY doc_id ASC"""
  }

  /** 4 unrolled fixed-point PageRank rounds over the simhash pair graph
    * — the identical integer recurrence [[graft.operators.Graph
    * .pageRankFixedPoint]] runs (base 10¹², d = 85%): rᵢ₊₁(v) =
    * 15·(base div N) div 100 + 85·(Σ rᵢ(u) div deg(u)) div 100. Pure
    * integral arithmetic on both engines ⇒ bit-equal ranks. */
  private def pagerankOracle(prsCte: String): String = {
    val rounds = (1 to 4).map { i =>
      s"""c$i AS (SELECT ed.m AS node, sum(r${i - 1}.r // deg.deg) AS s
                  FROM ed JOIN r${i - 1} ON ed.n = r${i - 1}.node
                          JOIN deg ON deg.n = ed.n
                  GROUP BY ed.m),
          r$i AS (SELECT node, (15 * (1000000000000 // nn.c)) // 100
                        + (85 * s) // 100 AS r FROM c$i, nn)"""
    }.mkString(",\n          ")
    s"""WITH $simhashCte,
        $prsCte,
        ed AS MATERIALIZED (SELECT a AS n, b AS m FROM prs
               UNION SELECT b AS n, a AS m FROM prs),
        deg AS (SELECT n, count(*) AS deg FROM ed GROUP BY n),
        nn AS (SELECT count(*) AS c FROM deg),
        r0 AS (SELECT deg.n AS node, 1000000000000 // nn.c AS r FROM deg, nn),
        $rounds
        SELECT CAST(node AS BIGINT) AS doc_id, CAST(r AS BIGINT) AS rank_fp
        FROM r4 ORDER BY doc_id ASC"""
  }
}
