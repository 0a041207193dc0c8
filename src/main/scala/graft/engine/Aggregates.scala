package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Grouped-statistics operators — the heart of the reference's analytics
  * ("MapReduce-style", reference: README.md:33).
  *
  * Scale notes (100 TB): every `groupBy().agg()` here compiles to
  * partial (map-side) + final HashAggregate with one shuffle on the group
  * key — the partial pass collapses per-key cardinality before the
  * exchange, so network cost is O(distinct keys), not O(rows). Post-agg
  * HAVING filters run after the final agg on the already-tiny result.
  * Nothing in this file touches the driver.
  */
object Aggregates {

  /** Lap-weighted grouped stats: count / avg / population stddev per key,
    * with a HAVING-style min-count filter.
    * Reference: src/processing/fastest_vs_most_consistent_drivers.py:97-105
    * (note stddev_pop, NOT sample stddev — a deliberate reference choice).
    *
    * Both statistics come from EXACT DECIMAL(18,6) moments (Σv, Σv²)
    * rather than `avg`/`stddev_pop` double folds: plain folds are
    * partition-order-dependent in the last ulp, and at 10× the gate
    * scale that ulp started crossing round-6 reporting boundaries
    * (observed on q01/q03 at sf1 — the same failure twoLevelStats hit
    * and fixed a round earlier). σ_pop = √(E[x²]−E[x]²) off the exact
    * rationals, operand order pinned for oracle mirroring. Exactness
    * domain: measures with ≤3 decimals and |v| < 10⁶ (v and v² both
    * cast exactly at scale 6) — the fixture measures are 2-decimal. */
  def groupedStats(df: DataFrame, keys: Seq[String], measure: String,
                   minN: Long = 0): DataFrame = {
    val d18 = org.apache.spark.sql.types.DecimalType(18, 6)
    val m = col(measure)
    val nD = col("n").cast("double")
    val mean = col("__s").cast("double") / nD
    val ex2 = col("__q").cast("double") / nD
    val out = df
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(m.cast(d18)).as("__s"),
        sum((m * m).cast(d18)).as("__q"))
      .withColumn("avg_value", mean)
      .withColumn("stddev_value",
        sqrt(greatest(lit(0.0), ex2 - mean * mean)))
      .drop("__s", "__q")
    if (minN > 0) out.filter(col("n") >= minN) else out
  }

  /** Two-level (hierarchical) re-aggregation: per-fine-group stats, then
    * re-aggregated per coarse key with equal weight per fine group.
    * Deliberately NOT the same math as one-level aggregation — the
    * reference computes both side-by-side to expose weighting bias
    * (reference: src/processing/fastest_vs_most_consistent_drivers.py:109-142;
    * notebook cells 10/14/25/27). Must never be "optimized" into one level.
    *
    * Both levels compute their means from EXACT DECIMAL sums (plain
    * `avg` folds doubles in partition order, and at 10× the gate scale
    * the order-dependent last ulp started crossing round-6 boundaries);
    * σ_pop comes from the exact moments E[x²]−E[x]², mirrored verbatim
    * by the oracle SQL. Level-1 statistics are reported and re-averaged
    * at the engine's 6-decimal determinism boundary, so level 2 sums
    * decimal-exact values. Both levels are shuffle-partitioned on their
    * keys; level 2's input is already only O(fine groups) rows.
    */
  def twoLevelStats(df: DataFrame, coarseKeys: Seq[String], fineKeys: Seq[String],
                    measure: String, minPerFine: Long, minFine: Long): DataFrame = {
    val v = col(measure)
    val fine = df
      .groupBy((coarseKeys ++ fineKeys).map(col): _*)
      .agg(
        count(v).as("n_in_group"),
        exactSum(v).as("__sx"),
        sum((v * v).cast(org.apache.spark.sql.types.DecimalType(38, 12))).as("__sx2"))
      .filter(col("n_in_group") >= minPerFine)
      .withColumn("__mean", col("__sx").cast("double") / col("n_in_group"))
      .withColumn("group_avg", round6Portable(col("__mean")))
      .withColumn("group_stddev", round6Portable(sqrt(greatest(lit(0.0),
        col("__sx2").cast("double") / col("n_in_group") -
          pow(col("__mean"), 2)))))
      .drop("__sx", "__sx2", "__mean")
    fine
      .groupBy(coarseKeys.map(col): _*)
      .agg(
        count(lit(1)).as("n_groups"),
        (exactSum(col("group_avg")).cast("double") / count(lit(1)))
          .as("avg_of_avgs"),
        (exactSum(col("group_stddev")).cast("double") / count(lit(1)))
          .as("avg_of_stddevs"))
      .filter(col("n_groups") >= minFine)
  }

  /** Order-independent money sum: cast each term to DECIMAL before SUM so
    * the aggregation is exact integer arithmetic — the result is identical
    * regardless of partial-agg combining order (double sums are not), which
    * makes results reproducible run-to-run at any cluster size AND
    * bit-identical to external oracles.
    *
    * DOMAIN BOUND: the per-value cast is exact only for |v| < 10^(precision
    * − scale) (default |v| < 10¹² at (18,6)). Under non-ANSI mode an
    * out-of-range value casts to NULL and silently vanishes from the sum
    * while `count(v)` still includes it — a quietly wrong mean. For wider
    * domains pass precision up to 38 (sums stay exact; >18 switches Spark's
    * Decimal from a long to BigDecimal internally — measurably slower, which
    * is why 18 is the default for the money/measure-scaled fixtures here),
    * or run with `spark.sql.ansi.enabled=true` to make the overflow loud.
    * Same bound applies to [[exactAvg]] and [[twoLevelStats]] (whose v²
    * term at DECIMAL(38,12) bounds |v| < 10¹³). */
  def exactSum(term: Column, precision: Int = 18, scale: Int = 6): Column =
    sum(term.cast(org.apache.spark.sql.types.DecimalType(precision, scale)))

  /** Engine-portable 6-decimal rounding: floor(x·10⁶ + ½)/10⁶ in pure
    * IEEE double arithmetic — bit-identical in any engine. `round()` is
    * NOT: Spark rounds the SHORTEST decimal repr of the double
    * (BigDecimal.valueOf) while DuckDB rounds nearer the binary
    * expansion, and the two disagree when the shortest repr lands
    * exactly on a half boundary (observed at sf0.1: 65.3103125 →
    * 65.310313 vs 65.310312). NaN passes through (Spark's floor would
    * collapse it to 0 via the long cast). SIGNED semantics: an exact
    * half always rounds toward +∞ (so −0.5 µ → 0, not −1 µ) — NOT
    * round-half-away-from-zero. Every signed caller (z-scores, slopes,
    * skewness q133, log-space fits) relies on the oracle mirroring the
    * identical floor(x·10⁶+½) expression, which makes the choice of
    * half-rule invisible to the gate; it only matters to callers who
    * re-implement the rounding independently. */
  def round6Portable(c: Column): Column =
    when(isnan(c), c).otherwise(floor(c * lit(1e6) + lit(0.5)) / lit(1e6))

  /** [[round6Portable]] generalized to scale s: floor(x·10ˢ + ½)/10ˢ in
    * pure IEEE double arithmetic, identical in any engine that mirrors
    * the expression. Used to PIN the rounding rule before a
    * double→DECIMAL cast — each engine's cast rounds its own rendering
    * of the double (shortest-repr vs binary expansion) and the two
    * disagree on exact-half ties, whereas this expression is the same
    * bit pattern everywhere. DOMAIN: |x|·10ˢ must stay below 2⁶³ (Spark
    * floor narrows through BIGINT and would clamp where DuckDB's
    * double floor does not) — callers at s=12 need |x| < ~9.2·10⁶,
    * which every fixture column satisfies with orders of magnitude of
    * headroom. */
  def roundPortable(c: Column, scale: Int): Column = {
    val p = math.pow(10, scale)
    when(isnan(c), c).otherwise(floor(c * lit(p) + lit(0.5)) / lit(p))
  }

  /** Order-independent mean over a possibly dirty DOUBLE column: exact
    * DECIMAL sum ÷ non-null count, with `avg`'s NaN semantics preserved
    * (any NaN in the group ⇒ NaN; NULLs skipped). Plain `avg` folds
    * doubles in partition order — the order-dependent last ulp crosses
    * round-6 boundaries often enough to matter at scale (observed at
    * sf0.1), while a DECIMAL sum is exact under any merge order. */
  def exactAvg(v: Column): Column =
    when(count(when(isnan(v), lit(1))) > 0, lit(Double.NaN))
      .otherwise(
        sum(when(!isnan(v), v)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double") / count(v))

  /** ROLLUP / CUBE via hierarchical re-aggregation.
    *
    * Spark plans grouping sets as Expand: every input row is replicated
    * once PER GROUPING SET before the aggregate — a rollup over two keys
    * triples the rows entering the hash agg; a cube quadruples them. For
    * decomposable aggregates (sum/count — anything where the coarse value
    * is a sum of fine values) the same result comes from one PLAIN
    * aggregation at the finest grain followed by Expand over the tiny
    * per-group result: at 100 TB the Expand multiplier then applies to
    * O(distinct keys) rows instead of O(input rows), and the fact table
    * is scanned by an ordinary partial+final agg.
    *
    * `aggs` define the fine aggregation; `reaggs` re-combine them (e.g.
    * fine `count(1) as n` → re-agg `sum(n) as n`). Grouping-set NULL
    * semantics are Spark's own (the rollup runs on the re-agg), with one
    * caveat shared with SQL ROLLUP itself: rows where a grouping key IS
    * NULL merge with the subtotal row of that level. */
  def rollupReagg(df: DataFrame, keys: Seq[Column],
                  aggs: Seq[Column], reaggs: Seq[Column]): DataFrame =
    df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
      .rollup(keys: _*).agg(reaggs.head, reaggs.tail: _*)

  /** CUBE counterpart of [[rollupReagg]] — same contract. */
  def cubeReagg(df: DataFrame, keys: Seq[Column],
                aggs: Seq[Column], reaggs: Seq[Column]): DataFrame =
    df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
      .cube(keys: _*).agg(reaggs.head, reaggs.tail: _*)

  /** Arbitrary GROUPING SETS counterpart of [[rollupReagg]] — same
    * contract, with the exact set list the caller wants (e.g. per-key
    * subtotals WITHOUT the detail level or grand total, which neither
    * rollup nor cube can express). `keys` must cover every column used
    * in `sets`. */
  def groupingSetsReagg(df: DataFrame, keys: Seq[Column], sets: Seq[Seq[Column]],
                        aggs: Seq[Column], reaggs: Seq[Column]): DataFrame =
    df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
      .groupingSets(sets, keys: _*).agg(reaggs.head, reaggs.tail: _*)

  /** Per-column data profile, one row per column: null count, exact
    * distinct count, min/max (rendered as strings so one schema covers
    * every column type). ONE AGGREGATION BRANCH PER COLUMN, unioned:
    * each branch's parquet scan is pruned to that single column (same
    * total I/O as one wide scan — columnar — each column's pages read
    * once), and the multi-distinct Expand form this replaces multiplied
    * every row ×|cols| through a chain of SortAggregates (string
    * min/max buffers force the sort-based path): measured 2.2 s → 0.7 s
    * on 150 k orders × 4 columns. The first look a pipeline takes at an
    * unfamiliar 100 TB table. Callers should pre-round/cast DOUBLE
    * columns (e.g. to DECIMAL) when the rendered min/max must be
    * engine-portable — raw double formatting is not. */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "columnProfile needs at least one column")
    cols.map { c =>
      df.select(col(c)).agg(
          count(when(col(c).isNull, 1)).as("n_nulls"),
          countDistinct(col(c)).as("n_distinct"),
          min(col(c)).cast("string").as("min_value"),
          max(col(c)).cast("string").as("max_value"))
        .select(lit(c).as("col_name"), col("n_nulls"), col("n_distinct"),
          col("min_value"), col("max_value"))
    }.reduce(_ unionByName _)
  }

  /** Two-sample Kolmogorov–Smirnov statistic, fully distributed:
    * D = max over v of |F_A(v) − F_B(v)| between the empirical CDFs of
    * the rows where `sideA` is true vs false — the standard drift test
    * between two value distributions (today's corpus vs yesterday's,
    * source A vs source B).
    *
    * Determinism: the max is taken over the INTEGER cross-multiplied
    * form |a·n_B − b·n_A| (a, b = cumulative counts) at DECIMAL(38,0),
    * so the extremum and the final single division are engine-exact —
    * no double accumulation anywhere.
    *
    * Scale shape — the cumulative counts use a two-level prefix sum
    * instead of one global-order window (which would move every
    * distinct value through ONE partition): values bucket by
    * `bucketOf(v)` (any monotone coarsening, e.g. floor(v)); cumsums
    * run per-bucket in parallel windows, then per-bucket totals (one
    * tiny |buckets|-row global window) provide each bucket's starting
    * offset. The only growth axis is |buckets| — value-range-bounded,
    * not data-bounded.
    *
    * Output: one row (n_a, n_b, ks_d). NULL/NaN rows must be filtered
    * by the caller (CDFs are over observed values). */
  def ks2Sample(df: DataFrame, value: Column, sideA: Column,
                bucketOf: Column => Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val per = df
      .select(value.as("v"), sideA.as("__a"))
      .groupBy(col("v"))
      .agg(count(when(col("__a"), 1)).as("ca"),
        count(when(!col("__a"), 1)).as("cb"))
      .withColumn("bk", bucketOf(col("v")))
    // level 1: within-bucket running counts (parallel across buckets)
    val wIn = Window.partitionBy(col("bk")).orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val inner = per
      .withColumn("ia", sum(col("ca")).over(wIn))
      .withColumn("ib", sum(col("cb")).over(wIn))
    // level 2: bucket offsets from the |buckets|-row totals table
    val wBk = Window.orderBy(col("bk").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = per.groupBy(col("bk"))
      .agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"))
      .withColumn("oa", coalesce(sum(col("ta")).over(wBk), lit(0L)))
      .withColumn("ob", coalesce(sum(col("tb")).over(wBk), lit(0L)))
      .select(col("bk"), col("oa"), col("ob"))
    val cum = inner.join(broadcast(offsets), "bk")
      .select((col("ia") + col("oa")).as("a"), (col("ib") + col("ob")).as("b"))
    val tot = broadcast(cum.agg(max(col("a")).as("n_a"), max(col("b")).as("n_b")))
    cum.crossJoin(tot)
      .select(abs(col("a").cast(d38) * col("n_b") -
        col("b").cast(d38) * col("n_a")).as("dnum"),
        col("n_a"), col("n_b"))
      .groupBy(col("n_a"), col("n_b"))
      .agg(max(col("dnum")).as("__dnum"))
      .select(col("n_a"), col("n_b"),
        (col("__dnum").cast("double") /
          (col("n_a").cast(d38) * col("n_b")).cast("double")).as("ks_d"))
  }

  /** Integrity audit over any table: total rows, per-column distinct counts
    * and missing(null-or-NaN) counts — the engine analog of the reference's
    * check_counts.py (reference: src/ingest/check_counts.py:19-44). */
  def integrity(df: DataFrame, distinctCols: Seq[String],
                missingCols: Seq[String]): DataFrame = {
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("n_rows")) ++
        distinctCols.map(c => countDistinct(col(c)).as(s"n_distinct_$c")) ++
        missingCols.map(c => count(when(Cleaning.isMissing(col(c)), 1)).as(s"n_missing_$c"))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Two-limb exact accumulation of big integral sums.
    *
    * Σm over warehouse-scale groups overflows a LONG when m is itself
    * large (Σ price_cents² at 10¹⁰ rows), and DECIMAL accumulators pay
    * per-row BigDecimal boxing — measured ~6× over long sums on the
    * moment queries. Splitting m into limbs (m >> bits, m & 2^bits−1)
    * yields two LONG sums that stay inside whole-stage codegen, plus
    * ONE decimal reconstruction per GROUP ([[limbTotal]]:
    * hi·2^bits + lo). Exact for any m (arithmetic shift = floor
    * division, mask = floor modulo, also for negatives) while each limb
    * sum fits a long: rows_per_group < 2^63 / max(|m|/2^bits, 2^bits).
    * With bits = 20 and |m| ≤ 2^47 that is ~10¹⁰ rows per group —
    * far past a 100 TB fact table's per-key cardinality. */
  def limbSums(m: Column, prefix: String, bits: Int = 20): Seq[Column] = Seq(
    sum(shiftright(m, bits)).as(s"__${prefix}_hi"),
    sum(m.bitwiseAND(lit((1L << bits) - 1))).as(s"__${prefix}_lo"))

  /** Reconstruct the exact total of [[limbSums]] as DECIMAL(38,0) —
    * runs once per group row, never per input row. */
  def limbTotal(prefix: String, bits: Int = 20): Column =
    (col(s"__${prefix}_hi").cast(org.apache.spark.sql.types.DecimalType(38, 0))
      * lit(1L << bits) + col(s"__${prefix}_lo"))
      .cast(org.apache.spark.sql.types.DecimalType(38, 0))

  /** KMV (k-minimum-values) distinct sketch per group: keep the k
    * smallest 60-bit md5 hashes of the items, estimate
    * |distinct| ≈ (k−1) / u(k) where u(k) = kth-min hash normalized to
    * (0,1] — the classic bottom-k estimator (Bar-Yossef et al. 2002).
    * Unlike HLL the sketch is DETERMINISTIC given the data (md5, no
    * seed), so the estimate itself is oracle-checkable cross-engine;
    * the retained hash set doubles as a mergeable uniform sample of the
    * distinct domain.
    *
    * Plan shape: distinct(group, item) collapses duplicates map-side,
    * then [[Ranking.topKPerGroup]]'s row_number idiom, planned as the
    * bounded-heap TopKPerGroup, keeps O(k) rows per group — never a
    * full sort, never a per-group collect. Groups with fewer
    * than k distinct items report the EXACT count (estimate = n).
    * Output: group, `n_hashes` (≤ k), `kth_hash`, `est_distinct`. */
  def kmvDistinct(df: DataFrame, groupCol: String, item: Column,
                  k: Int): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    val hashed = df
      .select(col(groupCol), item.as("__item"))
      // NULL items are excluded BEFORE hashing (distinct-count
      // convention) — md5(NULL) is NULL and a NULL key would sort
      // differently per engine (Spark ASC = NULLS FIRST, DuckDB =
      // NULLS LAST), silently poisoning the bottom-k
      .filter(col("__item").isNotNull)
      .distinct()
      .select(col(groupCol),
        conv(substring(md5(col("__item")), 1, 15), 16, 10)
          .cast("long").as("__h"))
    val bottomK = Ranking.topKPerGroup(hashed, Seq(groupCol),
      Seq("__h" -> true), k)
    bottomK.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_hashes"), max(col("__h")).as("kth_hash"))
      .select(col(groupCol), col("n_hashes"), col("kth_hash"),
        // u(k) = kth_hash / 2^60; below k distinct items the group is
        // exact by construction (every hash was kept)
        when(col("n_hashes") < k, col("n_hashes").cast("double"))
          .otherwise(round6Portable((lit(k - 1).cast("double")
              * lit(1152921504606846976L).cast("double")) // 2^60
            / col("kth_hash")))
          .as("est_distinct"))
  }

  /** Exact skewness / excess kurtosis per group over an INTEGER-valued
    * measure, from exact power sums Σv, Σv², Σv³, Σv⁴.
    *
    * The per-row powers are plain long arithmetic (|v| ≤ ~55k keeps v⁴
    * in a long) and the sums are DECIMAL(38,0) — exact integers under
    * any merge order, so the central-moment doubles derived from them
    * are bit-identical on every engine that follows the same expression
    * shape (the oracle mirrors it term for term, with m2^1.5 spelled
    * m2·√m2 because `pow` is libm-dependent while ·/√ are IEEE
    * correctly-rounded). One partial+final hash agg, one shuffle of
    * 5 numbers per key — the cheapest possible plan for 4 moments.
    * Degenerate groups (m2 = 0) yield NULL moments, not ±Inf.
    *
    * The domain precondition is ENFORCED per row, not comment-only:
    * a non-integral measure would truncate differently per engine
    * (Spark long cast truncates, DuckDB BIGINT cast rounds) and
    * |v| > 55000 silently wraps v⁴ past Long.Max under non-ANSI
    * arithmetic — both fail loudly here instead (`raise_error`). */
  def higherMoments(df: DataFrame, keys: Seq[String], intMeasure: Column): DataFrame = {
    val vd = intMeasure.cast("double")
    val inDomain = vd.isNull || (abs(vd) <= lit(55000.0) && vd === floor(vd))
    val v = when(inDomain, intMeasure.cast("long"))
      .otherwise(raise_error(concat(
        lit("higherMoments: measure must be integer-valued with |v| <= 55000, got "),
        intMeasure.cast("string"))))
    val dec = (c: Column) => c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val agged = df.groupBy(keys.map(col): _*).agg(
      count(v).as("n"),  // non-null measures only — sums skip nulls, so
                         // a count including them would skew every moment
      sum(dec(v)).as("s1"),
      sum(dec(v * v)).as("s2"),
      sum(dec(v * v * v)).as("s3"),
      sum(dec(v * v * v * v)).as("s4"))
    val nD = col("n").cast("double")
    val mean = col("s1").cast("double") / nD
    val s2n = col("s2").cast("double") / nD
    val s3n = col("s3").cast("double") / nD
    val s4n = col("s4").cast("double") / nD
    val m2 = s2n - mean * mean
    val m3 = s3n - lit(3.0) * mean * s2n + lit(2.0) * mean * mean * mean
    val m4 = s4n - lit(4.0) * mean * s3n + lit(6.0) * mean * mean * s2n -
      lit(3.0) * (mean * mean) * (mean * mean)
    agged.select(keys.map(col) ++ Seq(
      col("n"),
      round6Portable(mean).as("mean_value"),
      when(m2 > 0, round6Portable(m3 / (m2 * sqrt(m2)))).as("skewness"),
      when(m2 > 0, round6Portable(m4 / (m2 * m2) - lit(3.0))).as("kurtosis")): _*)
  }
}
