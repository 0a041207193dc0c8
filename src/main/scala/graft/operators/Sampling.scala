package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for dataset curation — the data-mixing stage
  * of a training pipeline ("keep 30% of source A, 80% of source B"),
  * reproducible across runs, engines, and cluster sizes.
  *
  * Selection hashes each row's stable id (md5 → first 8 hex digits →
  * integer % 10000), so membership is a pure function of the id: no RNG
  * state, no partition-order dependence, rerun-stable, and the same
  * rows are kept by any engine that can compute md5 (the DuckDB oracle
  * does). Per-row projection + filter — embarrassingly parallel, no
  * shuffle; the fraction achieved converges to the target at corpus
  * scale (md5 uniformity).
  */
object Sampling {

  /** Basis-point bucket 0..9999 of a row id — uniform under md5. A salt
    * decorrelates independent sampling stages (two 30% samples with
    * different salts overlap ~9%, same salt ⇒ identical subset). */
  def hashBucket(id: Column, salt: String): Column =
    conv(substring(md5(concat(id.cast("string"), lit(salt))), 1, 8), 16, 10)
      .cast("long") % 10000

  /** Keep each row with its group's rate (basis points by `rateCol`
    * lookup): deterministic per-group downsampling. `rates` maps group
    * value → fraction in [0,1]; absent groups are dropped (rate 0). */
  def deterministicMix(df: DataFrame, idCol: Column, rateCol: Column,
                       rates: Map[String, Double], salt: String): DataFrame = {
    require(rates.values.forall(r => r >= 0 && r <= 1), "rates must be in [0,1]")
    val bps = rates.map { case (g, r) => (g, math.round(r * 10000).toInt) }
    val rateExpr = bps.foldLeft(lit(0)) { case (acc, (g, bp)) =>
      when(rateCol === g, lit(bp)).otherwise(acc)
    }
    df.withColumn("__bucket", hashBucket(idCol, salt))
      .filter(col("__bucket") < rateExpr)
      .drop("__bucket")
  }

  /** Deterministic UPsampling: per-group rates ≥ 0, including > 1
    * ("repeat source C 2.3×") — the other half of mixture balancing.
    * Every row emits `floor(rate)` copies plus one more iff its hash
    * bucket clears the fractional part — so copy counts, like
    * [[deterministicMix]] membership, are a pure function of (id, salt):
    * rerun-stable, partition-order-free, engine-portable. Output adds
    * `copy_no` (1-based) so downstream shuffles can still distinguish
    * rows; total output converges to rate·|group| at corpus scale.
    * Explode-based: no driver loop, parallel per row.
    *
    * Groups absent from `rates` are DROPPED (rate 0), mirroring
    * [[deterministicMix]]: both halves of mixture balancing treat the
    * rate map as the complete mixture spec, so an unlisted source never
    * leaks into the output. Pass an explicit `g -> 1.0` entry for
    * sources to carry through unchanged. */
  def deterministicUpsample(df: DataFrame, idCol: Column, rateCol: Column,
                            rates: Map[String, Double], salt: String): DataFrame = {
    require(rates.values.forall(_ >= 0), "rates must be >= 0")
    val whole = rates.map { case (g, r) => (g, math.floor(r).toLong) }
    val fracBps = rates.map { case (g, r) =>
      (g, math.round((r - math.floor(r)) * 10000).toInt) }
    val wholeExpr = whole.foldLeft(lit(0L)) { case (acc, (g, n)) =>
      when(rateCol === g, lit(n)).otherwise(acc)
    }
    val fracExpr = fracBps.foldLeft(lit(0)) { case (acc, (g, bp)) =>
      when(rateCol === g, lit(bp)).otherwise(acc)
    }
    df.withColumn("__copies",
        wholeExpr + when(hashBucket(idCol, salt) < fracExpr, 1L).otherwise(0L))
      .filter(col("__copies") > 0)
      .withColumn("copy_no", explode(sequence(lit(1L), col("__copies"))))
      .drop("__copies")
  }

  /** Deterministic WEIGHTED selection without replacement: top `n` rows
    * per group by the Efraimidis–Spirakis key u^(1/w) — each row's
    * inclusion probability scales with its weight (quality-weighted
    * corpus selection: "keep the best-looking n docs per source, but
    * probabilistically, so no weight class is cut off sharply"), yet
    * the selected set is a pure function of (id, salt, weights):
    * rerun-stable, engine-portable, no RNG state.
    *
    * u = (h32 + 1) / 2³² ∈ (0, 1] from the row id's md5 (uniform, never
    * 0 so the power is defined); `pow` carries the usual ±1-ulp library
    * license, so keys round at 6 dp before ranking (the BM25/ln
    * discipline) with the id as total tie-break. Selection is
    * [[graft.engine.Ranking.topKPerGroup]]'s row_number idiom, planned
    * as the bounded-heap TopKPerGroup — O(n) state per group, no full
    * sort.
    * Weights must be strictly positive. */
  def weightedSelect(df: DataFrame, idCol: Column, groupCol: String,
                     weight: Column, n: Int, salt: String): DataFrame = {
    val u = (conv(substring(md5(concat(idCol.cast("string"), lit(salt))), 1, 8),
      16, 10).cast("long") + 1) / lit(4294967296.0)
    val key = floor(pow(u, lit(1.0) / weight) * lit(1e6) + lit(0.5)) / lit(1e6)
    val keyed = df
      .withColumn("__sel_key", key)
      .withColumn("__sel_id", idCol.cast("long"))
    graft.engine.Ranking.topKPerGroup(keyed, Seq(groupCol),
      Seq("__sel_key" -> false, "__sel_id" -> true), n)
  }

  /** Token-BALANCED shard plan — deterministic assignment of documents
    * to `nShards` output shards of ≈equal weight mass, with NO
    * corpus-wide sort: docs hash into nShards·bucketsPerShard
    * micro-buckets (pure function of id — rerun-stable, so a doc's
    * shard is recomputable anywhere from the plan table), the
    * micro-bucket census — a SMALL table, the ONLY thing ever ranked —
    * is ordered by mass, and ranks snake over shards
    * (serpentine/boustrophedon round-robin, the LPT-lite rule: the
    * shard that took a round's heaviest bucket takes the next round's
    * lightest). The unpartitioned rank window is bounded by the
    * micro-bucket count by construction — the post-agg window idiom,
    * never corpus rows. Returns the per-shard census (shard,
    * n_buckets, n_docs, n_tokens); writers broadcast it back onto the
    * corpus to route rows. */
  def balancedShardPlan(docs: DataFrame, idCol: Column, weight: Column,
                        nShards: Int, bucketsPerShard: Int,
                        salt: String): DataFrame = {
    require(nShards >= 1 && bucketsPerShard >= 1, "degenerate shard grid")
    require(nShards * bucketsPerShard <= 10000,
      "micro-buckets are carved out of the 10^4 hash-bucket space")
    val m = nShards * bucketsPerShard
    val mb = docs
      .select(hashBucket(idCol, salt).mod(m).as("__mb"),
        weight.cast("long").as("__w"))
      .groupBy(col("__mb"))
      .agg(count(lit(1)).as("__docs"), sum(col("__w")).as("__tokens"))
    val wRank = org.apache.spark.sql.expressions.Window
      .orderBy(col("__tokens").desc, col("__mb").asc)
    mb.withColumn("__rn", (row_number().over(wRank) - 1).cast("long"))
      .withColumn("shard",
        when(expr(s"__rn div $nShards") % 2 === 0, col("__rn") % nShards)
          .otherwise(lit(nShards - 1) - col("__rn") % nShards))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("__docs")).as("n_docs"),
        sum(col("__tokens")).as("n_tokens"))
  }
}
