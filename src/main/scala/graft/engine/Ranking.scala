package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranking / Pareto composition — the reference's "fastest vs most
  * consistent" table: two global dense_rank windows plus a composite
  * rank sum (reference:
  * src/processing/fastest_vs_most_consistent_drivers.py:145-163).
  *
  * Scale: an unpartitioned window forces a single-partition exchange, so
  * it must ONLY ever run post-aggregation, where the input is O(groups)
  * (here ≤ a few hundred rows). The pre-aggregation path stays fully
  * parallel. Ranks are computed over values rounded to 6 decimals so the
  * ordering (and hence the ranks) is reproducible across engines/runs.
  */
object Ranking {

  /** rank_speed + rank_consistency Pareto table: dense_rank by each metric
    * ascending, composite sum, deterministic multi-key ordering, top-k.
    * Ranks order by [[Aggregates.round6Portable]]-rounded metrics (not
    * `round`): the portable floor form is bit-identical across engines,
    * so rank boundaries can never disagree with an external oracle at a
    * half-boundary the way each engine's own `round` can. */
  def paretoTopK(aggregated: DataFrame, speedCol: String, consistencyCol: String,
                 tieBreak: Seq[String], k: Int): DataFrame = {
    def r6p(c: String) = Aggregates.round6Portable(col(c))
    // unpartitioned windows BY DESIGN (global dense_rank IS the declared
    // semantics); the input is the caller's per-entity aggregate — one
    // row per user/group, never the fact scan. If |entities| ever
    // reaches row scale, the rank can be rebuilt two-level over 6-dp
    // value classes (the scoreClassBuckets / ks2Sample pattern) without
    // changing a single rank value.
    val bySpeed = Window.orderBy(r6p(speedCol).asc)
    val byConsistency = Window.orderBy(r6p(consistencyCol).asc)
    aggregated
      .withColumn("rank_speed", dense_rank().over(bySpeed))
      .withColumn("rank_consistency", dense_rank().over(byConsistency))
      .withColumn("rank_sum", col("rank_speed") + col("rank_consistency"))
      .orderBy(col("rank_sum").asc +: r6p(speedCol).asc
        +: r6p(consistencyCol).asc +: tieBreak.map(col(_).asc): _*)
      .limit(k)
  }

  /** Global top-k by a measure with deterministic tie-break keys. Catalyst
    * plans this as TakeOrderedAndProject — per-partition heaps, only k rows
    * cross the network per partition. */
  def topK(df: DataFrame, order: Seq[Column], k: Int): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** PER-GROUP top-k: the `row_number().over(window) <= k` idiom,
    * which [[graft.plans.RewriteRowNumberTopK]] plans as the
    * bounded-heap [[graft.plans.TopKPerGroup]] operator on sessions
    * built with [[graft.GraftExtensions]] (the per-group twin of
    * TakeOrderedAndProject: k-row heaps per group, pruned map-side
    * before the exchange, so shuffle volume is ≤ k·groups and no group
    * is fully sorted; k above the rule's bound keeps the window plan).
    * Adds a LongType 1-based `rank` column ordered by `orderCols`
    * (name, ascending?).
    *
    * Ties: ranks follow the sort order; add tie-break columns to
    * `orderCols` (as the queries here do) for deterministic results. */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String],
                   orderCols: Seq[(String, Boolean)], k: Int): DataFrame = {
    require(k > 0, "top-k needs k > 0")
    require(groupCols.nonEmpty,
      "per-group top-k needs group keys (global top-k is topK)")
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(orderCols.map {
      case (c, asc) => if (asc) col(c).asc else col(c).desc }: _*)
    df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .withColumn("rank", col("rank").cast("long"))
  }
}
