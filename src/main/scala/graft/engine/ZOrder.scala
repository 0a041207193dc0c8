package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering for multi-column data skipping.
  *
  * Parquet min/max stats prune row groups only when the file layout is
  * correlated with the filter column; sorting by ONE column destroys
  * locality for every other. Interleaving the bits of two columns and
  * sorting by the interleaved value gives BOTH columns locality — each
  * file/row group covers a small rectangle of the (a, b) space, so
  * predicates on either column (or both) skip most of the data. This is
  * the standard lakehouse layout trick (Delta/Iceberg `OPTIMIZE ZORDER
  * BY`), here as a plain sort + write any Spark can run.
  *
  * The z-value is computed with codegen'd bit arithmetic (no UDF).
  * Inputs must be NON-NEGATIVE and are taken modulo 2^bits — callers
  * normalize first (rank, min-max scale, or hash) so the low bits carry
  * signal; `bits` ≤ 31 keeps the interleaved value in a positive LONG.
  */
object ZOrder {

  /** N-column Morton interleave (round-robin): bit i of column j lands
    * at position i·n + j, so every column contributes equally to every
    * level of the curve. `bits · n` must stay ≤ 63 (positive LONG) —
    * more columns ⇒ fewer bits each, the inherent z-order trade-off
    * (beyond ~4 columns the per-column resolution stops paying; prefer
    * picking the filtered columns). */
  def zValueN(cols: Seq[Column], bits: Int): Column = {
    val n = cols.size
    require(n >= 2, "interleave needs at least 2 columns")
    require(bits > 0 && bits * n <= 63,
      s"bits*cols must be in 1..63, got $bits*$n")
    val masked = cols.map(_.cast("long").bitwiseAND(lit((1L << bits) - 1)))
    (for {
      i <- 0 until bits
      (c, j) <- masked.zipWithIndex
    } yield shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * n + j))
      .reduce(_ + _)
  }

  /** Sort by the z-value of min-max-NORMALIZED (a, b) and write parquet.
    * Normalization matters: interleaving raw values whose ranges differ
    * by orders of magnitude buries the narrow column's bits under the
    * wide column's high bits and the curve degenerates to a single-column
    * sort. The global min/max is one cheap aggregate (at cluster scale,
    * table stats). `maxRecordsPerFile` bounds file size so the
    * rectangle-per-file locality is visible (at cluster scale, leave it
    * 0 and let file splitting do this). The sort is a range-partitioned
    * total sort — one extra shuffle at write time, bought back on every
    * subsequent selective scan. */
  def zOrderedWrite(df: DataFrame, a: Column, b: Column, bits: Int,
                    path: String, maxRecordsPerFile: Int = 0): Unit =
    zOrderedWriteN(df, Seq(a, b), bits, path, maxRecordsPerFile)

  /** N-column generalization of [[zOrderedWrite]] — one min/max
    * aggregate over all columns, then interleave-sort-write. */
  def zOrderedWriteN(df: DataFrame, cols: Seq[Column], bits: Int,
                     path: String, maxRecordsPerFile: Int = 0): Unit = {
    val mm = df.agg(
      cols.flatMap(c => Seq(min(c).cast("double"), max(c).cast("double"))).head,
      cols.flatMap(c => Seq(min(c).cast("double"), max(c).cast("double"))).tail: _*)
      .collect().head
    val top = (1L << bits) - 1
    // an empty input or an all-null column yields null min/max: treat
    // that column as constant 0 (the z-order degrades gracefully to a
    // sort on the remaining columns), keeping the caller's file-size
    // option and the clustered write path in every case
    def bound(i: Int): Double = if (mm.isNullAt(i)) 0.0 else mm.getDouble(i)
    def scale(c: Column, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else coalesce(
        ((c.cast("double") - lit(lo)) * lit(top / (hi - lo))).cast("long"),
        lit(0L))
    val scaled = cols.zipWithIndex.map { case (c, j) =>
      scale(c, bound(2 * j), bound(2 * j + 1))
    }
    val w = df.withColumn("__z", zValueN(scaled, bits))
      .sort(col("__z")).drop("__z")
      .write.mode("overwrite")
    (if (maxRecordsPerFile > 0)
      w.option("maxRecordsPerFile", maxRecordsPerFile.toLong) else w)
      .parquet(path)
  }
}
