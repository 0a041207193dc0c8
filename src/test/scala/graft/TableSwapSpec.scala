package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Sources
import graft.streaming.EventStream

/** The table swap behind the upsert sink and compaction, resumed from
  * the states a crash between its two renames leaves on disk: the
  * target moved aside to `<path>.old` and no `<path>`, with and without
  * a `<path>.staging` beside it. The states are built by
  * hand; the next upsert or compaction must start from the `.old`
  * table, never from an empty one. */
class TableSwapSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** An events-shaped table of unique keys `[from, until)`, `ts` = 10·key. */
  private def events(from: Long, until: Long): DataFrame =
    spark.range(from, until).select(
      col("id").as("event_id"), (col("id") * 10).as("ts"),
      (col("id") % 97).as("user_id"), lit("view").as("event_type"),
      col("id").cast("double").as("value"),
      lit(null).cast("string").as("props"))

  private def rows(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("event_id"), col("ts"), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def rm(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(f => Files.deleteIfExists(f))

  /** Lay out the mid-swap state for `target`: `before` at `.old`, and
    * `staged` at `.staging` when given. */
  private def midSwap(target: String, before: DataFrame,
                      staged: Option[DataFrame]): Unit = {
    before.repartition(8).write.mode("overwrite").parquet(target + ".old")
    staged.foreach(_.write.mode("overwrite").parquet(target + ".staging"))
    assert(!Files.exists(java.nio.file.Paths.get(target)))
  }

  private def leftovers(target: String): Seq[String] =
    Seq(".old", ".staging").filter(s => Files.exists(java.nio.file.Paths.get(target + s)))

  test("upsert after a crash mid-swap merges into the .old table, not an empty one") {
    val pre = events(0, 10000)
    // even keys: below 10000 they collide with `pre` — newer ts on
    // multiples of 4, OLDER ts on the rest (latest-wins keeps `pre`) —
    // and 10000 until 12000 are new keys
    val batch = events(0, 12000).filter(col("event_id") % 2 === 0)
      .withColumn("ts", col("ts") +
        when(col("event_id") % 4 === 0, lit(1L)).otherwise(lit(-1L)))
      .withColumn("value", col("value") + 0.5)
    val expected = (rows(pre).toSeq ++ rows(batch).toSeq)
      .groupBy(_._1).values.map(_.maxBy(_._2)).toSet
    for (withStaging <- Seq(false, true)) {
      val tmp = Files.createTempDirectory("graft_swap_upsert")
      try {
        val target = tmp.resolve("t").toString
        val batchDir = tmp.resolve("batch").toString
        batch.write.parquet(batchDir)
        midSwap(target, pre, if (withStaging) Some(pre) else None)
        EventStream.upsertStreamToTable(
          spark.readStream.schema(Sources.events).parquet(batchDir),
          Seq("event_id"), "ts", target)
        val got = rows(spark.read.parquet(target))
        val same = got == expected
        assert(same, s"withStaging=$withStaging: table must be .old merged " +
          s"with the batch; ${(expected -- got).size} rows missing, " +
          s"${(got -- expected).size} unexpected")
        assert(leftovers(target).isEmpty)
      } finally rm(tmp)
    }
  }

  test("compaction after a crash mid-swap restores and compacts the .old table") {
    val pre = events(0, 5000)
    for (withStaging <- Seq(false, true)) {
      val tmp = Files.createTempDirectory("graft_swap_compact")
      try {
        val target = tmp.resolve("t").toString
        midSwap(target, pre, if (withStaging) Some(pre.coalesce(1)) else None)
        Sources.compact(spark, target, rowsPerFile = 1000)
        val same = rows(spark.read.parquet(target)) == rows(pre)
        assert(same, s"withStaging=$withStaging: compaction must keep the .old rows")
        assert(new java.io.File(target).listFiles()
          .count(_.getName.endsWith(".parquet")) <= 5)
        assert(leftovers(target).isEmpty)
      } finally rm(tmp)
    }
  }

  test("dsirScoreUpsert checks its version against a table left at .old") {
    val tmp = Files.createTempDirectory("graft_swap_dsir")
    try {
      val target = tmp.resolve("scores").toString
      val landed = spark.range(3).select(col("id").as("doc_id"),
        lit(1L).as("n_tokens"), lit(0.0).as("dsir_logratio"),
        lit(5L).as("model_version"))
      midSwap(target, landed, None)
      // the version check must refuse before any corpus input is read
      val ex = intercept[IllegalArgumentException] {
        EventStream.dsirScoreUpsert(spark, tmp.toString,
          col("source") === "src3", 256, "dsir-v1", target, modelVersion = 1L)
      }
      assert(ex.getMessage.contains("monotone"), ex.getMessage)
      assert(spark.read.parquet(target).count() === 3)
      assert(leftovers(target).isEmpty)
    } finally rm(tmp)
  }
}
