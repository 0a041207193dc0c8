package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Sources
import graft.streaming.EventStream

/** The table swap behind the upsert sink and compaction, resumed from
  * the states a crash between its two renames leaves on disk: the
  * target moved aside to `<path>.old` and no `<path>`, with and without
  * a `<path>.staging` beside it. The states are built by
  * hand; the next upsert or compaction must start from the `.old`
  * table, never from an empty one. The stream upsert itself lands as
  * one batch (no streaming query) and refuses, before the swap starts,
  * a stream that is not a bounded file stream. */
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

  /** Every file under `dir` with its bytes, by relative path. */
  private def snapshot(dir: Path): Map[String, Seq[Byte]] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => dir.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap

  test("upsertStreamToTable starts no streaming query") {
    val tmp = Files.createTempDirectory("graft_swap_noquery")
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.incrementAndGet()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val target = tmp.resolve("t").toString
      val batchDir = tmp.resolve("batch").toString
      events(0, 1000).write.parquet(batchDir)
      EventStream.upsertStreamToTable(
        spark.readStream.schema(Sources.events).parquet(batchDir),
        Seq("event_id"), "ts", target)
      assert(rows(spark.read.parquet(target)) == rows(events(0, 1000)))
      // a stream that lists no file lands nothing: no table is created
      val empty = Files.createDirectory(tmp.resolve("empty")).toString
      EventStream.upsertStreamToTable(
        spark.readStream.schema(Sources.events).parquet(empty),
        Seq("event_id"), "ts", tmp.resolve("t2").toString)
      assert(!Files.exists(tmp.resolve("t2")))
      assert(started.get() === 0, "a bounded upsert must not start a streaming query")
    } finally {
      spark.streams.removeListener(listener)
      rm(tmp)
    }
  }

  test("upsertStreamToTable rejects a non-file or stateful stream, leaving the table as it was") {
    val tmp = Files.createTempDirectory("graft_swap_reject")
    try {
      val target = tmp.resolve("t")
      events(0, 1000).write.parquet(target.toString)
      events(0, 500).write.parquet(tmp.resolve("events.parquet").toString)
      val before = snapshot(target)
      val rate = spark.readStream.format("rate").load()
        .select(col("value").as("event_id"), col("value").as("ts"))
      val stateful = EventStream.readEvents(spark, tmp.toString)
        .groupBy("user_id").count()
      for ((node, stream, keys, version) <- Seq(
          ("StreamingRelationV2", rate, Seq("event_id"), "ts"),
          ("Aggregate", stateful, Seq("user_id"), "count"))) {
        val ex = intercept[IllegalArgumentException] {
          EventStream.upsertStreamToTable(stream, keys, version, target.toString)
        }
        assert(ex.getMessage.contains(node), ex.getMessage)
        assert(snapshot(target) == before, s"$node: the table must be unchanged")
        assert(leftovers(target.toString).isEmpty)
      }
    } finally rm(tmp)
  }
}
