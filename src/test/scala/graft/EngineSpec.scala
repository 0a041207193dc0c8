package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine._

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Unit tests over tiny literal frames — the upgraded analog of the
  * reference's smoke test (reference: src/processing/spark_test.py:23-26). */
class EngineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("groupBy-avg smoke (reference spark_test values)") {
    val df = Seq(("HAM", 1.2), ("VER", 1.1), ("HAM", 1.3)).toDF("driver", "lap")
    val got = df.groupBy($"driver").agg(avg($"lap").as("a"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(got("HAM") - 1.25) < 1e-12)
    assert(math.abs(got("VER") - 1.1) < 1e-12)
  }

  test("isMissing treats NULL and NaN identically") {
    val df = Seq[(Int, java.lang.Double)]((1, 1.0), (2, null), (3, Double.NaN))
      .toDF("id", "v")
    assert(df.filter(Cleaning.notMissing($"v")).count() === 1)
    assert(df.filter(Cleaning.isMissing($"v")).count() === 2)
  }

  test("groupedStats uses population stddev, not sample") {
    val df = Seq(("a", 1.0), ("a", 3.0)).toDF("k", "v")
    val r = Aggregates.groupedStats(df, Seq("k"), "v").collect().head
    // stddev_pop([1,3]) = 1.0; sample stddev would be sqrt(2)
    assert(math.abs(r.getAs[Double]("stddev_value") - 1.0) < 1e-12)
  }

  test("two-level agg gives equal weight per fine group") {
    // group a: values 0,0,0,4 → lap-weighted avg 1.0
    // per-day: day1 [0,0,0] avg 0; day2 [4] avg 4 → equal-weight avg 2.0
    val df = Seq(("u", "d1", 0.0), ("u", "d1", 0.0), ("u", "d1", 0.0), ("u", "d2", 4.0))
      .toDF("user", "day", "v")
    val r = Aggregates.twoLevelStats(df, Seq("user"), Seq("day"), "v", 1, 1).collect().head
    assert(math.abs(r.getAs[Double]("avg_of_avgs") - 2.0) < 1e-12)
    val lapWeighted = Aggregates.groupedStats(df, Seq("user"), "v").collect().head
    assert(math.abs(lapWeighted.getAs[Double]("avg_value") - 1.0) < 1e-12)
  }

  test("rollup/cube re-aggregation equals the direct grouping-set plan") {
    val df = Seq(("A", "x", 1L), ("A", "x", 2L), ("A", "y", 4L),
        ("B", "x", 8L), ("B", null, 16L))
      .toDF("k1", "k2", "v")
    val keys = Seq(col("k1"), col("k2"))
    val aggs = Seq(count(lit(1)).as("n"), sum(col("v")).as("s"))
    val reaggs = Seq(sum(col("n")).as("n"), sum(col("s")).as("s"))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (Option(t._1), Option(t._2), t._3))
    val directRollup = df.rollup(keys: _*).agg(aggs.head, aggs.tail: _*)
    assert(rows(Aggregates.rollupReagg(df, keys, aggs, reaggs)) ===
      rows(directRollup))
    val directCube = df.cube(keys: _*).agg(aggs.head, aggs.tail: _*)
    assert(rows(Aggregates.cubeReagg(df, keys, aggs, reaggs)) ===
      rows(directCube))
  }

  test("slope via moments matches closed form and covar form") {
    // y = 3x + 2 exactly → slope 3
    val pts = (1 to 10).map(x => ("g", x.toDouble, 3.0 * x + 2))
    val df = pts.toDF("k", "x", "y")
    val m = SlopeOLS.slopeByMoments(df, Seq("k"), $"x", $"y", minN = 1).collect().head
    assert(math.abs(m.getAs[Double]("slope") - 3.0) < 1e-9)
    val c = SlopeOLS.slopeByCovar(df, Seq("k"), $"x", $"y", minN = 1).collect().head
    assert(math.abs(c.getAs[Double]("slope") - 3.0) < 1e-9)
  }

  test("slope guards zero variance with null") {
    val df = Seq(("g", 2.0, 1.0), ("g", 2.0, 5.0)).toDF("k", "x", "y")
    val m = SlopeOLS.slopeByMoments(df, Seq("k"), $"x", $"y", minN = 1).collect().head
    assert(m.isNullAt(m.fieldIndex("slope")))
  }

  test("latestByKey keeps exactly the newest row per key (upsert semantics)") {
    val df = Seq((1L, "a", 10.0, 1L), (2L, "a", 20.0, 1L), (3L, "b", 30.0, 2L))
      .toDF("event_id", "t", "v", "u")
    val out = Dedup.latestByKey(df, Seq("u", "t"), Seq($"event_id"))
      .collect().map(r => (r.getAs[Long]("u"), r.getAs[String]("t")) -> r.getAs[Long]("event_id")).toMap
    assert(out((1L, "a")) === 2L)
    assert(out((2L, "b")) === 3L)
  }

  test("duplicateKeys finds only keys with >1 row") {
    val df = Seq((1, "x"), (1, "x"), (2, "y")).toDF("a", "b")
    val dups = Dedup.duplicateKeys(df, Seq("a", "b")).collect()
    assert(dups.length === 1 && dups.head.getAs[Long]("n_dups") === 2L)
  }

  test("typed SlopeAggregator matches the moment formula") {
    val pts = (1 to 10).map(x => (("g", 1L), (x.toDouble, 2.5 * x - 7)))
    val ds = pts.toDS()
    val out = ds.groupByKey(_._1).mapValues(_._2)
      .agg(SlopeAggregator.agg.toColumn.name("out"))
      .collect().head._2
    assert(out.n_obs === 10L)
    assert(math.abs(out.slope.get - 2.5) < 1e-9)
  }

  test("SlopeAggregator returns None for zero-variance x") {
    val ds = Seq((("g", 1L), (3.0, 1.0)), (("g", 1L), (3.0, 9.0))).toDS()
    val out = ds.groupByKey(_._1).mapValues(_._2)
      .agg(SlopeAggregator.agg.toColumn.name("out"))
      .collect().head._2
    assert(out.slope.isEmpty)
  }

  test("upsert: a re-run is a no-op; a second batch merges latest-wins") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString + "/t"
    val v1 = Seq((1L, "a", 10.0, 1L), (1L, "a", 11.0, 2L), (2L, "b", 20.0, 1L))
      .toDF("k", "t", "v", "version")
    Sources.upsert(v1, Seq("k", "t"), "version", dir)
    val first = spark.read.parquet(dir).orderBy("k").collect().toSeq
    Sources.upsert(v1, Seq("k", "t"), "version", dir)
    val second = spark.read.parquet(dir).orderBy("k").collect().toSeq
    assert(first === second)
    assert(first.size === 2)  // latest version per key survives
    assert(first.find(_.getAs[Long]("k") == 1L).get.getAs[Double]("v") === 11.0)
    // a different batch: a newer version replaces (2,b), an older one
    // loses to (1,a), a new key lands, and no existing key is dropped
    val v2 = Seq((2L, "b", 21.0, 2L), (1L, "a", 9.0, 1L), (3L, "c", 30.0, 1L))
      .toDF("k", "t", "v", "version")
    Sources.upsert(v2, Seq("k", "t"), "version", dir)
    val merged = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSet
    assert(merged === Set((1L, "a", 11.0, 2L), (2L, "b", 21.0, 2L), (3L, "c", 30.0, 1L)))
  }

  test("paretoTopK composite rank ordering") {
    val df = Seq(("A", 1.0, 5.0), ("B", 2.0, 1.0), ("C", 3.0, 3.0))
      .toDF("k", "speed", "cons")
    val out = Ranking.paretoTopK(df, "speed", "cons", Seq("k"), 3).collect()
    // rank sums: A=1+3=4, B=2+1=3, C=3+2=5 → order B, A, C
    assert(out.map(_.getAs[String]("k")).toSeq === Seq("B", "A", "C"))
  }

  test("runMain entry points are exactly the kept set (no dead probes)") {
    // every `object X { def main(` under src/main/scala; adding a probe
    // must be a deliberate edit of this set
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"main sources not found under ${root.toAbsolutePath}")
    val objectDecl = """(?m)^\s*(?:(?:private|final|case)\s+)*object\s+(\w+)""".r
    val mains = java.nio.file.Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        val objects = objectDecl.findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
        """\bdef\s+main\s*\(""".r.findAllMatchIn(src).map { m =>
          objects.filter(_._1 < m.start).lastOption.map(_._2)
            .getOrElse(s"<main outside an object in $f>")
        }
      }.toSet
    assert(mains === Set("Verify", "Bench", "Pipeline", "FixtureGen",
      "FamilyBench", "JobProbe"))
  }
}

/** End-to-end: every declared query runs on the sf0.001 fixtures and the
  * oracle map stays in sync with the query map. */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs on sf0.001 without error") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      assert(n >= 0, s"$name failed")
    }
  }

  test("every oracle key has a query (no orphan oracles)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("table: guarded repartition fires on under-split scans, rows identical") {
    val dir = "/root/testdata/sf0.01"
    // default guard (12 MB/split, Sources.scala): the ~1 MB fixture
    // stays a plain scan
    val off = Sources.table(spark, dir, "lineitem")
    assert(!off.queryExecution.executedPlan.toString.contains("Exchange"),
      "below the byte floor table() must be a no-op")
    assert(off.schema === Sources.tablePlain(spark, dir, "lineitem").schema)
    // pin the boundary exactly: the single-split fixture fires at
    // minBytes == fileLen and stays plain at fileLen + 1, so the
    // documented ">= minBytes per split" semantics cannot drift
    val len = new java.io.File(s"$dir/lineitem.parquet").length
    assert(Sources.table(spark, dir, "lineitem", len)
      .queryExecution.executedPlan.toString.contains("Exchange"),
      "at exactly minBytes per split the repartition must fire")
    assert(!Sources.table(spark, dir, "lineitem", len + 1)
      .queryExecution.executedPlan.toString.contains("Exchange"),
      "one byte under minBytes per split must stay a plain scan")
    // forced floor: the single-row-group file is under-split for 4 cores,
    // so the deterministic hash repartition must fire at the session's
    // shuffle-partition count — and must not change the row multiset
    val on = Sources.table(spark, dir, "lineitem", 1L)
    val plan = on.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange hashpartitioning(xxhash64"),
      s"expected a deterministic hash repartition:\n$plan")
    assert(!Sources.tablePlain(spark, dir, "lineitem").queryExecution
      .executedPlan.toString.contains("Exchange"),
      "tablePlain() must never repartition (the explicit opt-out)")
    assert(on.rdd.getNumPartitions ===
      spark.sessionState.conf.numShufflePartitions)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"))
      .count().orderBy(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"), col("count")).collect().toSeq
    assert(key(on) === key(Sources.tablePlain(spark, dir, "lineitem")))
  }

  test("table: directory-backed tables aggregate layout across part files") {
    // production tables are directories of part files; the layout probe
    // must sum (bytes, effective splits) across them instead of throwing
    val tmp = java.nio.file.Files.createTempDirectory("graft_dir_table")
    val dirTable = tmp.resolve("lineitem.parquet").toString
    try {
      Sources.tablePlain(spark, "/root/testdata/sf0.01", "lineitem")
        .repartition(3).write.mode("overwrite").parquet(dirTable)
      // 3 part files, each its own split: effSplits=3, 3*2 > 4 cores in
      // this suite's session → guard declines even at a forced floor
      val df = Sources.table(spark, tmp.toString, "lineitem", 1L)
      assert(!df.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(df.count() ===
        Sources.tablePlain(spark, "/root/testdata/sf0.01", "lineitem").count())
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}
