package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Typed scans over the driver fixtures (`TESTDATA.md`, `FIXTURES.md`).
  *
  * Schemas are explicit, not inferred: at 100 TB a scan must not pay
  * file-footer sampling or schema merge, and a pinned `StructType` gives
  * Catalyst exact types/nullability for pruning and pushdown. This replaces
  * the reference's schema-inferring Mongo connector scan
  * (reference: src/processing/mongo_avg_laptime_by_driver.py:30).
  */
object Sources {

  val lineitem: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  val orders: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val customer: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplier: StructType = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val part: StructType = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val nation: StructType = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val region: StructType = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  /** `ts` is parquet TIMESTAMP(MICROS) stored as physical INT64; pinning
    * LONG here reads the raw micros-since-epoch integer, which the exact
    * time arithmetic throughout the catalog (gaps, intervals, sessions)
    * operates on directly. [[table]] adds the derived `ts_utc`
    * TimestampType column (`timestamp_micros(ts)`). NOTE: earlier
    * fixture generations wrote TIMESTAMP(NANOS); such a file now FAILS
    * at scan (no nanosAsLong legacy conf anywhere — see the note above
    * [[table]]) instead of silently reading ns values into µs math. */
  val events: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val documents: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddings: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private val schemas: Map[String, StructType] = Map(
    "lineitem" -> lineitem, "orders" -> orders, "customer" -> customer,
    "supplier" -> supplier, "part" -> part, "nation" -> nation,
    "region" -> region, "events" -> events, "documents" -> documents,
    "embeddings" -> embeddings)

  /** Latest-wins upsert into the parquet table at `path` — the engine
    * analog of the reference's unique-index + bulk-upsert ingest
    * (reference: src/ingest/ingest_laps.py:57-68) and the one MERGE
    * write behind the streaming sinks. A single [[Dedup.latestByKey]]
    * pass over table ∪ batch keeps the newest row per key, swapped in
    * through the crash-safe [[replaceTable]]: keys the batch does not
    * carry survive, newer versions replace older ones, and re-running a
    * batch leaves the table unchanged. Ties on equal versions are
    * broken arbitrarily. */
  def upsert(df: DataFrame, keys: Seq[String], versionCol: String,
             path: String): Unit =
    replaceTable(df.sparkSession, path) { current =>
      Dedup.latestByKey(current.fold(df)(_.unionByName(df)), keys,
        Seq(org.apache.spark.sql.functions.col(versionCol)))
    }

  /** Register every fixture table as a temp view so the WHOLE engine is
    * reachable through pure `spark.sql(...)` — the injected functions
    * (graft_dot, graft_nfc) already are via [[graft.GraftExtensions]],
    * and views close the gap for users who never touch the DataFrame
    * API. Views are lazy: registering costs nothing until queried. */
  def registerTables(spark: SparkSession, sfDir: String): Unit =
    schemas.keys.foreach { name =>
      table(spark, sfDir, name).createOrReplaceTempView(name)
    }

  /** Small-file compaction — the standing operational task of any
    * long-lived 100 TB table (streaming sinks and per-partition upserts
    * accrete kilobyte files; scan cost then scales with FILE COUNT, not
    * bytes: each file is a task + a footer read + an open). Rewrites a
    * parquet directory into ⌈rows / rowsPerFile⌉ similar-sized files
    * via a round-robin repartition (no shuffle key — pure rebalance),
    * through the crash-safe [[replaceTable]] swap, so a failed
    * compaction leaves the table intact. At cluster scale run per
    * partition directory, gated on file-count thresholds. */
  def compact(spark: SparkSession, path: String, rowsPerFile: Long): Unit = {
    require(rowsPerFile > 0, "rowsPerFile must be positive")
    replaceTable(spark, path) { current =>
      val df = current.getOrElse(
        throw new IllegalArgumentException(s"no table to compact at $path"))
      val n = df.count()
      df.repartition(math.max(1L, (n + rowsPerFile - 1) / rowsPerFile).toInt)
    }
  }

  /** Crash-safe rewrite of the parquet table at `path` — the one swap
    * behind [[compact]] and [[upsert]]. `next` maps the
    * current table (None when there is none yet) to its new contents,
    * written ONCE to `<path>.staging` (overwrite must not
    * read-while-write); the target is then moved aside to `<path>.old`,
    * the staging moved into place and `.old` removed. Move-aside, not
    * delete-then-rename, and every step checked: at every instant the
    * rows exist under a well-known name. A crash between the two renames
    * leaves the previous table at `.old` and no `<path>`; the next call
    * restores it before reading, so a rewrite is never applied to a
    * missing table (an upsert would otherwise keep only its own batch). */
  private[graft] def replaceTable(spark: SparkSession, path: String)(
      next: Option[DataFrame] => DataFrame): Unit = {
    val target = new org.apache.hadoop.fs.Path(path.stripSuffix("/"))
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = target.suffix(".old")
    val staging = target.suffix(".staging")
    val current =
      if (recoverTable(spark, path)) Some(spark.read.parquet(target.toString))
      else None
    next(current).write.mode("overwrite").parquet(staging.toString)
    if (current.isDefined) {
      if (fs.exists(old)) require(fs.delete(old, true),
        s"cannot clear stale $old")
      require(fs.rename(target, old), s"cannot move $target aside to $old")
      require(fs.rename(staging, target),
        s"swap failed for $target — original preserved at $old")
      require(fs.delete(old, true), s"swap done but cannot remove $old")
    } else require(fs.rename(staging, target),
      s"cannot move $staging into place at $target")
  }

  /** Put back a table that a crash between [[replaceTable]]'s two
    * renames left at `<path>.old`; true when a table exists at `path`
    * afterwards. Existence goes through the path's own filesystem —
    * java.io.File would silently report false for hdfs://, s3a:// etc.
    * and every rewrite would clobber the table. */
  private[graft] def recoverTable(spark: SparkSession, path: String): Boolean = {
    val target = new org.apache.hadoop.fs.Path(path.stripSuffix("/"))
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = target.suffix(".old")
    if (!fs.exists(target) && fs.exists(old))
      require(fs.rename(old, target), s"cannot restore $target from $old")
    fs.exists(target)
  }

  /** NOTE on the TIMESTAMP(NANOS) fixture era (rounds 1-3): the repo
    * used `spark.sql.legacy.parquet.nanosAsLong=true` to read ns-typed
    * columns as since-epoch LONGs. That conf is deliberately GONE now:
    * with it set, a stale ns fixture would scan successfully and
    * `timestamp_micros(ts)` would be silently wrong by 1000×. Without
    * it, Spark rejects a TIMESTAMP(NANOS) column outright ("Illegal
    * Parquet type") — the fail-loud behavior a fixture-unit drift
    * deserves. TIMESTAMP(MICROS) INT64 reads as a pinned LONG with no
    * conf at all. */

  /** `ts_utc` derived from the raw µs `ts` — ONE definition shared by
    * the batch scan ([[tablePlain]]) and the streaming scan
    * (`EventStream.readEvents`), so the two cannot drift. */
  private[graft] def deriveTsUtc(df: DataFrame): DataFrame =
    df.withColumn("ts_utc",
      org.apache.spark.sql.functions.expr("timestamp_micros(ts)"))

  /** The ungated scan: pinned schema, no parallelizing repartition.
    * Opt-out for shapes where the repartition hop is a measured loss —
    * pipelines whose first exchange (or top-k/limit collapse)
    * immediately follows a cheap scan, so raising scan parallelism
    * frees less than the extra exchange costs. */
  def tablePlain(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.schema(schemas(name)).parquet(s"$sfDir/$name.parquet")
    if (name == "events") deriveTsUtc(df) else df
  }

  /** (fileBytes, rowGroups) per parquet file, from one driver-side
    * footer read — cached on (path, len, mtime) so a regenerated
    * fixture re-probes and an unchanged one never re-reads. */
  private val footerCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), (Long, Int)]()

  /** Aggregate (totalBytes, effectiveSplits) for a parquet path — a
    * single file (the fixture layout) or a directory of part files
    * (any production table). Effective splits sum per file because a
    * row group is consumed whole by the byte split holding its start:
    * min(rowGroups, ceil(bytes / maxPartitionBytes)) per file. */
  private def parquetLayout(spark: SparkSession, path: String,
                            maxPartitionBytes: Long): (Long, Long) = {
    val hconf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(hconf)
    val rootSt = fs.getFileStatus(root)
    val files =
      if (rootSt.isDirectory)
        fs.listStatus(root).toSeq.filter { f =>
          val n = f.getPath.getName
          f.isFile && f.getLen > 0 && !n.startsWith("_") && !n.startsWith(".")
        }
      else Seq(rootSt)
    files.foldLeft((0L, 0L)) { case ((bytes, splits), st) =>
      val (len, rowGroups) = footerCache.computeIfAbsent(
        (st.getPath.toString, st.getLen, st.getModificationTime), _ => {
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, hconf))
          try (st.getLen, r.getFooter.getBlocks.size)
          finally r.close()
        })
      val perFile = math.min(rowGroups.toLong,
        (len + maxPartitionBytes - 1) / math.max(1L, maxPartitionBytes)).max(1L)
      (bytes + len, splits + perFile)
    }
  }

  /** Scan one fixture table with its pinned schema — the engine-wide
    * DEFAULT scan, with a guarded parallelizing repartition for
    * UNDER-SPLIT scans (the guide-§2.5 "one huge unsplittable file"
    * fix). Spark can split a parquet FILE by byte ranges, but a ROW
    * GROUP is consumed whole by the split holding its start, so a
    * single-row-group file (the fixture layout at every SF, and any
    * production table landed by a writer with oversized row groups)
    * caps the scan stage — and with it everything fused into the
    * scan's WholeStageCodegen span (join probes, exact-decimal partial
    * aggregation) — at ONE task no matter how many cores the session
    * has.
    *
    * The fix moves the bytes exactly once: a deterministic hash
    * repartition on the table's id column (xxhash64 — guide §2.5's
    * deterministic synthetic key, so task retries reproduce the same
    * placement; never rand()). The map side of that exchange is the
    * unavoidable single-threaded floor (decode + shuffle write); every
    * operator above it runs at session parallelism. Partition count is
    * the session's shuffle partitions — scale-parameterized, never a
    * local constant — and EXPLICIT, because the injected exchange
    * exists precisely to raise parallelism: AQE's advisory-size
    * coalescing would fold ~100 MB back into 1–2 partitions.
    *
    * Guarded: a no-op unless the file's effective split count
    * (min(rowGroups, ceil(bytes / maxPartitionBytes))) leaves at least
    * half the session's cores idle AND the per-split bytes reach
    * [[ParallelizeMinBytes]] — so on well-laid-out input the plan is
    * the plain scan. Every caller gets the guard; the measured-loss
    * shapes (windows over a cheap scan, global top-k / pagination,
    * count-only rollups, limb long sums — probe numbers in
    * OPTIMIZATION_r13.md §11 and OPTIMIZATION_r14.md) opt OUT via
    * [[tablePlain]]. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    table(spark, sfDir, name, ParallelizeMinBytes)

  /** The guard's per-split byte floor — the measured boundary: at
    * 10.8 MB/split (the sf0.1 lineitem) the hop washes against what it
    * frees, at 15.2 MB/split (the sf1 events) and above it wins 25–67%. */
  private val ParallelizeMinBytes: Long = 12L << 20

  /** [[table]] at an explicit per-split byte floor, so specs can pin
    * the guard's boundary on the small fixtures. */
  private[graft] def table(spark: SparkSession, sfDir: String, name: String,
                           minBytes: Long): DataFrame = {
    val df = tablePlain(spark, sfDir, name)
    val maxPB = spark.sessionState.conf.filesMaxPartitionBytes
    val (bytes, effSplits) =
      parquetLayout(spark, s"$sfDir/$name.parquet", math.max(1L, maxPB))
    val cores = spark.sparkContext.defaultParallelism
    if (effSplits * 2 <= cores && bytes / effSplits >= minBytes) {
      val key = schemas(name).fields.head.name
      df.repartition(spark.sessionState.conf.numShufflePartitions,
        org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.col(key)))
    } else df
  }
}
