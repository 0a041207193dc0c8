package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.engine.Sources

/** Structured Streaming surface over the event table — the upgrade path
  * from the reference's *simulated* velocity (idempotent batch re-ingest,
  * SURVEY.md §2.9) to a true incremental pipeline.
  *
  * `readStream` → event-time tumbling window agg → sink. On a cluster this
  * runs continuously against arriving files/Kafka with a watermark
  * bounding state; here the fixture parquet drives one synchronous batch
  * through the identical plan, which makes the result deterministic and
  * oracle-checkable against the batch equivalent.
  */
object EventStream {

  /** Streaming source over the events fixture (schema pinned; µs ts
    * read as its raw long, `ts_utc` derived by the batch scan's own
    * [[graft.engine.Sources.deriveTsUtc]]). */
  def readEvents(spark: SparkSession, sfDir: String): DataFrame =
    // FileStreamSource needs a directory basePath; a glob that matches the
    // single fixture file keeps the parent dir as the base.
    Sources.deriveTsUtc(spark.readStream
      .schema(Sources.events)
      .parquet(s"$sfDir/events.parque[t]"))

  /** Hourly tumbling-window counts/averages per event type. On an
    * unbounded stream, watermark `ts_utc` first so a closed window's
    * state is dropped once the watermark passes it. */
  def hourlyAgg(stream: DataFrame): DataFrame =
    // exactAvg: decimal sums merge order-independently — in streaming
    // that also means per-micro-batch partial merge order cannot move
    // the result (q30 must equal the batch q17 bit for bit)
    stream.groupBy(window(col("ts_utc"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.engine.Aggregates.exactAvg(col("value")).as("avg_value"))

  /** Streaming → table upsert via `foreachBatch`: each micro-batch is
    * merged into the target through [[graft.engine.Sources.upsert]] —
    * one latest-wins pass over table ∪ batch, swapped in crash-safely;
    * MERGE semantics built from batch operators (the reference's
    * bulk-upsert ingest, reference: src/ingest/ingest_laps.py:57-68).
    * Re-processing a batch after a failure converges to the same table:
    * latest-wins by `versionCol` is idempotent.
    *
    * At scale the overwrite becomes a partition-scoped or MERGE-capable
    * table-format write (the micro-batch only touches its own keys);
    * the latest-wins pass over table ∪ batch is unchanged. Runs the
    * stream to completion over the available input (Trigger.AvailableNow). */
  def upsertStreamToTable(stream: DataFrame, keys: Seq[String],
                          versionCol: String, targetPath: String): Unit = {
    val q = stream.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        Sources.upsert(batch.toDF(), keys, versionCol, targetPath)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Streaming exact dedup with bounded state: drops re-deliveries of
    * the same key arriving within the watermark delay, the streaming
    * form of the pipeline's exact-dedup stage (at-least-once source →
    * effectively-once downstream). State holds one entry per key seen
    * within the watermark window and is evicted as event time advances —
    * the unbounded-state `dropDuplicates` footgun is avoided by
    * construction. */
  def dedupedStream(stream: DataFrame, keys: Seq[String],
                    watermarkDelay: String): DataFrame =
    stream.withWatermark("ts_utc", watermarkDelay)
      .dropDuplicatesWithinWatermark(keys)

  /** Shared run-to-completion scaffolding for the batch-gate streaming
    * queries: start `stream` into a uniquely-named memory sink with 8
    * shuffle partitions (= state stores — a few thousand keys of state
    * never justifies a batch session's 32+ stores' commit-log work; the
    * conf is snapshotted into the cloned session at `start()`, so
    * restoring it immediately after is safe), drain it, derive the
    * summary, MATERIALIZE it (localCheckpoint — summary-sized by
    * contract), and drop the sink table. Without the drop every
    * invocation would permanently retain its full emission set in
    * driver memory — bench iterations would leak linearly. */
  private[streaming] def runToMemory(spark: SparkSession, prefix: String,
                          mode: String, stream: DataFrame)
                         (summarize: DataFrame => DataFrame): DataFrame = {
    val name = prefix + java.util.UUID.randomUUID().toString.replace("-", "")
    val partConf = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(partConf)
    val q = try {
      spark.conf.set(partConf, "8")
      stream.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
    } finally spark.conf.set(partConf, prev)
    try q.processAllAvailable() finally q.stop()
    try summarize(spark.table(name)).localCheckpoint(true)
    finally spark.catalog.dropTempView(name)
  }

  /** Stream the document corpus through the STATELESS deterministic
    * mixture sampler ([[graft.operators.Sampling.deterministicMix]])
    * and summarize the kept set — streaming/batch operator unification
    * under the correctness gate: membership is a pure function of
    * (doc_id, salt), so the streamed result is identical to the batch
    * run (q54) no matter how AvailableNow splits micro-batches, and
    * both match one SQL oracle. The single-file fixture is read
    * through a one-character glob so the file's parent serves as the
    * stream's source directory. */
  def runMixtureOnce(spark: SparkSession, sfDir: String,
                     rates: Map[String, Double], salt: String): DataFrame = {
    val stream = spark.readStream.schema(Sources.documents)
      .parquet(s"$sfDir/documents.parque[t]")
    val kept = graft.operators.Sampling.deterministicMix(
      stream, col("doc_id"), col("source"), rates, salt)
    runToMemory(spark, "mix_", "append", kept) { t =>
      t.groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          graft.engine.Aggregates.exactSum(col("n_chars")).as("sc"))
        .select(col("source"), col("n_kept"),
          round(col("sc").cast("double"), 2).as("sum_chars"))
        .orderBy(col("source").asc)
    }
  }

  /** Stream the document corpus through the JOIN-FREE quality gate
    * ([[graft.operators.TextAnalysis.curationDecisionStateless]]) — the
    * streaming front door of the curation pipeline: per-doc keep/reason
    * decisions are pure column expressions (no stream-stream self-join,
    * no state store, identical under any micro-batch split), summarized
    * to the per-source admission report a streaming ingest publishes.
    * The per-doc decisions are spec-pinned ≡ the batch
    * `curationDecision` (q69), so the gate's semantics never fork
    * between the batch and streaming entrances. */
  def runQualityGateOnce(spark: SparkSession, sfDir: String,
                         stopSet: Seq[String], minTokens: Long,
                         minStopRatio: Double,
                         maxRepRatio: Double): DataFrame = {
    val stream = spark.readStream.schema(Sources.documents)
      .parquet(s"$sfDir/documents.parque[t]")
    val decided = graft.operators.TextAnalysis.curationDecisionStateless(
      stream, stopSet, minTokens, minStopRatio, maxRepRatio)
    runToMemory(spark, "qgate_", "append", decided) { t =>
      def n(c: String) = sum(when(col(c), 1L).otherwise(0L)).as(s"n_$c")
      t.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
          n("too_short"), n("low_stopword"),
          n("high_repetition"), n("lang_mismatch"))
        .orderBy(col("source").asc)
    }
  }

  /** Score a document STREAM with a batch-trained DSIR model — the
    * train-then-apply shape on streams: the ≤|buckets|-row score table
    * is built once from the static corpus
    * ([[graft.operators.DataMix.dsirBucketScores]]) and joined into
    * the stream per micro-batch (stream-static broadcast join,
    * stateless), so the stream carries ONE aggregation (per-doc count
    * + exact decimal score sum — Σ_tokens s(bucket) ≡ Σ_buckets c·s,
    * order-free). Scoring a doc through the stream is therefore
    * bit-identical to scoring it in batch (q184), and both hash
    * against the same SQL oracle. */
  /** The DSIR scoring pipeline shared by the gate stream
    * ([[runDsirScoreOnce]]) and the production upsert
    * ([[dsirScoreUpsert]]): explode → hashed bucket → broadcast model
    * join → per-doc (n_tokens, exact decimal score sum). ONE definition
    * so the spec-pinned row-identity between the two forms cannot
    * drift. */
  private def dsirScore(docs: DataFrame, model: DataFrame,
                        buckets: Int, salt: String): DataFrame =
    docs.select(col("doc_id"),
        explode(graft.functions.TextFns.tokens(col("text"))).as("term"))
      .withColumn("b",
        graft.operators.DataMix.termBucket(col("term"), buckets, salt))
      .join(broadcast(model), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("s")).cast("double").as("dsir_logratio"))

  def runDsirScoreOnce(spark: SparkSession, sfDir: String,
                       isTarget: org.apache.spark.sql.Column,
                       buckets: Int, salt: String): DataFrame = {
    val model = graft.operators.DataMix.dsirBucketScores(
      graft.engine.Sources.table(spark, sfDir, "documents"),
      isTarget, buckets, salt)
    val stream = spark.readStream.schema(Sources.documents)
      .parquet(s"$sfDir/documents.parque[t]")
    runToMemory(spark, "dsir_", "complete",
        dsirScore(stream, model, buckets, salt)) { t =>
      t.select(col("doc_id"), col("n_tokens"), col("dsir_logratio"))
        .orderBy(col("doc_id").asc)
    }
  }

  /** PRODUCTION form of stream-scored DSIR. [[runDsirScoreOnce]] is the
    * GATE form: complete-mode with a per-doc streaming aggregation,
    * whose state (and memory-sink size) grows with every doc ever
    * streamed — fine over a bounded fixture, wrong for an unbounded
    * corpus. This form bounds state at ZERO: a document is one source
    * ROW, so its explode → bucket-join → per-doc sum never crosses a
    * micro-batch boundary, and each micro-batch scores its own docs
    * with ordinary BATCH aggregation inside `foreachBatch`, then
    * upserts (doc_id → score) into the target table through the same
    * latest-wins checked-swap merge as [[upsertStreamToTable]]. No
    * streaming state operator exists in the plan (the spec asserts
    * `lastProgress.stateOperators` is empty), re-processing a batch
    * after a failure converges to the same table (scores are a pure
    * function of the doc and the broadcast model), and the resulting
    * table is row-identical to the batch scorer
    * ([[graft.operators.DataMix.dsirImportance]]) — both pinned by
    * spec. The ≤|buckets|-row model is trained batch-side once and
    * closed over by every micro-batch, exactly the train-then-apply
    * deployment shape.
    *
    * `modelVersion` is the caller's MONOTONE model version (training
    * epoch / timestamp), stored on every row and used as the
    * latest-wins ordering key: re-scoring after retraining (new
    * target/salt/corpus stats) must supersede old scores, and no
    * data-derived column can express that — a doc's n_tokens is
    * identical under both models, so versioning on it would leave the
    * merged table a nondeterministic mix of old and new scores.
    * Monotonicity is ENFORCED, not assumed: before the stream starts,
    * the existing target's max(model_version) is read (a one-row agg
    * over one column — no payload collect) and the new version must be
    * ≥ it; a lower version would merge into a nondeterministic per-doc
    * mix, because latestByKey breaks EQUAL versions by arbitrary
    * row_number order. Re-running at an EQUAL version is therefore
    * idempotent only when the scores are identical (same model/target/
    * salt — the documented replay case); a retrain must bump the
    * version. */
  def dsirScoreUpsert(spark: SparkSession, sfDir: String,
                      isTarget: org.apache.spark.sql.Column,
                      buckets: Int, salt: String,
                      targetPath: String, modelVersion: Long): Unit = {
    // a table a crash left at `.old` is restored first, so the check
    // sees it
    if (Sources.recoverTable(spark, targetPath)) {
      val row = spark.read.parquet(targetPath)
        .agg(max(col("model_version"))).head()
      if (!row.isNullAt(0)) {
        val existingMax = row.getLong(0)
        require(modelVersion >= existingMax,
          s"dsirScoreUpsert version must be monotone: new $modelVersion < " +
            s"existing max $existingMax at $targetPath — a lower-version " +
            "re-score would merge into a nondeterministic per-doc mix")
      }
    }
    val model = graft.operators.DataMix.dsirBucketScores(
      graft.engine.Sources.table(spark, sfDir, "documents"),
      isTarget, buckets, salt).localCheckpoint(true) // model-sized; pin
    val stream = spark.readStream.schema(Sources.documents)
      .parquet(s"$sfDir/documents.parque[t]")
    val q = stream.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        Sources.upsert(
          dsirScore(batch.toDF(), model, buckets, salt)
            .withColumn("model_version", lit(modelVersion)),
          Seq("doc_id"), "model_version", targetPath)
      }
      .start()
    try {
      q.processAllAvailable()
      // the plan must carry NO streaming state operator — the whole
      // point of the foreachBatch form; a refactor that reintroduces a
      // stream-side aggregation would show up here before it ships
      val prog = q.lastProgress
      require(prog == null || prog.stateOperators.isEmpty,
        s"dsirScoreUpsert grew streaming state: ${prog.stateOperators.length} operator(s)")
    } finally q.stop()
  }

  /** Run the streaming aggregation to completion over the fixture batch
    * and return the final result as a batch DataFrame. */
  def runHourlyOnce(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(spark, "hourly_", "complete",
        hourlyAgg(readEvents(spark, sfDir))) { t =>
      t.select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("event_type"), col("n_events"),
          graft.engine.Aggregates.round6Portable(col("avg_value")).as("avg_value"))
        .orderBy(col("hour_start").asc, col("event_type").asc)
    }

  /** Run the stateful streaming dedup to completion over the fixture
    * batch and return a batch summary of the survivors.
    *
    * Dedup key is (user_id, event_type, day) — a derived event-time
    * column in the key exercises the real pipeline shape (dedup on a
    * business key that includes a time bucket). The watermark delay is
    * set past the fixture's 30-day span so the run is a *global* dedup
    * regardless of how AvailableNow splits micro-batches; which duplicate
    * survives per key is arrival-order-dependent, so the summary counts
    * only the surviving key set (deterministic) and never projects
    * survivor payloads. In production the delay would be hours, trading
    * cross-horizon duplicates for bounded state — same plan, one knob. */
  def runDedupOnce(spark: SparkSession, sfDir: String): DataFrame = {
    val keyed = readEvents(spark, sfDir)
      .withColumn("day", date_format(col("ts_utc"), "yyyy-MM-dd"))
    runToMemory(spark, "dedup_", "append",
        dedupedStream(keyed, Seq("user_id", "event_type", "day"), "35 days")) { t =>
      t.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_keys"),
          countDistinct(col("user_id")).as("n_users"),
          countDistinct(col("day")).as("n_days"))
        .orderBy(col("event_type").asc)
    }
  }

  /** Exact-decimal per-key moment state (n, Σv, Σv²). Sums are
    * java.math.BigDecimal — integer arithmetic at fixed scale, so the
    * accumulated value is independent of arrival order, micro-batch
    * split, and partition count; a float Welford state is NOT (its
    * last ulp moves with merge order, which a hash gate would see). */
  case class ExactMomentState(n: Long, sum: java.math.BigDecimal,
                              ssq: java.math.BigDecimal)

  /** Emitted per key per micro-batch: raw exact moments. */
  case class ExactMoments(user_id: Long, n_events: Long,
                          sum_v: java.math.BigDecimal,
                          ssq_v: java.math.BigDecimal)

  /** Run per-user stats as *stateful streaming with exact-decimal
    * state* to completion, returning the final batch result.
    *
    * The stream quantizes `value` with the SAME engine cast the batch
    * exact aggregates use (DECIMAL(18,6), see
    * [[graft.engine.Aggregates.exactSum]]); the state then accumulates
    * Σv (scale 6) and Σv² (scale 12) in exact BigDecimal arithmetic.
    * Mean/σ_pop are derived AFTER the stateful op, in DataFrame
    * expressions mirrored verbatim by the SQL oracle — so the result is
    * bit-identical to the batch computation under any state-store
    * layout. Each micro-batch emits a running row per touched key;
    * the final `max(struct(n_events, …))` keeps the last emission per
    * key (n is monotone), making the summary AvailableNow-split-proof
    * like [[runDedupOnce]]. */
  def runUserStatsExactOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val zero = java.math.BigDecimal.ZERO
    val moments = readEvents(spark, sfDir)
      .filter(graft.engine.Cleaning.notMissing(col("value")))
      .select(col("user_id"), col("value").cast("decimal(18,6)").as("v6"))
      .as[(Long, java.math.BigDecimal)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[ExactMomentState, ExactMoments](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, java.math.BigDecimal)],
         state: GroupState[ExactMomentState]) =>
          var s = state.getOption.getOrElse(ExactMomentState(0L, zero, zero))
          rows.foreach { case (_, v) =>
            s = ExactMomentState(s.n + 1, s.sum.add(v), s.ssq.add(v.multiply(v)))
          }
          state.update(s)
          Iterator(ExactMoments(user, s.n, s.sum, s.ssq))
      }
    // mean = Σv/n, σ_pop = sqrt(Σv²/n − mean²): double math over exact
    // decimal sums, expression-for-expression the oracle's form
    val meanRaw = col("m.sum_v").cast("double") / col("m.n_events")
    val varRaw = greatest(
      col("m.ssq_v").cast("double") / col("m.n_events") - meanRaw * meanRaw,
      lit(0.0))
    runToMemory(spark, "ustats_", "append", moments.toDF()) { t =>
      t.groupBy(col("user_id"))
        .agg(max(struct(col("n_events"), col("sum_v"), col("ssq_v"))).as("m"))
        .select(col("user_id"), col("m.n_events").as("n_events"),
          graft.engine.Aggregates.round6Portable(meanRaw).as("mean_value"),
          graft.engine.Aggregates.round6Portable(sqrt(varRaw)).as("stddev_value"))
        .orderBy(col("user_id").asc)
    }
  }
}
