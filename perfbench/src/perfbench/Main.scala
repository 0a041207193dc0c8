package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.col

import graft.{Pipeline, SparkEntry}
import graft.engine.{Sources, Staging}
import graft.streaming.EventStream

/** One benchmark run in one JVM: session, warm-up, timed closed loop
  * with one client, then `result.json` (+ `spans.jsonl` when traced) in
  * the work directory. Statistics are computed by the Python side from
  * the raw per-op records written here.
  *
  * Arguments are `key=value`: workload, data, work, seconds, trace
  * (0|1), seed, cores, warm_min, warm_max, warm_tol, setups (how many
  * times set-up is measured), and `docs` (the document subset the
  * traced lap_analytics run curates once). */
object Main {

  /** One op's raw record. */
  final case class Op(kind: String, round: Int, s: Double, ok: Boolean,
                      err: String, fields: Map[String, Any])

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = Paths.get(a("work"))
    val traced = a("trace") == "1"
    val cores = a("cores").toInt

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .withExtensions(new graft.GraftExtensions)
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.rdd.compress", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    var spark = session()
    val sessionS = sinceMs(jvmStartMs)

    val spans = new Spans
    def workload(dir: Path, sp: Spans): Workload = a("workload") match {
      case "lap_analytics" =>
        new QueryMix(spark, a("data"), dir, a("seed").toLong, sp)
      case "race_upsert" => new RaceUpsert(spark, a("data"), dir, sp)
      case other => sys.error(s"unknown workload $other")
    }
    val wl = workload(work, spans)
    val listener = new TaskListener

    var opIx = 0
    def runRound(r: Int, out: ArrayBuffer[Op]): Double = {
      val t0 = System.nanoTime()
      wl.round(r).foreach { kind =>
        opIx += 1
        if (wl.traced) {
          org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
          listener.take()
        }
        val o0 = System.nanoTime()
        val (ok, err, fields) =
          try { val f = wl.op(kind, r, opIx); (true, "", f) }
          catch { case e: Throwable =>
            (false, String.valueOf(e.getMessage).take(300), Map.empty[String, Any]) }
        val opS = (System.nanoTime() - o0) / 1e9
        val exec = if (!wl.traced) Map.empty[String, Any] else {
          org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
          val x = listener.take()
          Map[String, Any]("jobs" -> x.jobs, "stages" -> x.stages,
            "tasks" -> x.tasks, "task_s" -> x.taskS, "cpu_s" -> x.cpuS,
            "shuffle_write_bytes" -> x.shuffleWriteBytes,
            "shuffle_read_bytes" -> x.shuffleReadBytes,
            "spill_bytes" -> x.spillBytes, "input_bytes" -> x.inputBytes,
            "busy_s" -> x.busyS)
        }
        out += Op(kind, r, opS, ok, err, fields ++ exec)
      }
      (System.nanoTime() - t0) / 1e9
    }

    // warm-up: whole rounds on the workload's own input until the
    // round-to-round change is within warm_tol (at least warm_min,
    // at most warm_max rounds)
    val warmMin = a("warm_min").toInt
    val warmMax = a("warm_max").toInt
    val warmTol = a("warm_tol").toDouble
    val warmOps = ArrayBuffer.empty[Op]
    val warmRounds = ArrayBuffer.empty[Double]
    val w0 = System.nanoTime()
    var r = 0
    def flat: Boolean = warmRounds.size >= 2 && {
      val (p, c) = (warmRounds(warmRounds.size - 2), warmRounds.last)
      math.abs(c - p) <= warmTol * p
    }
    while (r < warmMax && (r < warmMin || !flat)) {
      warmRounds += runRound(r, warmOps); r += 1
    }
    val warmupS = (System.nanoTime() - w0) / 1e9
    val gcAtSetup = gcSeconds()
    val untilTimedS = sinceMs(jvmStartMs)
    val lastWarmRound = warmOps.filter(_.round == r - 1).toSeq

    // timed window: a fixed number of whole rounds, `seconds` divided by
    // the workload's nominal round length, so every window holds the same
    // ops whatever the machine's speed at the moment
    val windowRounds = math.max(1L, math.round(a("seconds").toDouble / wl.nominalRoundS)).toInt
    def window(): (ArrayBuffer[Op], Double) = {
      val ops = ArrayBuffer.empty[Op]
      val t0 = System.nanoTime()
      for (_ <- 1 to windowRounds) { runRound(r, ops); r += 1 }
      (ops, (System.nanoTime() - t0) / 1e9)
    }
    val (ops, windowS) = window()
    // traced run: a second, traced window right after the untraced one,
    // so the tracing overhead is measured inside one JVM
    val tracedWindow = if (!traced) None else {
      spark.sparkContext.addSparkListener(listener)
      wl.traced = true
      Some(window())
    }

    val check = wl.check()
    val extra = if (!traced) Map.empty[String, Any] else {
      wl.traced = false
      spark.sparkContext.removeSparkListener(listener)
      a.get("docs").map(d => PipelineProbe(spark, d, work, spans)).getOrElse(Map.empty)
    }
    if (traced) spans.writeJsonl(work.resolve("spans.jsonl"))
    val heapPeak = heapPeakMb()

    // set-up, repeated `setups` times after the windows: stop the
    // session, drop the engine's staged tables, build a fresh session
    // and answer the workload's set-up op on it (in its own directory)
    val setups = (1 to a("setups").toInt).map { k =>
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      Staging.clear()
      val t0 = System.nanoTime()
      spark = session()
      val fresh = workload(work.resolve(s"setup-$k"), new Spans)
      fresh.op(fresh.setupOp, 1, 0)
      (System.nanoTime() - t0) / 1e9
    }

    def opsJson(xs: Seq[Op]) = xs.map { o =>
      Map("kind" -> o.kind, "round" -> o.round, "s" -> o.s, "ok" -> o.ok,
        "err" -> o.err) ++ o.fields
    }
    val result = Json.write(Map(
      "cores" -> cores,
      "session_s" -> sessionS, "warmup_s" -> warmupS,
      "warmup_ops" -> warmOps.size, "warmup_rounds" -> warmRounds.toSeq,
      "warmup_failed" -> warmOps.count(!_.ok),
      "warmup_errors" -> warmOps.filter(!_.ok).map(_.err).distinct.toSeq,
      "warmup_last_round" -> opsJson(lastWarmRound),
      "setup_s" -> setups, "until_timed_s" -> untilTimedS,
      "window_s" -> windowS, "ops" -> opsJson(ops.toSeq),
      "traced_window_s" -> tracedWindow.map(_._2),
      "traced_ops" -> tracedWindow.map(w => opsJson(w._1.toSeq)),
      "gc_setup_s" -> gcAtSetup,
      "heap_peak_mb" -> heapPeak, "check" -> check, "extra" -> extra))
    Files.writeString(work.resolve("result.json"), result)
    spark.stop()
  }

  private def sinceMs(startMs: Long): Double =
    (System.currentTimeMillis() - startMs) / 1e3

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Runs `df` to completion through the noop sink: the full declared
    * plan executes and nothing is collected to the driver. */
  def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  private val repartition = "Exchange hashpartitioning\\(xxhash64\\(".r

  /** xxhash64 repartition exchanges in a physical plan — the ones the
    * `engine.Sources` scan guard inserts. */
  def repartitions(plan: SparkPlan): Int =
    repartition.findAllMatchIn(plan.toString).size

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(Files.deleteIfExists)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
}

/** JSON rendering with the Jackson Scala module that ships with Spark. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}

/** A workload: rounds of op kinds, each op one client call into the
  * engine. */
trait Workload {
  /** Set for the traced window: ops then split into spans and record
    * layer counters. */
  var traced = false
  /** Op kinds of round `r`; warm-up and the timed window run whole rounds. */
  def round(r: Int): Seq[String]
  /** Length of one warm round on a 4-CPU machine, in seconds: sizes the
    * timed window from the requested seconds. */
  def nominalRoundS: Double
  /** The op kind a fresh session answers when set-up is measured. */
  def setupOp: String
  /** Runs one op; returns extra fields for its record. A thrown
    * exception counts the op as failed. */
  def op(kind: String, round: Int, opIx: Int): Map[String, Any]
  /** Where the correctness material is; made outside the timed window. */
  def check(): Map[String, Any]
}

/** The F1 query mix (q01–q10) as seeded, shuffled cycles. Round 0
  * (cold, warm-up) writes every result for the correctness check; all
  * later rounds run each query through the noop sink. */
final class QueryMix(spark: SparkSession, dir: String, work: Path, seed: Long,
                     spans: Spans) extends Workload {
  val names: Seq[String] = SparkEntry.queries.keys.toSeq
    .filter(n => n.matches("q(0[1-9]|10)_.*")).sorted
  require(names.size == 10, s"expected the 10-query mix, got $names")
  private val checkDir = work.resolve("check")

  def round(r: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + r).shuffle(names)
  val nominalRoundS = 4.5
  val setupOp = "q01_avg_value_by_user"

  private def sink(df: DataFrame, kind: String, round: Int): Unit =
    if (round == 0) df.coalesce(1).write.mode("overwrite")
      .parquet(checkDir.resolve(kind).toString)
    else Main.noop(df)

  def op(kind: String, round: Int, opIx: Int): Map[String, Any] = {
    spark.catalog.clearCache()
    val fn = SparkEntry.queries(kind)
    if (!traced) { sink(fn(spark, dir), kind, round); Map.empty }
    else {
      val (df, buildS) = spans(opIx, "SparkEntry.build", kind)(fn(spark, dir))
      val (plan, planS) = spans(opIx, "plans.plan", kind)(
        df.queryExecution.executedPlan)
      val (_, runS) = spans(opIx, "exec.run", kind)(sink(df, kind, round))
      Map("build_s" -> buildS, "plan_s" -> planS, "run_s" -> runS,
        "repartitions" -> Main.repartitions(plan))
    }
  }

  def check(): Map[String, Any] =
    Map("dir" -> checkDir.toString,
      "oracle" -> names.map(n => n -> SparkEntry.oracleSql(n)).toMap)
}

/** Race ingest: each op lands one race batch through the streaming
  * MERGE sink (latest `ts` wins per `event_id`) and then reads the q05
  * standings over the upserted table. A round is one season: the table
  * starts empty and every race batch lands once, in order. */
final class RaceUpsert(spark: SparkSession, dir: String, work: Path,
                       spans: Spans) extends Workload {
  private val races: Seq[String] = Files.list(Paths.get(dir, "races"))
    .iterator().asScala.map(_.getFileName.toString).toSeq.sorted
  require(races.nonEmpty, s"no race batches under $dir/races")
  private val standings = SparkEntry.queries("q05_pareto_rank")
  private val root = work.resolve("season")
  private val table = root.resolve("events.parquet")

  def round(r: Int): Seq[String] = races
  val nominalRoundS = 6.0
  def setupOp: String = races.head

  def op(kind: String, round: Int, opIx: Int): Map[String, Any] = {
    if (kind == races.head) Main.deleteTree(root)
    val batchDir = Paths.get(dir, "races", kind)
    val stream = spark.readStream.schema(Sources.events).parquet(batchDir.toString)
    val before =
      if (traced && Files.exists(table)) spark.read.parquet(table.toString).count()
      else 0L
    val (_, upS) = spans(opIx, "streaming.EventStream.upsert", kind)(
      EventStream.upsertStreamToTable(stream, Seq("event_id"), "ts", table.toString))
    if (!traced) {
      standings(spark, root.toString).collect()
      Map.empty
    } else {
      val (plan, readS) = spans(opIx, "read.standings", kind) {
        val df = standings(spark, root.toString)
        df.collect()
        df.queryExecution.executedPlan
      }
      Map("upsert_s" -> upS, "standings_s" -> readS,
        "repartitions" -> Main.repartitions(plan),
        "batch_bytes" -> Main.dirBytes(batchDir),
        "bytes_written" -> Main.dirBytes(table),
        "rows_in" -> (before + spark.read.parquet(batchDir.toString).count()),
        "rows_kept" -> spark.read.parquet(table.toString).count())
    }
  }

  /** The last op of every round completes a season, so the table is
    * the full season when the window ends. */
  def check(): Map[String, Any] = {
    val out = work.resolve("check").resolve("standings")
    standings(spark, root.toString).coalesce(1).write.mode("overwrite")
      .parquet(out.toString)
    Map("table" -> table.toString, "standings" -> out.toString,
      "standings_oracle" -> SparkEntry.oracleSql("q05_pareto_rank"))
  }
}

/** One cold `Pipeline.curate` over a seeded document subset, then one
  * span per public operator the pipeline composes, each timed on the
  * materialized output of the one before (same input). */
object PipelineProbe {
  /** Per-source keep rates of the catalog's mixture (src_i kept at i·5%). */
  val rates: Map[String, Double] = (0 until 20).map(i => s"src$i" -> i * 0.05).toMap
  val salt = "mix-v1"

  def apply(spark: SparkSession, dir: String, work: Path,
            spans: Spans): Map[String, Any] = {
    import graft.operators._
    Staging.clear()
    spark.catalog.clearCache()
    val docs = Sources.table(spark, dir, "documents")
    val (c, curateS) = spans(0, "Pipeline.curate", "probe")(
      Pipeline.curate(spark, docs, rates, salt, Some(work.resolve("curated").toString)))
    def timed(name: String)(df: => DataFrame): (DataFrame, Double) =
      spans(0, name, "Pipeline.curate") {
        val d = df.localCheckpoint(); d.count(); d
      }
    val (_, qS) = timed("operators.TextAnalysis.curationDecision")(
      TextAnalysis.curationDecision(docs, TextAnalysis.stopwords("en"),
        5L, 0.05, 0.6))
    val (fps, fpS) = timed("operators.NearDup.simHash")(NearDup.simHash(docs))
    val (pairs, pS) = timed("operators.NearDup.simHashPairsCapped")(
      graft.PerfbenchAccess.nearDupPairs(fps).select(col("doc_a"), col("doc_b")))
    val (clusters, ccS) = timed("operators.Graph.connectedComponents")(
      Graph.connectedComponents(pairs, "doc_a", "doc_b"))
    val (mixed, mS) = timed("operators.Sampling.deterministicMix")(
      Sampling.deterministicMix(docs, col("doc_id"), col("source"), rates, salt))
    val (_, cS) = timed("operators.DataMix.manifestCells")(
      DataMix.manifestCells(mixed, clusters, salt + "|split", 8000, 9000))
    val (_, zS) = spans(0, "engine.ZOrder.zOrderedWrite", "Pipeline.curate")(
      graft.engine.ZOrder.zOrderedWrite(mixed, col("doc_id"), col("n_chars"),
        16, work.resolve("zorder").toString))
    Map("Pipeline.curate_s" -> curateS, "Pipeline.input" -> c.input,
      "Pipeline.after_quality" -> c.afterQuality,
      "Pipeline.after_exact" -> c.afterExact,
      "Pipeline.after_neardup" -> c.afterNearDup,
      "Pipeline.after_mix" -> c.afterMix,
      "operators.TextAnalysis.curationDecision_s" -> qS,
      "operators.NearDup.simHash_s" -> fpS,
      "operators.NearDup.simHashPairsCapped_s" -> pS,
      "operators.Graph.connectedComponents_s" -> ccS,
      "operators.Sampling.deterministicMix_s" -> mS,
      "operators.DataMix.manifestCells_s" -> cS,
      "engine.ZOrder.zOrderedWrite_s" -> zS)
  }
}
