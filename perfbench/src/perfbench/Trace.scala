package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** Task-level counters for one op, summed by [[TaskListener]]. */
final case class ExecStats(jobs: Long, stages: Long, tasks: Long,
                           taskS: Double, cpuS: Double,
                           shuffleWriteBytes: Long, shuffleReadBytes: Long,
                           spillBytes: Long, inputBytes: Long,
                           busyS: Double)

/** SparkListener registered by the benchmark in traced runs only. It
  * sums job / stage / task counts and task metrics, and keeps each
  * task's [launch, finish] interval so the driver gap (op time with no
  * task running) can be measured. [[take]] returns and resets the sums;
  * the caller drains the listener bus first. */
final class TaskListener extends SparkListener {
  private var jobs, stages, tasks = 0L
  private var runMs, cpuNs, shW, shR, spill, input = 0L
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shW += m.shuffleWriteMetrics.bytesWritten
      shR += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
    }
    intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
  }

  def take(): ExecStats = synchronized {
    val s = ExecStats(jobs, stages, tasks, runMs / 1e3, cpuNs / 1e9,
      shW, shR, spill, input, TaskListener.unionSeconds(intervals.toSeq))
    jobs = 0; stages = 0; tasks = 0
    runMs = 0; cpuNs = 0; shW = 0; shR = 0; spill = 0; input = 0
    intervals.clear()
    s
  }
}

object TaskListener {
  /** Length in seconds of the union of [start, end] millisecond intervals. */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }
}

/** In-memory span log: one record per public call the benchmark makes
  * in a traced run, written out once when the run ends. */
final class Spans {
  private val buf = ArrayBuffer.empty[(Int, String, String, Long, Long)]

  /** Times `body` as span `name` of op `op`, child of `parent`. */
  def apply[T](op: Int, name: String, parent: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    val t1 = System.nanoTime()
    buf += ((op, name, parent, t0, t1))
    (r, (t1 - t0) / 1e9)
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = buf.map { case (op, n, p, s, e) =>
      Json.write(Map("op" -> op, "name" -> n, "parent" -> p,
        "start_ns" -> s, "end_ns" -> e))
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
