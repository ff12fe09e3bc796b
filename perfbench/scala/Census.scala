package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._

/** Execution census the benchmark registers on the engine's own listener
  * bus. It attributes each job, stage and task to the key the benchmark put
  * in the job's local properties: the job group it sets around each batch
  * query phase, or the micro-batch id Spark sets for each trigger. */
final class Census(keyProperty: String) extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var cpuNs = 0L; var runMs = 0L; var recordsIn = 0L; var bytesIn = 0L
    var scanTasks = 0L; var singleTaskStageMs = 0L
  }

  val byKey = new ConcurrentHashMap[String, Acc]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  /** Time spent inside these callbacks: the direct cost of tracing. */
  val callbackNs = new AtomicLong()

  private def acc(k: String): Acc = byKey.computeIfAbsent(k, _ => new Acc)

  private def keyOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(keyProperty))).getOrElse("-")

  private def timed(f: => Unit): Unit = {
    val t = System.nanoTime(); f; callbackNs.addAndGet(System.nanoTime() - t)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    acc(keyOf(e.properties)).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    stageKey.put(e.stageInfo.stageId, keyOf(e.properties))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val i = e.stageInfo
    val a = acc(stageKey.getOrDefault(i.stageId, "-"))
    a.stages += 1
    if (i.numTasks == 1)
      for (s <- i.submissionTime; c <- i.completionTime) a.singleTaskStageMs += c - s
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val a = acc(stageKey.getOrDefault(e.stageId, "-"))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.recordsIn += m.inputMetrics.recordsRead
      a.bytesIn += m.inputMetrics.bytesRead
      if (m.inputMetrics.recordsRead > 0) a.scanTasks += 1
    }
  }

  /** Sum of the accumulators whose key satisfies `p`. */
  def total(p: String => Boolean): Map[String, Double] = {
    val t = new Acc
    byKey.forEach { (k, a) =>
      if (p(k)) {
        t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks
        t.shuffleWrite += a.shuffleWrite; t.shuffleRead += a.shuffleRead
        t.spill += a.spill; t.cpuNs += a.cpuNs; t.runMs += a.runMs
        t.recordsIn += a.recordsIn; t.bytesIn += a.bytesIn
        t.scanTasks += a.scanTasks; t.singleTaskStageMs += a.singleTaskStageMs
      }
    }
    Map("jobs" -> t.jobs, "stages" -> t.stages, "tasks" -> t.tasks,
      "shuffle_write_bytes" -> t.shuffleWrite, "shuffle_read_bytes" -> t.shuffleRead,
      "spill_bytes" -> t.spill, "cpu_ns" -> t.cpuNs, "run_ms" -> t.runMs,
      "records_in" -> t.recordsIn, "input_bytes" -> t.bytesIn,
      "scan_tasks" -> t.scanTasks, "single_task_stage_ms" -> t.singleTaskStageMs)
      .map { case (k, v) => k -> v.toDouble }
  }
}

/** One traced interval. Spans of one query execution or one trigger share
  * `trace`; `parent` names the enclosing span ("" at the root). */
final case class Span(trace: String, name: String, parent: String, startNs: Long, endNs: Long)
