package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same axis as the `time` fields of Spark's listener events.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Raw records of one run, kept in memory as JSON objects and written
  * out once when the run ends. The runners add timing records; the
  * listeners below, attached only in a traced run, add span and count
  * records.
  */
final class Recorder {
  private val records = new ConcurrentLinkedQueue[String]()

  def add(fields: (String, Any)*): Unit = records.add(Json.obj(fields: _*))
  def addRaw(json: String): Unit = records.add(json)
  def write(path: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), records.asScala.asJava)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null              => "null"
    case s: String         => str(s)
    case b: Boolean        => b.toString
    case d: Double         => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number         => n.toString
    case xs: Iterable[_]   => xs.map(value).mkString("[", ",", "]")
    case o                 => str(o.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** The local property that tags every Spark job with the operation
  * (query and pass) that launched it. Tags of traced operations start
  * with `Traced`; the job listener ignores every other job, so an
  * untraced pass in a traced run pays only for event delivery.
  */
object OpTag {
  val Key = "perfbench.op"
  val Traced = "t:"
}

/** Job, stage and task counts from Spark's scheduler events. Task
  * metrics are folded into one record per stage attempt when the stage
  * completes, so the records stay few however many tasks run.
  */
final class JobStageListener(rec: Recorder) extends SparkListener {
  private final class StageAcc {
    var tasks = 0L; var taskMs = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spillMem = 0L; var spillDisk = 0L
    var peakExecMem = 0L; var inputBytes = 0L; var inputRecords = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  private val jobStart = mutable.Map.empty[Int, (Double, String)]
  private val stageOp = mutable.Map.empty[Int, String]
  private val stages = mutable.Map.empty[(Int, Int), StageAcc]

  private def op(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(OpTag.Key))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val o = op(e.properties)
    if (o.startsWith(OpTag.Traced)) {
      jobStart(e.jobId) = (e.time.toDouble, o)
      e.stageIds.foreach(stageOp(_) = o)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (t0, o) =>
      rec.add("k" -> "job", "id" -> e.jobId, "op" -> o, "t0" -> t0, "t1" -> e.time.toDouble,
        "ok" -> (e.jobResult == JobSucceeded))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageOp.contains(e.stageId) && e.taskMetrics != null) {
      val a = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
      val m = e.taskMetrics
      a.tasks += 1
      a.taskMs += e.taskInfo.duration
      a.durations += e.taskInfo.duration
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spillMem += m.memoryBytesSpilled
      a.spillDisk += m.diskBytesSpilled
      a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    stageOp.get(info.stageId).foreach { o =>
      val a = stages.remove((info.stageId, info.attemptNumber())).getOrElse(new StageAcc)
      val sorted = a.durations.sorted
      val median = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
      rec.add("k" -> "stage", "id" -> info.stageId, "op" -> o,
        "t0" -> info.submissionTime.getOrElse(0L).toDouble,
        "t1" -> info.completionTime.getOrElse(0L).toDouble,
        "tasks" -> a.tasks, "task_ms" -> a.taskMs, "run_ms" -> a.runMs,
        "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs,
        "task_max_ms" -> sorted.lastOption.getOrElse(0L), "task_median_ms" -> median,
        "shuffle_write" -> a.shuffleWrite, "shuffle_read" -> a.shuffleRead,
        "spill_mem" -> a.spillMem, "spill_disk" -> a.spillDisk,
        "peak_exec_mem" -> a.peakExecMem,
        "input_bytes" -> a.inputBytes, "input_records" -> a.inputRecords)
    }
  }
}

/** Catalyst's planning phases (analysis, optimization, physical
  * planning) of every query execution, graft's strategies and rules
  * included.
  */
final class PlanListener(rec: Recorder) extends QueryExecutionListener {
  private def phases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      rec.add("k" -> "plan", "phase" -> phase,
        "t0" -> s.startTimeMs.toDouble, "t1" -> s.endTimeMs.toDouble)
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}

object Trace {
  /** Registers the listeners that record into `rec`; the returned
    * function unregisters them.
    */
  def attach(spark: SparkSession, rec: Recorder): () => Unit = {
    val jobs = new JobStageListener(rec)
    val plans = new PlanListener(rec)
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    () => {
      spark.sparkContext.removeSparkListener(jobs)
      spark.listenerManager.unregister(plans)
    }
  }

  /** Blocks until every posted listener event has been delivered. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
