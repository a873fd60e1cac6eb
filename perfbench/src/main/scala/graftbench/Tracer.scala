package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One recorded interval: a set-up phase, an op, or a Spark job inside an
  * op. `parent` is the index of the enclosing span (-1 for a root) and
  * `op` the op id it belongs to (-1 outside ops).
  */
final case class Span(name: String, startMs: Double, endMs: Double, parent: Int, op: Int)

final case class TaskRec(stageId: Int, launch: Long, finish: Long, runMs: Long,
    cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    recordsRead: Long, recordsWritten: Long)

final case class JobRec(jobId: Int, start: Long, var end: Long, stageIds: Seq[Int],
    execId: Long)

/** Spark's own view of an op: everything the listener bus and the
  * planning tracker saw inside the op's time window.
  */
final case class SparkStats(jobs: Int, tasks: Int, planningMs: Double,
    driverSerialS: Double, executorRunS: Double, executorCpuS: Double, gcS: Double,
    slotBusyRatio: Double, shuffleWriteBytes: Double, shuffleReadBytes: Double,
    spillBytes: Double, taskSkewMax: Double, commitTailS: Double,
    recordsRead: Double, recordsWritten: Double)

/** Hadoop `FileSystem` statistics of the `file` scheme, summed over every
  * thread (executors run as threads of this JVM under local[4]). The local
  * file system counts no read operations, only bytes.
  */
final case class FsCounters(bytesWritten: Long, bytesRead: Long) {
  def -(o: FsCounters): FsCounters =
    FsCounters(bytesWritten - o.bytesWritten, bytesRead - o.bytesRead)
}

object FsCounters {
  @annotation.nowarn("cat=deprecation")
  def now(): FsCounters = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    FsCounters(st.map(_.getBytesWritten).sum, st.map(_.getBytesRead).sum)
  }
}

/** Listener that keeps every task, job, SQL execution and planning record
  * in memory; the traced run reads them by time window after draining the
  * bus.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val jobs = ArrayBuffer.empty[JobRec]
  private val planning = ArrayBuffer.empty[(Long, Long)] // (first phase start, ms)
  private val sqlPlans = scala.collection.mutable.Map.empty[Long, (Long, String)]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead,
        m.outputMetrics.recordsWritten)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
    jobs += JobRec(e.jobId, e.time, 0L, e.stageIds, exec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.jobId == e.jobId).foreach(_.end = e.time)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlPlans(s.executionId) = (s.rootExecutionId.getOrElse(s.executionId),
        s.physicalPlanDescription)
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) synchronized {
      planning += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def window(t0: Long, t1: Long): (Seq[TaskRec], Seq[JobRec], Double) = synchronized {
    (tasks.filter(t => t.launch >= t0 && t.launch <= t1).toList,
      jobs.filter(j => j.start >= t0 && j.start <= t1).toList,
      planning.filter { case (s, _) => s >= t0 && s <= t1 }.map(_._2.toDouble).sum)
  }

  /** The table stage (`triples`, `linked`, `entities`) a job's SQL
    * execution writes, read from the output path of its
    * InsertIntoHadoopFsRelationCommand; None for jobs that write nothing.
    */
  def writtenStage(job: JobRec): Option[String] = synchronized {
    val root = sqlPlans.get(job.execId).map(_._1).getOrElse(job.execId)
    Seq(root, job.execId).flatMap(sqlPlans.get).map(_._2).collectFirst {
      case plan if plan.contains("InsertIntoHadoopFsRelationCommand") =>
        Recorder.OutputStage.findFirstMatchIn(
          plan.substring(plan.indexOf("InsertIntoHadoopFsRelationCommand")))
          .map(_.group(1))
    }.flatten
  }

}

object Recorder {
  private val OutputStage = """/(triples|linked|entities)/(?:data|manifest)\b""".r
}

/** Records spans and, while attached, Spark's listener metrics. */
final class Tracer(spark: SparkSession, val slots: Int) {
  val recorder = new Recorder
  val spans = ArrayBuffer.empty[Span]
  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(recorder)
    spark.listenerManager.register(recorder)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(recorder)
    spark.listenerManager.unregister(recorder)
    attached = false
  }

  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Open a span now; returns its index for `close` and for children. */
  def open(name: String, parent: Int = -1, op: Int = -1): Int = spans.synchronized {
    spans += Span(name, Clock.epochMs(), Double.NaN, parent, op); spans.size - 1
  }

  def close(idx: Int): Unit = spans.synchronized {
    spans(idx) = spans(idx).copy(endMs = Clock.epochMs())
  }

  def span[A](name: String, parent: Int = -1, op: Int = -1)(f: => A): A = {
    val idx = open(name, parent, op)
    try f finally close(idx)
  }

  /** Spark statistics of the op that ran in [t0, t1] (epoch ms); adds
    * its jobs as child spans of `parent`. Call after `drain()`.
    */
  def sparkStats(t0: Long, t1: Long, parent: Int, op: Int): (SparkStats, Seq[JobRec], Seq[TaskRec]) = {
    val (tasks, jobs, planningMs) = recorder.window(t0, t1)
    spans.synchronized {
      jobs.foreach(j => spans += Span(s"spark.job.${j.jobId}", j.start.toDouble,
        (if (j.end > 0) j.end else t1).toDouble, parent, op))
    }
    val wallMs = math.max(1L, t1 - t0).toDouble
    val busyMs = Stats.unionLength(tasks.map(t =>
      (math.max(t.launch, t0).toDouble, math.min(t.finish, t1).toDouble)))
    val lastFinish = if (tasks.isEmpty) t0 else tasks.map(_.finish).max
    val st = SparkStats(jobs.size, tasks.size, planningMs,
      (wallMs - busyMs) / 1e3,
      tasks.map(_.runMs).sum / 1e3, tasks.map(_.cpuNs).sum / 1e9, tasks.map(_.gcMs).sum / 1e3,
      tasks.map(t => (t.finish - t.launch).toDouble).sum / (wallMs * slots),
      tasks.map(_.shuffleWrite).sum.toDouble, tasks.map(_.shuffleRead).sum.toDouble,
      tasks.map(_.spill).sum.toDouble, Tracer.taskSkewMax(tasks), math.max(0L, t1 - lastFinish) / 1e3,
      tasks.map(_.recordsRead).sum.toDouble, tasks.map(_.recordsWritten).sum.toDouble)
    (st, jobs, tasks)
  }

  /** Self time of each span: its duration minus the part of it that its
    * child spans cover.
    */
  def selfTimesMs(): Seq[Double] = spans.synchronized {
    val children = spans.indices.groupBy(i => spans(i).parent)
    spans.indices.map { i =>
      val s = spans(i)
      s.endMs - s.startMs - Stats.unionLength(children.getOrElse(i, Nil).map { c =>
        (math.max(spans(c).startMs, s.startMs), math.min(spans(c).endMs, s.endMs))
      })
    }
  }

  /** One JSON object per span; times in ms from the first span's start. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val self = selfTimesMs()
    val lines = spans.synchronized(spans.indices.map { i =>
      val s = spans(i)
      val t0 = spans.head.startMs
      Json.obj(Seq("id" -> Json.num(i), "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.startMs - t0), "end_ms" -> Json.num(s.endMs - t0),
        "self_ms" -> Json.num(self(i)), "parent" -> Json.num(s.parent),
        "op" -> Json.num(s.op)))
    })
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** The worst stage's max/median task time (1 when no stage has two
    * tasks): the load-imbalance measure of DS2 and Hurricane.
    */
  def taskSkewMax(tasks: Seq[TaskRec]): Double =
    tasks.groupBy(_.stageId).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(t => (t.finish - t.launch).toDouble)
      d.max / math.max(1.0, Stats.median(d))
    }.foldLeft(1.0)(math.max)
}

/** Epoch milliseconds with nanosecond resolution: Spark reports task and
  * job times in epoch ms, spans need finer steps than the ms clock.
  */
object Clock {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def epochMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}
