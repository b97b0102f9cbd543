package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed call the benchmark made into a module. `op` is the
  * operation the call belongs to (-1 during set-up). */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
    val start: Long) {
  var end: Long = 0L
  val attrs = mutable.LinkedHashMap.empty[String, Double]
}

/** Spans held in memory and written out when the run ends. While not
  * `active`, `span` runs its body and records nothing. While a span is
  * open its id rides the thread's Spark local properties, so every job
  * it starts is attributed to it by [[JobLedger]]. */
final class Tracer {
  var active = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var op: Int = -1
  var sc: SparkContext = _

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), op, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Key, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Attach a measured value to the innermost open span. */
  def attr(key: String, v: Double): Unit =
    if (active) stack.headOption.foreach(_.attrs(key) = v)
}

object Tracer {
  val Key = "perfbench.span"
}

/** Spark listener that files every job, with its stages' task metrics,
  * under the span that started it. Stage call sites are mapped to the
  * graft source file they came from; a stage run from Spark's own
  * threads (broadcasts, subqueries) takes the call site of the SQL
  * execution it belongs to. */
final class JobLedger extends SparkListener {
  final class Job(val id: Int, val span: Int, val start: Long, val execFile: String) {
    var end: Long = 0L
    val stages = mutable.ArrayBuffer.empty[Map[String, Any]]
  }
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val schedDelay = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private val execFile = mutable.Map.empty[String, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      synchronized(execFile(x.executionId.toString) = JobLedger.fileOf(x.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(Tracer.Key).fold(-1)(_.toInt)
    val file = prop("spark.sql.execution.id").flatMap(execFile.get).getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, span, e.time, file)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      val getting = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      schedDelay(e.stageId) += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - getting)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (jid <- stageJob.get(si.stageId); job <- jobs.get(jid)) {
      val m = si.taskMetrics
      job.stages += Map(
        "file" -> Some(JobLedger.fileOf(si.details)).filter(_.nonEmpty).getOrElse(job.execFile),
        "ms" -> (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)),
        "tasks" -> si.numTasks,
        "cpu_ms" -> m.executorCpuTime / 1e6,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "records_read" -> m.inputMetrics.recordsRead,
        "bytes_written" -> m.outputMetrics.bytesWritten,
        "sched_delay_ms" -> schedDelay(si.stageId))
    }
  }

  def dump: Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map(j => Map("id" -> j.id, "span" -> j.span,
      "start" -> j.start, "end" -> j.end, "stages" -> j.stages.toSeq))
  }
}

object JobLedger {
  private val Frame = """^\s*(?:at\s+)?(graft\.[\w.$]+|perfbench\.[\w.$]+)\((\w+)\.scala:\d+\)""".r

  /** The graft.pipeline file of the stage's call site (its first user
    * frame), or "" when the call site lies elsewhere. */
  def fileOf(details: String): String =
    details.linesIterator.collectFirst { case Frame(cls, file) => (cls, file) } match {
      case Some((cls, file)) if cls.startsWith("graft.pipeline.") => file
      case _ => ""
    }
}
