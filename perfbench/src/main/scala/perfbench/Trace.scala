package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** One recorded interval. `kind` is workload, op, stage (a DAG stage),
  * phase (a request phase) or job (a Spark job); every span of one op
  * carries that op's id. Times are epoch milliseconds. */
final case class Span(opId: Int, kind: String, name: String, startMs: Long, endMs: Long) {
  def wallMs: Long = endMs - startMs
}

/** Engine counters summed over a window (one op). */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskBusyMs = 0L
  var gcMs = 0L
  var bytesRead = 0L
  var rowsRead = 0L
  var bytesWritten = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** The benchmark's own tracer: a SparkListener for jobs, stages and
  * task metrics, attached only while a traced op runs. It adds nothing
  * inside the program. Events are delivered asynchronously, so
  * [[endOp]] drains the listener bus before it closes the op's window.
  * Spans stay in memory until the run writes them out. */
final class Trace(spark: SparkSession) {
  private val lock = new Object
  private var current: Counters = null
  private var opId = 0
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val spans = mutable.ArrayBuffer.empty[Span]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, e.time)
      lock.synchronized { if (current != null) current.jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t0 = Option(jobStart.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
      lock.synchronized { if (current != null) spans += Span(opId, "job", s"job ${e.jobId}", t0, e.time) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized { if (current != null) current.stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) lock.synchronized {
        if (current != null) {
          val c = current
          c.tasks += 1
          c.taskBusyMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.bytesRead += m.inputMetrics.bytesRead
          c.rowsRead += m.inputMetrics.recordsRead
          c.bytesWritten += m.outputMetrics.bytesWritten
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  def beginOp(id: Int): Unit = {
    drain()
    lock.synchronized { opId = id; current = new Counters }
    spark.sparkContext.addSparkListener(listener)
  }

  /** Close the op's window once every event it raised is delivered. */
  def endOp(): Counters = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    lock.synchronized { val c = current; current = null; c }
  }

  def add(span: Span): Unit = lock.synchronized { spans += span }

  private def drain(): Unit = org.apache.spark.GraftBusFlush.flush(spark.sparkContext)

  /** Self time per layer for one op: the op's own time outside its
    * stages or phases, the stages' time outside Spark jobs, and the
    * Spark jobs' time (overlaps within a layer counted once). */
  def selfTimes(id: Int): Map[String, Double] = {
    val mine = lock.synchronized(spans.filter(_.opId == id).toSeq)
    val op = mine.find(_.kind == "op")
    val mids = mine.filter(s => s.kind == "stage" || s.kind == "phase")
    val jobs = mine.filter(_.kind == "job")
    def union(xs: Seq[Span]): Long = {
      var total = 0L
      var end = Long.MinValue
      xs.sortBy(_.startMs).foreach { s =>
        val from = math.max(s.startMs, end)
        if (s.endMs > from) { total += s.endMs - from; end = s.endMs }
      }
      total
    }
    val opMs = op.map(_.wallMs).getOrElse(0L)
    val midMs = union(mids)
    val jobMs = union(jobs)
    Map(
      "self.op_s" -> math.max(0L, opMs - midMs) / 1000.0,
      "self.stage_s" -> math.max(0L, midMs - jobMs) / 1000.0,
      "self.job_s" -> jobMs / 1000.0)
  }

  /** One JSON line per span. `parent` names the enclosing span: a job's
    * stage or phase (the one its start falls in), a stage's or phase's
    * op, an op's workload. */
  def writeSpans(path: String): Unit = {
    val all = lock.synchronized(spans.toSeq)
    val byOp = all.groupBy(_.opId)
    def parent(s: Span): String = s.kind match {
      case "job" =>
        byOp(s.opId).find(p => (p.kind == "stage" || p.kind == "phase") &&
          p.startMs <= s.startMs && s.startMs < p.endMs).map(p => s"${p.kind}:${p.name}").getOrElse("op")
      case "stage" | "phase" => "op"
      case "op" => "workload"
      case _ => ""
    }
    implicit val formats: Formats = DefaultFormats
    val lines = all.map { s =>
      Serialization.write(Map("op" -> s.opId, "kind" -> s.kind, "name" -> s.name, "parent" -> parent(s),
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)) + "\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.mkString.getBytes("UTF-8"))
  }
}
