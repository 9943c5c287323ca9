package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Line-oriented JSON output: every record the benchmark measures is one
  * object per line in the result file, which `run.py` reduces to metrics. */
final class Out(path: String) {
  private val w = new java.io.PrintWriter(new java.io.BufferedWriter(
    new java.io.OutputStreamWriter(new java.io.FileOutputStream(path),
      java.nio.charset.StandardCharsets.UTF_8)))

  def emit(kind: String, fields: (String, Any)*): Unit = synchronized {
    w.println((("type" -> kind) +: fields).map { case (k, v) =>
      Out.str(k) + ":" + Out.value(v) }.mkString("{", ",", "}"))
  }
  def close(): Unit = synchronized(w.close())
}

object Out {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Spans and Spark counters of the traced run. Spans nest op → build →
  * execute (queries) or op → stage call (ETL); jobs hang under the span
  * that was open on the thread that started them, carried to the listener
  * through a SparkContext local property (inherited by stream threads).
  * Everything is held in memory and written out once, at exit. */
final class Tracer(sc: SparkContext) {
  import Tracer._

  @volatile var on = false
  @volatile var pass = -1

  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  def span[T](name: String, op: String)(body: => T): T = {
    if (!on) return body
    val s = Span(ids.incrementAndGet(), name, open.headOption.map(_.id), op, pass,
      nowMs(), Double.NaN)
    open = s :: open
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.end = nowMs()
      spans += s
      open = open.tail
      sc.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
    }
  }

  // Spark listeners, registered for traced runs only; jobs and their
  // metrics are kept while `on` (a traced pass) is set.

  private val jobs = new ConcurrentHashMap[Int, Job]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val stageSubmit = new ConcurrentHashMap[Int, Long]
  private val qes = ArrayBuffer.empty[(Int, Double, Double, Double)]
  private val progress = ArrayBuffer.empty[Progress]

  val jobListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      jobs.put(e.jobId, Job(e.jobId, pass, span.map(_.toLong), e.time.toDouble))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      job(e.stageInfo.stageId).foreach(j => j.synchronized(j.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = job(e.stageId).foreach { j =>
      val m = e.taskMetrics
      val info = e.taskInfo
      j.synchronized {
        j.tasks += 1
        val submitted = Option(stageSubmit.get(e.stageId)).getOrElse(info.launchTime)
        j.waitMs += math.max(0L, info.launchTime - submitted)
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.resultBytes += m.resultSize
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          j.spillDisk += m.diskBytesSpilled
          j.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
    private def job(stageId: Int): Option[Job] =
      Option(stageJob.get(stageId)).flatMap(id => Option(jobs.get(id)))
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = if (on) {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      qes.synchronized(qes += ((pass, ms("analysis"), ms("optimization"), ms("planning"))))
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (on) {
      val p = e.progress
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      progress.synchronized(progress += Progress(pass, p.numInputRows,
        d("triggerExecution"), d("addBatch"), d("queryPlanning"), d("latestOffset"),
        d("walCommit") + d("commitOffsets"),
        p.stateOperators.map(_.commitTimeMs.toDouble).sum))
    }
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def dump(out: Out): Unit = {
    spans.foreach(s => out.emit("span", "id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "op" -> s.op, "pass" -> s.pass,
      "start" -> s.start, "end" -> s.end))
    jobs.values.forEach { j =>
      out.emit("job", "id" -> j.id, "pass" -> j.pass, "span" -> j.span,
        "start" -> j.start, "end" -> j.end, "stages" -> j.stages, "tasks" -> j.tasks,
        "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
        "wait_ms" -> j.waitMs, "result_bytes" -> j.resultBytes,
        "shuffle_write" -> j.shuffleWrite, "shuffle_read" -> j.shuffleRead,
        "fetch_wait_ms" -> j.fetchWaitMs, "spill_disk" -> j.spillDisk,
        "output_bytes" -> j.outputBytes)
    }
    qes.foreach { case (p, a, o, pl) =>
      out.emit("qe", "pass" -> p, "analysis_ms" -> a, "optimization_ms" -> o,
        "planning_ms" -> pl)
    }
    progress.foreach(p => out.emit("progress", "pass" -> p.pass, "rows" -> p.rows,
      "trigger_ms" -> p.trigger, "add_batch_ms" -> p.addBatch,
      "planning_ms" -> p.planning, "latest_offset_ms" -> p.latestOffset,
      "wal_commit_ms" -> p.walCommit, "state_commit_ms" -> p.stateCommit))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Wall clock in epoch milliseconds with nanosecond resolution, so spans
    * and listener event times share one axis. */
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  final case class Span(id: Long, name: String, parent: Option[Long], op: String,
                        pass: Int, start: Double, var end: Double)

  final case class Job(id: Int, pass: Int, span: Option[Long], start: Double) {
    var end = Double.NaN
    var stages, tasks = 0
    var runMs, cpuNs, gcMs, waitMs, resultBytes = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs, spillDisk, outputBytes = 0L
  }

  final case class Progress(pass: Int, rows: Long, trigger: Double, addBatch: Double,
                            planning: Double, latestOffset: Double, walCommit: Double,
                            stateCommit: Double)
}

/** Always-on shuffle-write tally (an end-to-end metric, so it is counted in
  * untraced runs too); the stage-level metrics cost one map entry per stage. */
final class ShuffleTally extends SparkListener {
  private val bytes = new AtomicLong(0)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(e.stageInfo.taskMetrics).foreach(m =>
      bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
  def total: Long = bytes.get
}
