package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON encoder for the result file: maps, sequences, strings,
  * numbers, booleans and null.
  */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case '\n' => sb ++= "\\n"
        case '\r' => sb ++= "\\r"
        case '\t' => sb ++= "\\t"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(x: Any): Unit = x match {
      case null | None => sb ++= "null"
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double =>
        sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case n: Int => sb ++= n.toString
      case n: Long => sb ++= n.toString
      case m: collection.Map[_, _] =>
        sb += '{'
        m.iterator.zipWithIndex.foreach { case ((k, v), i) =>
          if (i > 0) sb += ','
          str(k.toString); sb += ':'; go(v)
        }
        sb += '}'
      case it: Iterable[_] =>
        sb += '['
        it.iterator.zipWithIndex.foreach { case (v, i) =>
          if (i > 0) sb += ','
          go(v)
        }
        sb += ']'
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}

/** Wall clock with sub-millisecond resolution on the epoch scale Spark's
  * listener events use (`System.currentTimeMillis`).
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** In-memory record of one run: passes and ops (always) and, while
  * tracing, spans, job/stage/task events, query planning phases and
  * streaming progress. Everything is written out once at the end.
  */
final class Recorder {

  private val lock = new Object
  val passes = ArrayBuffer.empty[Map[String, Any]]
  val ops = ArrayBuffer.empty[Map[String, Any]]
  val spans = ArrayBuffer.empty[Map[String, Any]]
  val jobs = ArrayBuffer.empty[Map[String, Any]]
  val stages = ArrayBuffer.empty[Map[String, Any]]
  val tasks = ArrayBuffer.empty[Map[String, Any]]
  val queries = ArrayBuffer.empty[Map[String, Any]]
  val progress = ArrayBuffer.empty[Map[String, Any]]
  @volatile private var jobsStarted = 0
  @volatile private var jobsEnded = 0

  // ---------------------------------------------------------------- spans

  private var nextSpan = 0
  private var stack: List[Int] = Nil
  private var sc: SparkContext = _

  /** True while spans and the tracing listeners are recording. */
  @volatile var tracing = false

  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(taskListener)
  }

  def startTracing(spark: SparkSession): Unit = {
    awaitQuiet()
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    tracing = true
  }

  /** Time `body` as a named span; nested spans record their parent. Jobs
    * submitted inside carry the span id as a local property. A no-op
    * wrapper when the run is not traced.
    */
  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption
      stack = id :: stack
      sc.setLocalProperty(Recorder.SpanProperty, id.toString)
      val start = Clock.nowMs
      try body
      finally {
        val end = Clock.nowMs
        stack = stack.tail
        sc.setLocalProperty(Recorder.SpanProperty,
          stack.headOption.map(_.toString).orNull)
        spans += Map("id" -> id, "name" -> name, "parent" -> parent,
          "start_ms" -> start, "end_ms" -> end)
      }
    }

  // ------------------------------------------------------ passes and ops

  /** Time one op; a thrown error marks it failed and keeps its time. */
  def op(pass: Int, kind: String, key: String)(body: => Unit): Unit = {
    val start = Clock.nowMs
    val error =
      try { body; None }
      catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}".take(400)) }
    val end = Clock.nowMs
    ops += Map("pass" -> pass, "kind" -> kind, "key" -> key,
      "start_ms" -> start, "end_ms" -> end, "error" -> error)
  }

  def pass(index: Int)(body: => Unit): Unit = {
    val start = Clock.nowMs
    span("pass")(body)
    val end = Clock.nowMs
    passes += Map("index" -> index, "traced" -> tracing,
      "start_ms" -> start, "end_ms" -> end)
  }

  // ------------------------------------------------------------ listeners

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobsStarted += 1
      if (tracing) {
        val span = Option(e.properties).flatMap(p =>
          Option(p.getProperty(Recorder.SpanProperty)))
        jobs += Map("job" -> e.jobId, "start_ms" -> e.time,
          "span" -> span.map(_.toInt))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobsEnded += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (tracing) lock.synchronized {
        val i = e.stageInfo
        stages += Map("stage" -> i.stageId,
          "completed_ms" -> i.completionTime.getOrElse(-1L))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (tracing && e.taskMetrics != null) lock.synchronized {
        val m = e.taskMetrics
        val info = e.taskInfo
        tasks += Map("stage" -> e.stageId, "end_ms" -> info.finishTime,
          "ok" -> info.successful,
          "peak_mem" -> m.peakExecutionMemory,
          "duration_ms" -> info.duration,
          "run_ms" -> m.executorRunTime,
          "cpu_ns" -> m.executorCpuTime,
          "gc_ms" -> m.jvmGCTime,
          "shuffle_read" -> (m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead),
          "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
          "spill" -> m.diskBytesSpilled,
          "result" -> m.resultSize,
          "records_in" -> (m.inputMetrics.recordsRead +
            m.shuffleReadMetrics.recordsRead))
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = record(funcName, qe, durationNs, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = record(funcName, qe, 0L, ok = false)
    private def record(funcName: String, qe: QueryExecution,
                       durationNs: Long, ok: Boolean): Unit = lock.synchronized {
      val phases = qe.tracker.phases.map { case (k, p) =>
        k -> Map("start_ms" -> p.startTimeMs, "end_ms" -> p.endTimeMs)
      }
      queries += Map("func" -> funcName, "end_ms" -> System.currentTimeMillis(),
        "duration_ms" -> durationNs / 1e6, "ok" -> ok, "phases" -> phases)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        val p = e.progress
        val durations = p.durationMs
        val d = (k: String) => Option(durations.get(k)).map(_.longValue).getOrElse(0L)
        val state = p.stateOperators.toSeq
        progress += Map("end_ms" -> System.currentTimeMillis(),
          "batch" -> p.batchId,
          "trigger_ms" -> d("triggerExecution"), "add_batch_ms" -> d("addBatch"),
          "planning_ms" -> d("queryPlanning"), "wal_ms" -> d("walCommit"),
          "input_rows" -> p.numInputRows,
          "output_rows" -> Option(p.sink).map(_.numOutputRows).getOrElse(-1L),
          "state_rows" -> state.map(_.numRowsTotal).sum,
          "state_mem" -> state.map(_.memoryUsedBytes).sum)
      }
  }

  /** Wait until every started job has ended and the listener bus has been
    * quiet for a moment, so the in-memory record is complete.
    */
  def awaitQuiet(timeoutMs: Long = 20000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val n = lock.synchronized(tasks.size + jobsEnded + progress.size + queries.size)
      val now = System.currentTimeMillis()
      if (n != last) { last = n; stableSince = now }
      else if (jobsStarted == jobsEnded && now - stableSince >= 300) return
      Thread.sleep(50)
    }
  }

  def toMap: Map[String, Any] = lock.synchronized(Map(
    "passes" -> passes.toList, "ops" -> ops.toList, "spans" -> spans.toList,
    "jobs" -> jobs.toList, "stages" -> stages.toList, "tasks" -> tasks.toList,
    "queries" -> queries.toList, "progress" -> progress.toList))
}

object Recorder {
  val SpanProperty = "perfbench.span"
}
