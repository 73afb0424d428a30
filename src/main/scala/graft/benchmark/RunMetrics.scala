package graft.benchmark

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftshim.ListenerBusDrain

/** Totals of the Spark jobs one block of driver code launched, collected
  * by [[RunMetrics.measure]]: the jobs in id order, their completed stage
  * attempts (a stage whose shuffle output is reused is skipped and never
  * completes) and those stages' tasks, summed task CPU and run time,
  * shuffle bytes read and written, scan input bytes, bytes spilled from
  * memory, and the sum over the stages of each stage's aggregated task
  * peak execution memory (aggregation, sort and join buffers), and the
  * SQL executions that launched the jobs, in id order.
  */
final case class RunMetrics(jobs: Vector[RunMetrics.Job], stages: Int,
    tasks: Int, executorCpuNs: Long, executorRunMs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, inputBytes: Long,
    spilledBytes: Long, peakExecutionMemory: Long,
    executions: Vector[RunMetrics.Execution])

object RunMetrics {

  /** One job: its `spark.job.description` (empty when unset), its wall
    * time from the job events' own timestamps (`None` if it had not ended
    * when the block returned), the SQL execution that launched it (-1 for
    * none) and the process-wide count of generated classes compiled, read
    * when its end event was delivered.
    */
  final case class Job(id: Int, description: String, wallMs: Option[Long],
                       execution: Long, compilesAtEnd: Option[Long])

  /** One SQL execution: its description (Spark's call site, such as
    * `localCheckpoint at Curation.scala:<line>`, unless a job
    * description is set) and its wall time (`None` if it had not ended).
    */
  final case class Execution(id: Long, description: String,
                             wallMs: Option[Long])

  /** The job local property naming the measurement a job belongs to.
    * Spark copies local properties into the threads it runs a query's
    * broadcasts and subqueries on, and into threads created while set.
    */
  private val TagProperty = "graft.runMetrics"
  private val nextTag = new AtomicLong(0L)

  /** Runs `body` and returns its result with the totals of the jobs it
    * launched from this thread (or from threads it created); jobs other
    * threads run meanwhile are not counted, nor are the jobs of a nested
    * `measure`. Before reading the totals it waits until the listener bus
    * has delivered every event posted so far, so they are complete when
    * it returns; a bus that does not drain throws. A failing `body`
    * rethrows. The listener is removed in every case.
    */
  def measure[T](spark: SparkSession)(body: => T): (T, RunMetrics) = {
    val sc = spark.sparkContext
    val collector = new Collector(nextTag.incrementAndGet().toString)
    sc.addSparkListener(collector)
    try {
      val outer = sc.getLocalProperty(TagProperty)
      sc.setLocalProperty(TagProperty, collector.tag)
      val out = try body finally sc.setLocalProperty(TagProperty, outer)
      ListenerBusDrain(sc)
      (out, collector.totals)
    } finally sc.removeSparkListener(collector)
  }

  private final class Collector(val tag: String) extends SparkListener {
    private val jobs = mutable.TreeMap.empty[Int, (String, Long, Long)]
    private val ends = mutable.Map.empty[Int, (Long, Long)]
    private val execs = mutable.Map.empty[Long, (String, Long)]
    private val execEnds = mutable.Map.empty[Long, Long]
    private val mine = mutable.Set.empty[Int]
    private val done = mutable.ArrayBuffer.empty[StageInfo]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      if (p.exists(_.getProperty(TagProperty) == tag)) {
        def prop(k: String) = p.flatMap(p => Option(p.getProperty(k)))
        jobs(e.jobId) = (prop("spark.job.description").getOrElse(""), e.time,
          prop(SQLExecution.EXECUTION_ID_KEY).fold(-1L)(_.toLong))
        mine ++= e.stageIds
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (jobs.contains(e.jobId)) ends(e.jobId) =
        (e.time, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          execs(s.executionId) = (s.description, s.time)
        case s: SparkListenerSQLExecutionEnd => execEnds(s.executionId) = s.time
        case _ =>
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { if (mine(e.stageInfo.stageId)) done += e.stageInfo }

    def totals: RunMetrics = synchronized {
      val m = done.flatMap(s => Option(s.taskMetrics))
      def sum(f: TaskMetrics => Long): Long = m.map(f).sum
      RunMetrics(jobs.iterator.map { case (id, (desc, t0, x)) =>
          Job(id, desc, ends.get(id).map(_._1 - t0), x, ends.get(id).map(_._2))
        }.toVector, done.size, done.map(_.numTasks).sum,
        sum(_.executorCpuTime), sum(_.executorRunTime),
        sum(_.shuffleReadMetrics.totalBytesRead),
        sum(_.shuffleWriteMetrics.bytesWritten),
        sum(_.inputMetrics.bytesRead), sum(_.memoryBytesSpilled),
        sum(_.peakExecutionMemory),
        jobs.values.map(_._3).toVector.distinct.sorted.flatMap(x =>
          execs.get(x).map { case (d, t0) =>
            Execution(x, d, execEnds.get(x).map(_ - t0)) }))
    }
  }
}
