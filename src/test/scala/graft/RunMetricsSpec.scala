package graft

import java.util.concurrent.Semaphore
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.benchmark.RunMetrics

/** [[RunMetrics.measure]]: exact totals without a settle wait, also
  * behind a lagging listener bus; job attribution to the measuring
  * thread; cleanup on failure.
  */
class RunMetricsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** A fixed plan with AQE off: one job of two stages, a 4-task map
    * stage feeding a 3-task result stage.
    */
  private def fixedPlan(): Long = {
    val conf = spark.conf
    val aqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try spark.range(0, 1000, 1, 4).repartition(3).collect().length
    finally conf.set("spark.sql.adaptive.enabled", aqe)
  }

  private def shape(m: RunMetrics) = (m.jobs.size, m.stages, m.tasks)

  private def listenerCount(): Int = {
    val bus = classOf[SparkContext].getMethod("listenerBus")
      .invoke(spark.sparkContext)
    bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[_]].size
  }

  test("exact job, stage and task counts of a fixed plan, read as soon " +
    "as measure returns, over 20 repetitions") {
    val shapes = (1 to 20).map { _ =>
      val (rows, m) = RunMetrics.measure(spark)(fixedPlan())
      assert(rows == 1000L)
      assert(m.shuffleWriteBytes > 0L && m.shuffleReadBytes > 0L, m)
      assert(m.jobs.forall(_.wallMs.exists(_ >= 0L)), m)
      shape(m)
    }
    assert(shapes.forall(_ == (1, 2, 7)), shapes)
  }

  test("totals are complete on return while the listener bus lags") {
    // query listeners run on the bus's shared queue, so holding this one
    // at the first query's end queues the second query's job events
    // behind it until after the body has returned: only the drain in
    // measure makes them count
    val lag = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        Thread.sleep(300)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(lag)
    try {
      val (_, m) = RunMetrics.measure(spark) { fixedPlan(); fixedPlan() }
      assert(shape(m) == ((2, 4, 14)), m)
    } finally spark.listenerManager.unregister(lag)
  }

  test("a job run concurrently on another thread is not counted") {
    val sc = spark.sparkContext
    val stop = new AtomicBoolean(false)
    val jobsDone = new Semaphore(0)
    // created before measure tags this thread, so it inherits no tag
    val other = new Thread(() => {
      sc.setJobDescription("other thread")
      while (!stop.get) {
        spark.range(0, 100, 1, 2).collect()
        jobsDone.release()
      }
    })
    other.start()
    try {
      val (_, m) = RunMetrics.measure(spark) {
        sc.setJobDescription("measured")
        try {
          fixedPlan()
          // two jobs of the other thread end while this body runs
          jobsDone.drainPermits()
          jobsDone.acquire(2)
        } finally sc.setJobDescription(null)
      }
      assert(shape(m) == ((1, 2, 7)), m)
      assert(m.jobs.map(_.description) == Vector("measured"), m)
    } finally {
      stop.set(true)
      other.join()
    }
  }

  test("a nested measure's jobs count only in the nested one") {
    val (inner, outer) = RunMetrics.measure(spark) {
      fixedPlan()
      RunMetrics.measure(spark)(fixedPlan())._2
    }
    assert(shape(inner) == ((1, 2, 7)), inner)
    assert(shape(outer) == ((1, 2, 7)), outer)
  }

  test("a failing body rethrows and leaves no listener behind") {
    val before = listenerCount()
    val e = intercept[Exception] {
      RunMetrics.measure(spark)(
        spark.range(0, 10, 1, 2).selectExpr("raise_error('boom')").collect())
    }
    assert(e.getMessage.contains("boom"), e.getMessage)
    assert(listenerCount() == before)
    assert(spark.sparkContext.getLocalProperty("graft.runMetrics") == null)
    // the session still measures afterwards
    assert(shape(RunMetrics.measure(spark)(fixedPlan())._2) == ((1, 2, 7)))
  }
}
