package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: set up once (session start plus an
  * untimed warm-up pass, in a cold JVM), run timed passes for the given
  * number of seconds (and at least `MinPasses`), check the plans the
  * timed passes ran, then write the outputs to check and the in-memory
  * record to `<out>/result.json`.
  *
  * Arguments are `key=value` pairs: workload, input, out, seconds,
  * trace (0|1), cores, and workload-specific ones (delay_ms).
  * With trace=1 the first half of the seconds runs untraced and the
  * second half traced, so the record carries its own tracing overhead.
  */
object Main {

  /** Timed passes of an untraced run: at least this many, so its median
    * pass is a middle one whether or not the seconds run out after the
    * first two (pass times still fall for several passes after set-up).
    */
  val MinPasses = 3

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got `$a`")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val out = opts("out")
    val seconds = opts("seconds").toDouble
    val traceRun = opts("trace") == "1"
    val cores = opts("cores").toInt
    val rec = new Recorder
    val workload = Workload(opts("workload"), opts("input"), out, opts, rec)

    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(body: => T): T = {
      val t0 = Clock.nowMs
      try body finally phases(name) = (Clock.nowMs - t0) / 1e3
    }
    // one cold set-up per JVM: class loading, JIT and codegen included
    val setupStart = Clock.nowMs
    val spark = session(cores, out)
    workload.warmup(spark)
    val setupS = (Clock.nowMs - setupStart) / 1e3
    rec.attach(spark)

    def timed(from: Int, budgetS: Double, minPasses: Int): Int = {
      val t0 = Clock.nowMs
      var i = from
      do {
        rec.pass(i)(workload.pass(spark, i))
        workload.afterPass(spark, i)
        i += 1
      } while ((Clock.nowMs - t0) / 1e3 < budgetS || i - from < minPasses)
      i
    }
    phase("timed") {
      if (traceRun) {
        val next = timed(0, seconds / 2, 1)
        rec.startTracing(spark)
        timed(next, seconds / 2, 1)
      } else timed(0, seconds, MinPasses)
      rec.awaitQuiet()
      rec.tracing = false
    }
    phase("guard")(workload.guard(spark))
    phase("check")(workload.check(spark))
    val result = Map(
      "workload" -> opts("workload"),
      "master" -> spark.sparkContext.master,
      "spark_version" -> spark.version,
      "setup_s" -> setupS,
      "record" -> rec.toMap,
      "info" -> workload.info,
      "phases_s" -> phases,
      "oracle" -> graft.SparkEntry.oracleSqlFor("perfbench")
        .filter { case (name, _) => workload.oracles.contains(name) })
    Files.write(Paths.get(out, "result.json"),
      Json.write(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
