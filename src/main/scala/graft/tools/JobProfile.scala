package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.SparkEntry
import graft.benchmark.{Force, RunMetrics}

/** Dev tool: executed-plan evidence beyond the lazy `Explain` dump —
  * run named queries at the bench's shape and report, per query, the
  * REAL job / stage / task counts and wall time of one forced
  * execution (warm-up run first, like the bench). Eager builders
  * (checkpoint-cut loops) hide their work from the returned plan; this
  * tool counts it, so "one fewer pass / one fewer job" claims are
  * verifiable (r17 VERDICT noted plan dumps alone cannot show them).
  * The counts, shuffle bytes and executor times are
  * [[graft.benchmark.RunMetrics]] totals of the forced run's own jobs,
  * complete when the run returns.
  *
  * It also reports the generated-code classes Janino compiled during
  * the forced run (`compiles`, with the warm-up run's count as `cold`)
  * and their compile time. Spark caches compiled classes in a
  * fixed-size LRU (100 entries by default), so a query whose distinct
  * classes outgrow it recompiles on every execution: a non-zero warm
  * count is that thrash.
  *
  * With `-v` it also lists every job of the forced run, its SQL
  * executions and the query's generated classes. Each execution line
  * gives its jobs, the classes compiled between the previous
  * execution's last job end and its own (the compile counter is read at
  * every job end; the executions run in sequence), its wall time and
  * the call site that ran it (`localCheckpoint at
  * Curation.scala:<line>`; id -1 groups the jobs outside any execution).
  * Each class line is one distinct source, with its codegen stage id
  * (`-` for expression-level classes), its class kind, a hash of the
  * source as Spark generated it (comments included) and how many
  * times the warm-up and the forced run compiled it. A count of 2 per
  * run is the driver and the executor class loader each compiling the
  * same source; a forced-run count is cache thrash. The header also
  * counts the distinct sources once stage ids are normalized: sources
  * that differ only by their stage id are the same class under a new
  * name. Its `working set` line counts those classes in codegen cache
  * entries — a whole-stage class twice (the driver's and the executor
  * threads' class loaders key it apart), an expression class once —
  * beside the session's `spark.sql.codegen.cache.maxEntries` and its
  * per-segment share: the cache is four LRU segments of maxEntries / 4,
  * and a pass that touches more entries than a segment holds misses on
  * every access to it. Only compiles are seen, so a query after the
  * first misses the classes an earlier query compiled and still holds.
  *
  * Runs on `SPARK_GRAFT_CPUS` cores (default: all) and as many shuffle
  * partitions.
  *
  * Usage: runMain graft.tools.JobProfile q1,q2 /root/testdata/sf0.1 [-v]
  */
object JobProfile {

  /** One compiled source: codegen stage id, class kind, source hash and
    * the hash with stage ids normalized.
    */
  final case class GenClass(stage: Option[Int], kind: String, hash: String,
                            normalized: String)

  /** Collects the sources Janino compiles while attached. Spark's
    * `CodeGenerator` logs each source it compiles at the codegen log
    * level (`spark.sql.codegen.logLevel`, DEBUG by default); the
    * collector routes that logger, at that level, to itself alone.
    */
  final class ClassCollector(level: String) {
    private val loggerName =
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    private val sources =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    private val appender = new org.apache.logging.log4j.core.appender
        .AbstractAppender("graft-class-collector", null, null, true,
          org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      // the logger also reports compile times; only sources are kept
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("generate(Object[] references)")) sources.add(m)
      }
    }

    def attach(): Unit = {
      import org.apache.logging.log4j.{Level, LogManager}
      import org.apache.logging.log4j.core.LoggerContext
      import org.apache.logging.log4j.core.config.LoggerConfig
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val cfg = ctx.getConfiguration
      appender.start()
      cfg.addAppender(appender)
      val lc = new LoggerConfig(loggerName, Level.toLevel(level), false)
      lc.addAppender(appender, Level.toLevel(level), null)
      cfg.addLogger(loggerName, lc)
      ctx.updateLoggers()
    }

    /** The sources compiled since the last drain. */
    def drain(): Seq[GenClass] = {
      val out = Seq.newBuilder[GenClass]
      var src = sources.poll()
      while (src != null) { out += parse(src); src = sources.poll() }
      out.result()
    }

    private val WholeStage = "GeneratedIteratorForCodegenStage(\\d+)".r
    private val ClassName = "class (\\w+)".r
    private val StageIds = "(CodegenStage|codegenStageId=)\\d+".r

    private def sha(s: String): String = java.security.MessageDigest
      .getInstance("SHA-1").digest(s.getBytes("UTF-8"))
      .take(5).map(b => f"${b & 0xff}%02x").mkString

    private def parse(src: String): GenClass = {
      val (stage, kind) = WholeStage.findFirstMatchIn(src) match {
        case Some(m) => (Some(m.group(1).toInt), "WholeStageCodegen")
        case None => (None, ClassName.findFirstMatchIn(src)
          .map(_.group(1)).getOrElse("?"))
      }
      GenClass(stage, kind, sha(src), sha(StageIds.replaceAllIn(src, "$1#")))
    }
  }

  def main(args: Array[String]): Unit = {
    val specs = SparkEntry.lookup(args(0))
    val sfDir = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val verbose = args.length > 2 && args(2) == "-v"
    val classes = if (verbose) {
      val c = new ClassCollector(spark.conf.get("spark.sql.codegen.logLevel"))
      c.attach()
      Some(c)
    } else None
    // process-wide codegen counters: compilations and their time (ns)
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    specs.foreach { q =>
      val (name, fn) = (q.name, q.build)
      val cold0 = compiles()
      classes.foreach(_.drain())
      Force(fn(spark, sfDir)) // warm-up, uncounted
      val cold = compiles() - cold0
      val coldClasses = classes.map(_.drain()).getOrElse(Nil)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc(); Thread.sleep(500)
      val c0 = compiles()
      val ct0 = CodeGenerator.compileTime
      val (sec, m) = RunMetrics.measure(spark) {
        val t0 = System.nanoTime()
        Force(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      val warm = compiles() - c0
      val compileMs = (CodeGenerator.compileTime - ct0) / 1e6
      val warmClasses = classes.map(_.drain()).getOrElse(Nil)
      println(f"[jobprofile] $name%-28s jobs=${m.jobs.size}%3d " +
        f"stages=${m.stages}%4d tasks=${m.tasks}%6d " +
        f"shufR=${m.shuffleReadBytes / 1024}%8d KiB " +
        f"shufW=${m.shuffleWriteBytes / 1024}%8d KiB " +
        f"cpu=${m.executorCpuNs / 1e9}%7.3f s " +
        f"run=${m.executorRunMs / 1e3}%7.3f s " +
        f"wall=$sec%7.3f s compiles=$warm%4d (cold $cold%4d) " +
        f"compile=$compileMs%8.1f ms")
      if (verbose) {
        m.jobs.foreach(j => println(f"    job ${j.id}%3d " +
          f"${j.wallMs.fold("?")(_.toString)}%7s ms  ${j.description}"))
        // one line per execution; they run in sequence on this thread,
        // so an execution's compiles are the counter's growth since the
        // previous one's last job end
        var last = c0
        for ((x, js) <- m.jobs.groupBy(_.execution).toSeq.sortBy(_._2.head.id)) {
          val end = js.flatMap(_.compilesAtEnd).maxOption.getOrElse(last)
          val e = m.executions.find(_.id == x)
          println(f"    execution $x%4d jobs ${js.size}%3d " +
            f"compiles ${end - last}%4d wall " +
            f"${e.flatMap(_.wallMs).fold("?")(_.toString)}%6s ms  " +
            s"${e.fold("-")(_.description)}  [${js.map(_.id).mkString(",")}]")
          last = end
        }
        val all = coldClasses ++ warmClasses
        val coldN = coldClasses.groupBy(identity).view.mapValues(_.size)
        val warmN = warmClasses.groupBy(identity).view.mapValues(_.size)
        println(s"    classes: ${all.distinct.size} distinct sources, " +
          s"${all.map(_.normalized).distinct.size} with stage ids " +
          s"normalized (compiles: warm-up ${coldClasses.size}, " +
          s"forced run ${warmClasses.size})")
        val pass = all.groupBy(_.normalized).values.map(_.head).toSeq
        val stages = pass.count(_.stage.isDefined)
        val maxEntries =
          spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt
        println(s"    working set: ${pass.size + stages} " +
          s"cache entries ($stages whole-stage x2, ${pass.size - stages} " +
          s"expression x1) of maxEntries $maxEntries, ${maxEntries / 4} " +
          "per segment")
        all.distinct.sortBy(g => (g.stage.getOrElse(-1), g.kind, g.hash))
          .foreach { g =>
            println(f"      stage ${g.stage.fold("-")(_.toString)}%4s " +
              f"${g.kind}%-34s ${g.hash} cold ${coldN.getOrElse(g, 0)}%2d " +
              f"warm ${warmN.getOrElse(g, 0)}%2d")
          }
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc(); Thread.sleep(300)
    }
    spark.stop()
  }
}
