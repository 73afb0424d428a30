package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.benchmark.{RunMetrics, SparkTimeProfiler, TimeProfiler}
import graft.operators.IntervalIdentifier
import graft.pipeline.{Pipeline, Stage}
import graft.testing._

/** Specs for the framework layer: pipeline access/caching/profiling,
  * DataTestCase + mutants, profilers.
  */
class FrameworkSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def df3 = Seq((1, "a"), (2, "b"), (3, "c")).toDF("n", "s")

  test("Pipeline: stage access by index, substring and ambiguity error") {
    val p = Pipeline(
      Stage.of("add_one")(_.withColumn("n1", col("n") + 1)),
      Stage.of("add_two")(_.withColumn("n2", col("n") + 2)),
      Stage.of("filter_big")(_.filter(col("n") > 1)))
    assert(p.indexOf(1) == 1)
    assert(p.indexOf("filter") == 2)
    intercept[IllegalArgumentException](p.indexOf("add"))   // ambiguous
    intercept[IllegalArgumentException](p.indexOf("nope"))  // missing
    intercept[IllegalArgumentException](p.indexOf(7))       // out of range
  }

  test("Pipeline: transform records intermediates; apply() returns them") {
    val p = Pipeline(
      Stage.of("add_one")(_.withColumn("n1", col("n") + 1)),
      Stage.of("filter_big")(_.filter(col("n") > 1)))
    val out = p.transform(df3)
    assert(out.count() == 2)
    assert(p("add_one").count() == 3)
    assert(p(1).columns.contains("n1"))
  }

  test("Pipeline: slice produces a sub-pipeline") {
    val p = Pipeline(
      Stage.of("a")(identity), Stage.of("b")(identity), Stage.of("c")(identity))
    assert(p.slice("a", "c").stages.map(_.label) == Seq("a", "b"))
  }

  test("Pipeline: caching flags and profile stats") {
    val p = Pipeline(
      Stage.of("wide")(_.withColumn("x", col("n") * 2)),
      Stage.of("narrow")(_.select("n")))
    p.cache("wide")
    assert(p.cachedStages == Seq("wide"))
    val prof = p.profile(df3)
    assert(prof.size == 2)
    assert(prof.head.cached && !prof.last.cached)
    assert(prof.forall(_.rows == 3))
    assert(prof.head.cols == 3 && prof.last.cols == 1)
    p.uncache("wide")
    assert(p.cachedStages.isEmpty)
  }

  test("Pipeline: profile runs one job per narrow stage and observes the " +
    "row count on it") {
    val p = Pipeline(
      Stage.of("double")(_.withColumn("x", col("id") * 2)),
      Stage.of("third")(_.filter(col("id") % 3 === 0)))
    val reads = spark.sparkContext.longAccumulator("profile input reads")
    val input = spark.range(0, 300, 1, 4)
      .map { id => reads.add(1); id.longValue }.toDF("id")
    val (prof, m) = RunMetrics.measure(spark)(p.profile(input))
    assert(prof.map(_.rows) == Seq(300L, 100L))
    assert(m.jobs.size == 2, m.jobs)
    // the second stage runs over the first stage's persisted rows, not
    // over a recomputation of the first stage from the input
    assert(reads.value == 300L, s"input read ${reads.value / 300.0} times")
  }

  test("Pipeline: wranglers coerce to stages") {
    val events = Seq((1L, 1L, "s"), (1L, 2L, "e"))
      .toDF("user_id", "event_id", "marker")
    val p = Pipeline.of(new IntervalIdentifier("marker", "s", Some("e"),
      orderbyColumns = Seq("event_id"), groupbyColumns = Seq("user_id")))
    assert(p.transform(events).filter(col("iids") === 1).count() == 2)
  }

  test("codegenStageCount parses executed-plan ids") {
    val agg = df3.groupBy("s").count()
    agg.collect()
    assert(Pipeline.codegenStageCount(agg) > 0)
  }

  test("DataTestCase: golden pass plus mutant killing") {
    val tc = new DataTestCase(spark) {
      def input = PlainFrame.fromPlain(
        Seq(Seq(1, 10), Seq(2, 20)), Seq("k:i", "v:i"))
      def expected = PlainFrame.fromPlain(
        Seq(Seq(1, 20), Seq(2, 40)), Seq("k:i", "v:i"))
      override def mutants = Seq(ValueMutant("v", 0, 99L))
    }
    tc.test(df => df.withColumn("v", col("v") * 2))
    tc.test(df => df.withColumn("v", col("v") * 2), repartition = Some(5))
  }

  test("DataTestCase: surviving mutant raises") {
    val tc = new DataTestCase(spark) {
      def input = PlainFrame.fromPlain(Seq(Seq(1, 10)), Seq("k:i", "v:i"))
      def expected = PlainFrame.fromPlain(Seq(Seq(1, 0)), Seq("k:i", "v:i"))
      override def mutants = Seq(ValueMutant("v", 0, 55L))
    }
    // op ignores `v` entirely -> golden passes but mutant survives
    val e = intercept[AssertionError](
      tc.test(df => df.withColumn("v", lit(0))))
    assert(e.getMessage.contains("NOT killed"))
  }

  test("RandomMutant: deterministic per seed and always changes the frame") {
    val pf = PlainFrame.fromPlain(
      Seq(Seq(1, "x"), Seq(2, "y")), Seq("a:i", "b:s"))
    val m = RandomMutant(count = 2, seed = 7)
    val m1 = m.mutate(pf)
    val m2 = m.mutate(pf)
    assert(m1.rows == m2.rows)           // seeded => reproducible
    assert(m1.rows != pf.rows)           // actually mutates
    intercept[AssertionError](m1.assertEqual(pf))
  }

  test("TimeProfiler: stats over runs") {
    val p = new TimeProfiler(reps = 3, warmups = 0).profile { Thread.sleep(5) }
    assert(p.runs.size == 3 && p.best >= 0.004 && p.median >= p.best)
  }

  test("SparkTimeProfiler: cached-input protocol runs and unpersists") {
    val prof = new SparkTimeProfiler(reps = 2, warmups = 1, cacheInput = true)
      .profile(df3)(_.groupBy("s").count())
    assert(prof.runs.size == 2)
    assert(df3.storageLevel.useMemory == false)
  }

  test("SparkMemoryProfiler: peak execution memory, input bytes and " +
    "ratio over a real scan (the pyspark-side TODO of the reference, " +
    "exceeded)") {
    import graft.benchmark.SparkMemoryProfiler
    // a parquet-backed input so inputMetrics.bytesRead is non-zero and
    // a wide aggregation so execution memory is actually allocated
    val dir = "/tmp/mem_profiler_spec.parquet"
    spark.range(0, 50000).selectExpr("id", "id % 97 as k",
      "cast(id as string) as pad").write.mode("overwrite").parquet(dir)
    val input = spark.read.parquet(dir)
    val p = new SparkMemoryProfiler(reps = 3)
      .profile(input)(_.groupBy("k")
        .agg(count(lit(1)).as("n"), max("pad").as("m")))
    assert(p.runs.size == 3)
    assert(p.baselines.size == 3)
    assert(p.runs.forall(_ >= 0L))
    assert(p.best >= 0L && p.worst >= p.best && p.median >= p.best)
    // hash aggregation buffers register execution memory
    assert(p.median > 0.0, p.toString)
    assert(p.inputBytes > 0L, p.toString)
    assert(p.ratio > 0.0 && !p.ratio.isNaN, p.toString)
    assert(p.spilledBytes == 0L) // nothing spills at this scale
  }

  test("MemoryProfile: statistics, baselineChange and the NaN ratio " +
    "contract for scan-less inputs") {
    import graft.benchmark.MemoryProfile
    val p = MemoryProfile(Vector(30L, 10L, 20L),
      baselines = Vector(100L, 104L, 110L), inputBytes = 10L,
      spilledBytes = 0L)
    assert(p.best == 10L && p.worst == 30L && p.median == 20.0)
    assert(p.baselineChange == 5.0) // diffs (4, 6) -> median 5
    assert(p.ratio == 2.0)
    val noScan = p.copy(inputBytes = 0L)
    assert(noScan.ratio.isNaN) // literal relation: no scan, no denominator
  }
}
