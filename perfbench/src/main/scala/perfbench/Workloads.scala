package perfbench

import java.sql.Timestamp

import scala.io.Source

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.benchmark.Force
import graft.core.Wrangler
import graft.operators.{IntervalIdentifier, IntervalIdentifierSalted, IntervalIdentifierSinglePass}
import graft.pipeline.{Curation, Pipeline, Stage}
import graft.sources.{JsonlCorpus, ShardedSink}
import graft.streaming.{StreamEvent, StreamIid, StreamingIntervalIdentifier}
import graft.testing.PlainFrame

/** One workload: an untimed warm-up over its small warm-up input, an
  * untimed honest-plan guard, timed passes (each recording its ops), an
  * untimed hook after each pass, and an untimed output dump for the
  * correctness check.
  */
trait Workload {
  def warmup(spark: SparkSession): Unit
  def guard(spark: SparkSession): Unit
  def pass(spark: SparkSession, index: Int): Unit
  def afterPass(spark: SparkSession, index: Int): Unit = ()
  def check(spark: SparkSession): Unit
  def info: Map[String, Any] = Map.empty
  /** Names of the `SparkEntry.oracleSqlFor` queries the output is checked
    * against.
    */
  def oracles: Seq[String] = Nil
}

object Workload {
  def apply(name: String, input: String, out: String,
            opts: Map[String, String], rec: Recorder): Workload = name match {
    case "interval_skew" => new IntervalSkew(input, out, rec)
    case "curation_chain" => new CurationChain(input, out, rec)
    case "interval_cases" => new IntervalCases(input, rec)
    case "interval_stream" =>
      new IntervalStream(input, out, opts("delay_ms").toLong, rec)
    case other => throw new IllegalArgumentException(s"unknown workload `$other`")
  }
}

/** The honest-plan rule of the repository's bench: a timed plan may not
  * scan zero columns (the computation was pruned away) and must contain
  * the operator's signature node.
  */
object Guard {
  def apply(name: String, plan: String, signature: Option[String]): Unit = {
    val empty = "ReadSchema: struct<>".r.findAllIn(plan).size
    require(empty == 0,
      s"$name: $empty scans in the timed plan read zero columns:\n$plan")
    signature.foreach(sig => require(plan.contains(sig),
      s"$name: timed plan lacks signature node `$sig`:\n$plan"))
  }
}

/** Plain window, single-pass and salted interval identifiers (last start,
  * first end, enumerated) over the skewed events table, each forced to a
  * full result.
  */
final class IntervalSkew(input: String, out: String, rec: Recorder)
    extends Workload {
  private val forms = Seq("window", "single_pass", "salted")
  private val signatures = Map("window" -> "Window",
    "single_pass" -> "MapPartitions", "salted" -> "BroadcastHashJoin")

  private def identifier(form: String): Wrangler = {
    val order = Seq("event_id")
    val group = Seq("user_id")
    form match {
      case "window" => new IntervalIdentifier("event_type", "signup",
        Some("purchase"), orderbyColumns = order, groupbyColumns = group)
      case "single_pass" => new IntervalIdentifierSinglePass("event_type",
        "signup", Some("purchase"), orderbyColumns = order,
        groupbyColumns = group)
      case "salted" => new IntervalIdentifierSalted("event_type", "signup",
        Some("purchase"), orderbyColumns = order, groupbyColumns = group)
    }
  }

  private def result(spark: SparkSession, path: String, form: String): DataFrame = {
    val events = spark.read.parquet(path)
    rec.span("operators.build")(identifier(form).transform(events))
      .select(col("user_id"), col("event_id"), col("iids").cast("long").as("iids"))
  }

  def warmup(spark: SparkSession): Unit =
    forms.foreach(f => Force(result(spark, s"$input/warm_events.parquet", f)))

  /** The first timed pass's results, whose plans the guard checks and
    * whose rows the check compares.
    */
  private val timed = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]

  def pass(spark: SparkSession, index: Int): Unit = forms.foreach { f =>
    rec.op(index, f, f) {
      val r = result(spark, s"$input/events.parquet", f)
      if (index == 0) timed(f) = r
      rec.span("operators.exec")(Force(r))
    }
  }

  def guard(spark: SparkSession): Unit = timed.foreach { case (f, r) =>
    Guard(f, Force.planString(r), signatures.get(f))
  }

  override def oracles: Seq[String] = Seq("interval_lsfe")

  def check(spark: SparkSession): Unit = timed.foreach { case (f, r) =>
    r.write.mode(SaveMode.Overwrite).parquet(s"$out/skew_$f")
  }
}

/** The full curation chain: JSONL shards in, every stage of
  * `Curation.pipeline()`, byte-balanced parquet shards out.
  */
final class CurationChain(input: String, out: String, rec: Recorder)
    extends Workload {
  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The pipeline; while tracing, each stage's function runs inside its
    * own span so eager build time and jobs split per stage.
    */
  private def pipeline(): Pipeline = {
    val p = Curation.pipeline()
    if (!rec.tracing) p
    else new Pipeline(p.stages.map(s => Stage(s.label,
      (df: DataFrame) => rec.span(s"pipeline.stage.${s.label}")(s.transform(df)))))
  }

  private def packed(spark: SparkSession, docs: String): DataFrame = {
    val df = rec.span("sources.read")(JsonlCorpus.read(spark, docs, schema))
    rec.span("operators.build")(pipeline().transform(df))
  }

  def warmup(spark: SparkSession): Unit =
    ShardedSink.write(packed(spark, s"$input/docs"), s"$out/curate_warm")

  private var first: DataFrame = _

  def pass(spark: SparkSession, index: Int): Unit =
    rec.op(index, "pass", index.toString) {
      val p = packed(spark, s"$input/docs")
      if (index == 0) first = p
      // the sink's write is the action that forces the chain
      rec.span("sources.write")(rec.span("operators.exec")(
        ShardedSink.write(p, s"$out/curate/pass_$index")))
    }

  def guard(spark: SparkSession): Unit = Option(first).foreach(p =>
    Guard("curation_chain", p.queryExecution.executedPlan.toString, None))

  def check(spark: SparkSession): Unit = ()

  override def oracles: Seq[String] = Seq("pipeline_curate")
}

/** A tiny golden case: input frame, identifier settings, expected frame. */
final case class IntervalCase(id: String, startFirst: Boolean,
                              endFirst: Boolean, strMarkers: Boolean,
                              input: PlainFrame, expected: PlainFrame) {
  def identifier: IntervalIdentifier = {
    val (s, e) = if (strMarkers) ("s", "e") else (1L, 2L)
    new IntervalIdentifier("marker", s, Some(e), startFirst, endFirst,
      orderbyColumns = Seq("ord"), groupbyColumns = Seq("grp"))
  }
}

object IntervalCase {
  /** Tab-separated rows: case, start_first, end_first, marker type,
    * group, order, marker (`\N` for NULL), expected id.
    */
  def load(path: String): Seq[IntervalCase] = {
    val src = Source.fromFile(path, "UTF-8")
    val rows = try src.getLines().filter(_.nonEmpty).map(_.split("\t", -1)).toVector
    finally src.close()
    rows.groupBy(_(0)).toSeq.sortBy(_._1).map { case (id, rs) =>
      val str = rs.head(3) == "str"
      def marker(v: String): Any =
        if (v == "\\N") null else if (str) v else v.toLong
      val data = rs.map(r => Seq[Any](r(4).toLong, r(5).toLong, marker(r(6))))
      val types = Seq("int", "int", if (str) "str" else "int")
      val in = PlainFrame.fromPlain(data, Seq("grp", "ord", "marker"), types)
      val expected = PlainFrame.fromPlain(
        data.zip(rs).map { case (d, r) => d :+ r(7).toLong },
        Seq("grp", "ord", "marker", "iids"), types :+ "int")
      IntervalCase(id, rs.head(1) == "1", rs.head(2) == "1", str, in, expected)
    }
  }
}

/** Many tiny cases through the test kit: `PlainFrame.toDF`, the
  * identifier, collect, `PlainFrame.assertEqual` against the reference.
  */
final class IntervalCases(input: String, rec: Recorder) extends Workload {
  private val cases = IntervalCase.load(s"$input/cases.tsv")

  /** The first timed pass's results, whose plans the guard checks. */
  private val timed = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]

  private def run(spark: SparkSession, c: IntervalCase): DataFrame = {
    val df = rec.span("testing.todf")(c.input.toDF(spark))
    val res = rec.span("core.transform")(c.identifier.transform(df))
    val got = rec.span("exec")(PlainFrame.fromDF(res))
    rec.span("testing.compare")(got.assertEqual(c.expected))
    res
  }

  /** Three rounds: after one, the JIT is still cold enough that the first
    * timed pass runs about half again as long as the next, and pass times
    * keep falling for several passes more.
    */
  def warmup(spark: SparkSession): Unit =
    (1 to 3).foreach(_ => cases.foreach(run(spark, _)))

  def pass(spark: SparkSession, index: Int): Unit = cases.foreach { c =>
    rec.op(index, "case", c.id) {
      val res = run(spark, c)
      if (index == 0) timed(c.id) = res
    }
  }

  def guard(spark: SparkSession): Unit = timed.foreach { case (id, res) =>
    Guard(id, res.queryExecution.executedPlan.toString, Some("Window"))
  }

  def check(spark: SparkSession): Unit = ()

  override def info: Map[String, Any] = Map("cases_per_pass" -> cases.size)
}

/** Time-ordered events with bounded lateness through `MemoryStream` into
  * the streaming identifier, one micro-batch per op.
  */
final class IntervalStream(input: String, out: String, delayMs: Long,
                           rec: Recorder) extends Workload {

  /** Tab-separated rows: batch, group, ts millis, order, marker. */
  private def load(path: String): Seq[Seq[StreamEvent]] = {
    val src = Source.fromFile(path, "UTF-8")
    val rows = try src.getLines().filter(_.nonEmpty).map(_.split("\t", -1)).toVector
    finally src.close()
    rows.groupBy(_(0).toInt).toSeq.sortBy(_._1).map(_._2.map(r =>
      StreamEvent(r(1), new Timestamp(r(2).toLong), r(3).toLong, r(4))))
  }

  private val batches = load(s"$input/stream.tsv")
  private val warm = load(s"$input/warm_stream.tsv")
  private var input_ : MemoryStream[StreamEvent] = _
  private var query: StreamingQuery = _
  private val emitted = scala.collection.mutable.ArrayBuffer.empty[(Int, StreamIid)]

  private def start(spark: SparkSession, name: String): Unit = {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    input_ = MemoryStream[StreamEvent]
    query = new StreamingIntervalIdentifier("s", "e")
      .transform(input_.toDF().withWatermark("ts", s"$delayMs milliseconds"))
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
  }

  private def feed(b: Seq[StreamEvent]): Unit = {
    input_.addData(b)
    query.processAllAvailable()
  }

  private def stop(spark: SparkSession, name: String): Seq[StreamIid] = {
    import spark.implicits._
    val rows = spark.table(name).as[StreamIid].collect().toSeq
    query.stop()
    spark.catalog.dropTempView(name)
    rows
  }

  private var warmups = 0

  def warmup(spark: SparkSession): Unit = {
    warmups += 1
    val name = s"perfbench_warm_$warmups"
    start(spark, name)
    warm.foreach(feed)
    stop(spark, name)
  }

  def guard(spark: SparkSession): Unit = ()

  def pass(spark: SparkSession, index: Int): Unit = {
    rec.span("streaming.start")(start(spark, s"perfbench_$index"))
    batches.zipWithIndex.foreach { case (b, j) =>
      rec.op(index, "batch", j.toString)(rec.span("streaming.batch")(feed(b)))
    }
  }

  override def afterPass(spark: SparkSession, index: Int): Unit =
    emitted ++= stop(spark, s"perfbench_$index").map(index -> _)

  def check(spark: SparkSession): Unit = {
    import spark.implicits._
    emitted.toSeq.map { case (p, r) => (p, r.groupKey, r.order, r.iids) }
      .toDF("pass", "groupKey", "order", "iids")
      .write.mode(SaveMode.Overwrite).parquet(s"$out/stream_emitted")
    new IntervalIdentifier("marker", "s", Some("e"),
        orderbyColumns = Seq("order"), groupbyColumns = Seq("groupKey"))
      .transform(batches.flatten.toDF())
      .select(col("groupKey"), col("order"), col("iids").cast("long").as("iids"))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/stream_batch")
  }
}
