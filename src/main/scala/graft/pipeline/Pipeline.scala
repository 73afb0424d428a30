package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

import graft.core.Wrangler

/** A named dataframe-in / dataframe-out pipeline stage. Wranglers, plain
  * functions and spark.ml Transformers all coerce to this
  * (reference: src/pywrangler/pyspark/pipeline.py:81-175 —
  * StageTransformerConverter; runtime class synthesis is replaced by
  * static adapters, see SURVEY.md §7.4/6).
  */
final case class Stage(label: String, transform: DataFrame => DataFrame)

object Stage {
  def apply(w: Wrangler): Stage =
    Stage(w.getClass.getSimpleName.stripSuffix("$"), w.fitTransform)
  def of(label: String)(f: DataFrame => DataFrame): Stage = Stage(label, f)
  def fromML(t: org.apache.spark.ml.Transformer): Stage =
    Stage(t.getClass.getSimpleName, df => t.transform(df).toDF())
  /** Reverse direction — wrangler into an `org.apache.spark.ml.Pipeline`
    * (reference: pipeline.py:107-138 `convert_wrangler`); see
    * [[WranglerTransformer]].
    */
  def toML(w: Wrangler): WranglerTransformer = WranglerTransformer(w)
}

/** Per-stage profile record (reference: pipeline.py:741-826). */
final case class StageProfile(idx: Int, label: String, seconds: Double,
                              rows: Long, cols: Int, cached: Boolean,
                              codegenStages: Int)

/** Sequential pipeline over [[Stage]]s with stage access by index, label
  * substring or range; per-stage caching; intermediate-result recording;
  * and a count-forcing profiler
  * (reference: src/pywrangler/pyspark/pipeline.py:279-1056 —
  * PipelineLocator/Cacher/Transformer/Profiler compressed onto one class).
  */
final class Pipeline(val stages: Seq[Stage]) {
  require(stages.nonEmpty, "Pipeline needs at least one stage")
  require(stages.map(_.label).distinct.size == stages.size,
    s"Stage labels must be unique: ${stages.map(_.label)}")

  private val cacheEnabled = mutable.Set.empty[Int]
  /** Intermediate result per stage, recorded by the latest transform
    * (reference: pipeline.py:550-619 PipelineTransformer).
    */
  private var results: Vector[DataFrame] = Vector.empty

  /** Resolve a stage identifier: exact index or label substring; ambiguous
    * or missing matches raise (reference: pipeline.py:279-439).
    */
  def indexOf(ident: Any): Int = ident match {
    case i: Int =>
      if (i < 0 || i >= stages.size)
        throw new IllegalArgumentException(
          s"Stage index $i out of range 0..${stages.size - 1}")
      i
    case s: String =>
      val hits = stages.zipWithIndex.filter(_._1.label.contains(s))
      hits match {
        case Seq((_, i)) => i
        case Seq() => throw new IllegalArgumentException(
          s"No stage label contains `$s`: ${stages.map(_.label)}")
        case many => throw new IllegalArgumentException(
          s"Ambiguous stage identifier `$s` matches " +
            many.map(_._1.label).mkString(", "))
      }
    case other => throw new IllegalArgumentException(
      s"Stage identifier must be Int or String, got $other")
  }

  def stage(ident: Any): Stage = stages(indexOf(ident))

  /** Sub-pipeline over a stage range (reference: pipeline.py:996-1029
    * slice access).
    */
  def slice(from: Any, until: Any): Pipeline =
    new Pipeline(stages.slice(indexOf(from), indexOf(until)))

  /** Enable/disable caching of a stage's result
    * (reference: pipeline.py:442-547 PipelineCacher).
    */
  def cache(idents: Any*): this.type = { idents.foreach(i => cacheEnabled += indexOf(i)); this }
  def uncache(idents: Any*): this.type = {
    idents.foreach { ident =>
      val i = indexOf(ident)
      cacheEnabled -= i
      if (results.isDefinedAt(i)) results(i).unpersist()
    }
    this
  }
  def cachedStages: Seq[String] =
    cacheEnabled.toSeq.sorted.map(stages(_).label)

  /** Run all stages, recording every intermediate DataFrame (lazy plans
    * unless cached).
    */
  def transform(df: DataFrame): DataFrame = {
    val acc = Vector.newBuilder[DataFrame]
    var cur = df
    stages.zipWithIndex.foreach { case (s, i) =>
      cur = s.transform(cur)
      if (cacheEnabled(i)) cur = cur.cache()
      acc += cur
    }
    results = acc.result()
    results.last
  }

  /** The recorded intermediate result of a stage — pipeline(ident) in the
    * reference (reference: pipeline.py:1031-1049).
    */
  def apply(ident: Any): DataFrame = {
    require(results.nonEmpty, "Call transform() before accessing stage results")
    results(indexOf(ident))
  }

  /** Run every stage once, over the previous stage's materialized
    * result, recording wall time, shape, cache flag and whole-stage-
    * codegen stage count (reference: pipeline.py:622-891
    * PipelineProfiler). The reference forces with `count()`
    * (pipeline.py:884-891), under which Catalyst prunes map-side stages
    * to zero-column scans and the per-stage seconds are fiction; here
    * each stage's full output is persisted by one forced action
    * ([[graft.benchmark.Force]]), its row count is observed on that same
    * execution, and the next stage reads the persisted rows. So
    * `seconds` is the stage's own cost, not its upstream's too, and the
    * input is read once. Each persisted result is released once the next
    * stage has consumed it; the recorded intermediates stay as plans.
    */
  def profile(df: DataFrame): Seq[StageProfile] = {
    val acc = Vector.newBuilder[DataFrame]
    var in = df
    val prof = stages.zipWithIndex.map { case (s, i) =>
      val out = s.transform(in)
      val rows = Observation()
      val t0 = System.nanoTime()
      val cut = out.observe(rows, count(lit(1)).as("rows")).persist()
      graft.benchmark.Force(cut)
      val secs = (System.nanoTime() - t0) / 1e9
      // planned while its input is still persisted: the stage's own plan
      val p = StageProfile(i, s.label, secs,
        rows.get("rows").asInstanceOf[Long], out.columns.length,
        cacheEnabled(i), Pipeline.codegenStageCount(out))
      if (in ne df) in.unpersist()
      in = cut
      acc += out
      p
    }
    in.unpersist()
    results = acc.result()
    prof
  }

  /** Human-readable stage summary (reference: pipeline.py:940-975). */
  def describe(df: DataFrame): String =
    profile(df).map(p =>
      f"${p.idx}%3d ${p.label}%-30s ${graft.util.Format.duration(p.seconds)}%10s " +
        f"${p.rows}%9d rows ${p.cols}%3d cols " +
        f"${if (p.cached) "cached" else ""}%-6s codegen=${p.codegenStages}")
      .mkString("\n")
}

object Pipeline {
  def apply(stages: Stage*): Pipeline = new Pipeline(stages)

  def of(wranglers: Wrangler*): Pipeline =
    new Pipeline(wranglers.map(Stage(_)))

  private val CodegenId = """\*\((\d+)\)""".r

  /** Plan-complexity metric: sum of local maxima of the whole-stage-
    * codegen ids as they appear in the executed plan string
    * (reference: pipeline.py:828-865, regex :629).
    */
  def codegenStageCount(df: DataFrame): Int = {
    val ids = CodegenId.findAllMatchIn(
      df.queryExecution.executedPlan.toString).map(_.group(1).toInt).toVector
    if (ids.isEmpty) 0
    else ids.zipWithIndex.filter { case (v, i) =>
      (i == 0 || ids(i - 1) <= v) && (i == ids.size - 1 || ids(i + 1) <= v)
    }.map(_._1).distinct.sum
  }
}
