package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Corpus, Dedup, Sampling, TextAnalysis}

/** The end-to-end training-data curation chain as a reusable
  * [[Pipeline]]: normalize -> quality -> boilerplate (both per-doc
  * signals) -> decontaminate (drops the eval split) -> gates -> near-dup
  * canonical (NGramJaccard pairs -> connected components -> best
  * quality per cluster) -> stratified sample -> byte-balanced shard pack.
  *
  * The scored cut (a leaf) feeds both signal frames, boiler ratio and
  * contamination, each computed once and joined back to it once, so
  * neither re-derives the other's joins; `evalDocs` sees the scored
  * frame. `doc_id` must be unique: a repeated id multiplies rows.
  *
  * Shuffle budget at scale: the two signals + the pair join are narrow
  * shingle equi-joins and per-doc aggs; CC cuts its edge list once,
  * then runs two keyed shuffles and three jobs per round
  * (the edge label lookup by label, the messages by node; the first
  * round is one job, no shuffle), joining co-partitioned cuts in place
  * with no broadcast; the sample is map-side; the pack is ONE bucket
  * shuffle. The document text itself shuffles only for the doc_id
  * joins of the per-doc flags — never inside the shingle/pair
  * machinery.
  *
  * `checkpointDir`: the chain cuts its lineage at three phase
  * boundaries (the scored frame feeding both signal frames, the gated
  * frame feeding both the pair join and canonical selection, and the
  * deduped frame feeding ShardPack's two driver jobs plus the final
  * pass) so upstream stages run once, not per consumer. With `None`
  * the cuts are `localCheckpoint` — executor-local blocks, fast, the
  * single-machine/bench default, but a
  * lost executor kills the 8-stage lineage. On a real cluster pass a
  * reliable directory (HDFS/S3) and the cuts — and the CC rounds
  * inside — use fault-tolerant `checkpoint()` instead (same convention
  * as [[graft.operators.Dedup.connectedComponents]]).
  */
object Curation {

  private def cut(df: DataFrame, checkpointDir: Option[String]): DataFrame =
    checkpointDir match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        // never clobber an application-configured checkpoint dir (global
        // SparkContext state — cf. connectedComponents)
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint()
      case None => df.localCheckpoint()
    }

  def pipeline(evalDocs: DataFrame => DataFrame =
                 _.filter(col("doc_id") % 50 === 0),
               minTokens: Int = 20,
               maxBoilerRatio: Double = 0.5,
               shingleDocFreqCap: Long = 10L,
               jaccardThreshold: Double = 0.2,
               sampleRates: Map[String, Double] =
                 Map("en" -> 0.5, "de" -> 0.25),
               defaultSampleRate: Double = 0.1,
               targetBytes: Long = 20000L,
               checkpointDir: Option[String] = None,
               bloomDecontaminate: Boolean = false): Pipeline =
    new Pipeline(Seq(
      Stage(TextAnalysis.Normalize()),
      Stage.of("renorm")(df => df.select(col("doc_id"), col("lang"),
        col("norm_text").as("text"), col("norm_len").as("n_chars"))),
      Stage(TextAnalysis.QualityScore()),
      Stage.of("boilerplate")(scored => {
        // phase boundary: both signal frames read the scored cut; eval
        // docs have no contamination row (dropped by the next stage)
        val df = cut(scored, checkpointDir)
        val boiler = Corpus.BoilerplateScore(maxDocFreq = shingleDocFreqCap)
          .transform(df).select("doc_id", "boiler_ratio")
        // `bloomDecontaminate` switches to the large-eval-set scale path
        // (broadcast Bloom posting prefilter) — results are bit-identical
        // by construction, CurationSpec pins the equivalence end to end
        val contam = Corpus.Decontaminate(evalDocs,
            bloomPrefilter = bloomDecontaminate)
          .transform(df).select("doc_id", "contaminated")
        df.join(boiler.join(contam, Seq("doc_id"), "left"), Seq("doc_id"))
      }),
      Stage.of("decontaminate")(_.filter(col("contaminated").isNotNull)),
      Stage.of("gates")(_.filter(col("n_tokens") >= minTokens &&
        col("boiler_ratio") <= maxBoilerRatio && !col("contaminated"))),
      Stage.of("near_dup_canonical")(df => {
        // phase boundary: the gated frame feeds BOTH the pair join and
        // the canonical-selection join, and the CC loop is iterative —
        // cut once so the signal joins over the scored cut are computed
        // exactly once, not re-derived by every consumer (at 100 TB you
        // persist between curation phases for the same reason)
        val gated = cut(df, checkpointDir)
        val pairs = Dedup.NGramJaccard(threshold = jaccardThreshold,
            maxDocFreq = shingleDocFreqCap)
          .transform(gated).select("id_a", "id_b")
        val canon = Dedup.selectCanonical(gated,
            Dedup.connectedComponents(pairs, checkpointDir = checkpointDir))
          .filter(col("keep")).drop("keep", "component")
        // second cut: ShardPack's two phase-1 driver jobs (bounds +
        // bucket census) and the final pass each execute their input;
        // without this they would re-run the rank window + joins 3x
        cut(canon, checkpointDir)
      }),
      Stage.of("sample")(Sampling.StratifiedSample(
        sampleRates, defaultRate = defaultSampleRate).transform(_)),
      Stage.of("pack")(Corpus.ShardPack(targetBytes = targetBytes)
        .transform(_))
    ))
}
