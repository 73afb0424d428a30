package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Portable

/** Streaming NEAR-duplicate detection against a STATIC corpus — the
  * stream-static face of
  * [[graft.operators.Dedup.IncrementalMinHashLSH]]: documents arriving
  * on a stream are MinHash-signed and probed against the persisted band
  * and signature indexes, emitting scored `(id_a corpus doc, id_b
  * stream doc, est_jaccard)` pairs. Corpus text is never read.
  *
  * Spark-first shape, chosen around Structured Streaming's rules:
  *   - the k-wide signature is computed PER ROW in one compiled pass
  *     ([[Portable.minHashSigLocal]], the exact local mirror of the
  *     batch explode+min aggregation) — a streaming `groupBy(id)`
  *     aggregation would be stateful and watermark-gated, while one
  *     doc's shingle set always fits memory;
  *   - band explode, the `(band, key)` probe into the band index and
  *     the signature join for scoring are STATELESS stream-static
  *     joins — persist both indexes and each micro-batch pays an
  *     in-memory lookup, state never grows with the corpus;
  *   - the only stateful operator is the final
  *     `dropDuplicatesWithinWatermark(id_a, id_b)`: an exact copy
  *     collides in EVERY band, so the same pair surfaces once per
  *     matching band — collapsed inside the event-time horizon. The
  *     watermark is (re)declared INSIDE the transform on `tsColumn`
  *     (`watermarkDelay`), because a typed flatMap does not propagate
  *     an upstream watermark attribute.
  *
  * Band-bucket caps are applied at INDEX BUILD time
  * (`IncrementalMinHashLSH.bandIndex` drops corpus-hot buckets); the
  * stream side is linear in the arriving docs — each band row meets at
  * most `maxBucket` index entries — so no stream-side cap is needed.
  * Folding admitted stream output back into the indexes is a
  * batch-side `IncrementalMinHashLSH.foldBatch` at compaction cadence,
  * like the exact-dedup sibling ([[StreamingIncrementalDedup]]).
  */
final class StreamingIncrementalMinHash(bandIndex: DataFrame,
                                        signatureIndex: DataFrame,
                                        idColumn: String = "doc_id",
                                        textColumn: String = "text",
                                        tsColumn: String = "ts",
                                        n: Int = 3,
                                        k: Int = 32,
                                        bands: Int = 8,
                                        threshold: Double = 0.25,
                                        watermarkDelay: String =
                                          "10 seconds") {
  require(k % bands == 0, "k must be divisible by bands")

  /** `df` must be a streaming DataFrame with an event-time `tsColumn`
    * (the watermark anchoring the pair-dedup state bound is declared
    * here). Emits `(id_a, id_b, est_jaccard, tsColumn)` — `id_a` the
    * corpus doc, `id_b` the stream doc.
    */
  def transform(df: DataFrame): DataFrame = {
    graft.util.SparkUtil.validateColumns(df,
      Seq(idColumn, textColumn, tsColumn))
    graft.util.SparkUtil.validateColumns(bandIndex,
      Seq("band", "key", "doc_id"))
    graft.util.SparkUtil.validateColumns(signatureIndex,
      Seq("doc_id", "sig"))
    val spark = df.sparkSession
    import spark.implicits._
    val rowsPerBand = k / bands
    val nLocal = n
    val kLocal = k
    // (stream id, ts, band, key) rows: signature + banding in ONE
    // compiled pass per doc; docs with no shingles emit nothing,
    // matching the batch family
    val banded = df.select(col(idColumn).cast("long"),
        col(tsColumn).cast("timestamp"), col(textColumn))
      .as[(Long, java.sql.Timestamp, String)]
      .flatMap { case (id, ts, text) =>
        val sig = Portable.minHashSigLocal(text, nLocal, kLocal)
        if (sig == null) Iterator.empty
        else (0 until (kLocal / rowsPerBand)).iterator.map { bnd =>
          val key = sig.slice(bnd * rowsPerBand, (bnd + 1) * rowsPerBand)
            .mkString("-")
          (id, ts, bnd, key, sig)
        }
      }
      .toDF("id_b", tsColumn, "band", "key", "sig_b")
      .withWatermark(tsColumn, watermarkDelay)
    banded
      .join(bandIndex.select(col("band"), col("key"),
        col("doc_id").as("id_a")), Seq("band", "key"))
      .join(signatureIndex.select(col("doc_id").as("id_a"),
        col("sig").as("sig_a")), Seq("id_a"))
      .withColumn("est_jaccard", graft.operators.Dedup.minHashAgreement(
        col("sig_a"), col("sig_b"), k))
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"), col(tsColumn))
      .dropDuplicatesWithinWatermark("id_a", "id_b")
  }
}
