package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream,
  AudioSystem}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Wrangler
import graft.util.SparkUtil

/** Deterministic synthetic audio generator: REAL WAV payloads (PCM
  * 16-bit signed little-endian, encoded with the JDK's
  * `javax.sound.sampled` — the one audio container the JDK bundles a
  * codec for) whose header fields and sample values are pure integer
  * functions of the id, so the DuckDB oracle can verify the decode path
  * end-to-end without decoding audio itself: the generator's closed-form
  * ground truth must survive a real encode → real decode round trip,
  * format header AND sample data. The same pattern as [[MediaGen]] for
  * images.
  *
  * Generator contract (all arithmetic on the non-negative long id):
  *   - sample rate: `8000 + (id % 5) * 2000`       (8000..16000 Hz)
  *   - channels:    `1 + id % 2`                   (mono/stereo)
  *   - frames:      `200 + (id * 31) % 800`        (200..999 per channel)
  *   - flat samples n = frames * channels, interleaved; sample j
  *     (flat index 0..n-1): `((id * 7 + j * 13) % 65536) - 32768`
  *   - first sample:  `((id * 7) % 65536) - 32768`
  *   - sample sum:    `Σ_j sample(j)` (exact 64-bit integer)
  */
object AudioGen {

  def sampleRateOf(id: Long): Long = 8000L + (id % 5L) * 2000L
  def channelsOf(id: Long): Long = 1L + id % 2L
  def framesOf(id: Long): Long = 200L + (id * 31L) % 800L

  /** Flat-index sample value (16-bit signed range). */
  def sampleOf(id: Long, j: Long): Long = (id * 7L + j * 13L) % 65536L - 32768L

  /** Real WAV payload bytes for `id`. */
  def payloadFor(id: Long): Array[Byte] = {
    require(id >= 0L, s"AudioGen ids must be non-negative, got $id")
    val channels = channelsOf(id).toInt
    val frames = framesOf(id).toInt
    val n = frames * channels
    val pcm = new Array[Byte](n * 2)
    var j = 0
    while (j < n) {
      val s = sampleOf(id, j).toInt
      pcm(2 * j) = (s & 0xFF).toByte // little-endian
      pcm(2 * j + 1) = ((s >> 8) & 0xFF).toByte
      j += 1
    }
    val fmt = new AudioFormat(sampleRateOf(id).toFloat, 16, channels,
      true, false) // signed, little-endian
    val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt,
      frames.toLong)
    val bos = new ByteArrayOutputStream()
    try AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    finally ais.close()
    bos.toByteArray
  }

  /** Attach the generated WAV payload to an id frame — the audio
    * sibling of [[MediaGen.AttachPayload]] (same spread-partitions
    * behavior: generation is embarrassingly parallel and must not
    * serialize behind the input's partitioning).
    */
  final case class AttachPayload(idColumn: String = "doc_id")
      extends Wrangler {
    override def preservesSampleSize: Boolean = true

    def transform(df: DataFrame): DataFrame = {
      SparkUtil.validateColumns(df, Seq(idColumn))
      val spark = df.sparkSession
      import spark.implicits._
      val idName = idColumn
      val ids = df.select(col(idColumn).cast("long"))
      val par = spark.sparkContext.defaultParallelism
      val spread =
        if (ids.rdd.getNumPartitions < par)
          ids.repartition(par)
        else ids
      spread.as[Long]
        .mapPartitions(_.map(id => (id, payloadFor(id))))
        .toDF(idName, "payload")
    }
  }
}
