package graft.sources

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

import javax.imageio.ImageIO

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Wrangler
import graft.util.SparkUtil

/** Deterministic synthetic VIDEO generator: REAL MJPEG-in-AVI payloads —
  * a RIFF/AVI container (`hdrl` headers + `movi` frame chunks, the
  * publicly-documented Microsoft AVI layout) holding one JPEG per frame,
  * encoded with the JDK's `javax.imageio`. The sibling of [[MediaGen]]
  * (images) and [[AudioGen]] (WAV): dims, frame count, fps and the
  * per-frame pixel values are pure integer functions of the id, so the
  * DuckDB oracle verifies the real container walk + per-frame JPEG
  * decode against closed forms without decoding anything itself.
  *
  * Frames are UNIFORM gray — deliberately: a uniform image is DC-only
  * in every 8×8 JPEG block, and the JDK codec round-trips all 256 gray
  * levels bit-exactly at any dimensions (verified for this exact
  * encode→decode pair), so even the LOSSY frame codec yields exact
  * closed-form pixel probes. Patterned frames would not survive
  * quantization and would force tolerance comparisons.
  *
  * Generator contract (all arithmetic on the non-negative long id):
  *   - width:    `16 + (id * 41) % 89`   (16..104)
  *   - height:   `16 + (id * 53) % 47`   (16..62)
  *   - frames:   `2 + id % 6`            (2..7)
  *   - rate/scale (fps = rate/scale): `id % 5 == 4` → 30000/1001 (the
  *     NTSC 29.97 fractional rate — real-world rates are NOT integer
  *     fps, so the decoder's duration arithmetic is exercised on a
  *     rate that truncates wrong under integer fps); otherwise
  *     `(10 + id % 20) / 1` (10..29)
  *   - `id % 3 == 1` → a SECOND (audio) stream: an `auds` strl listed
  *     BEFORE the vids strl, so the VIDEO stream is stream 01 and its
  *     frame chunks are `01dc`, interleaved with `00wb` audio data
  *     chunks in movi — the multi-stream case that distinguishes a
  *     stream-aware frame walk from "any `..dc` chunk is a frame"
  *   - frame f's uniform gray value: `(id * 31 + f * 17) % 256`
  *   - corner (0,0) of frame 0: `(id * 31) % 256`
  *   - corner sum over frames: Σ_f `(id * 31 + f * 17) % 256`
  */
object VideoGen {

  ImageIO.setUseCache(false) // see MediaGen: memory-cached codec streams

  def widthOf(id: Long): Long = 16L + (id * 41L) % 89L
  def heightOf(id: Long): Long = 16L + (id * 53L) % 47L
  def framesOf(id: Long): Long = 2L + id % 6L
  def rateOf(id: Long): Long = if (id % 5L == 4L) 30000L else 10L + id % 20L
  def scaleOf(id: Long): Long = if (id % 5L == 4L) 1001L else 1L
  /** Exact `n_frames * 1000 * scale / rate` — never via truncated fps. */
  def durationMsOf(id: Long): Long =
    framesOf(id) * 1000L * scaleOf(id) / rateOf(id)
  def hasAudioOf(id: Long): Boolean = id % 3L == 1L
  /** Closed-form 8-bit PCM sample `i` of container `id` (audio
    * containers interleave one 4-byte `00wb` chunk per frame). */
  def audioSample(id: Long, i: Int): Int = ((id * 7L + i) % 256L).toInt
  /** Closed-form demux expectations: bytes and byte-sum of the whole
    * audio stream (0 for no-audio containers). */
  def audioBytesOf(id: Long): Long =
    if (hasAudioOf(id)) 4L * framesOf(id) else 0L
  def audioSumOf(id: Long): Long =
    if (!hasAudioOf(id)) 0L
    else (0 until (4 * framesOf(id)).toInt)
      .map(i => audioSample(id, i).toLong).sum
  def framePixel(id: Long, f: Int): Int = ((id * 31L + f * 17L) % 256L).toInt
  def cornerOf(id: Long): Long = (id * 31L) % 256L
  def cornerSumOf(id: Long): Long =
    (0 until framesOf(id).toInt).map(f => framePixel(id, f).toLong).sum

  // ---- RIFF building blocks (sizes little-endian; chunks pad to even)

  private def fcc(s: String): Array[Byte] = {
    require(s.length == 4, s"fourcc must be 4 chars: $s")
    s.getBytes(StandardCharsets.US_ASCII)
  }

  private def le32(v: Long): Array[Byte] = Array(
    (v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
    ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)

  private def le16(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)

  /** `fourcc size data [pad]` — the declared size EXCLUDES the pad byte
    * that aligns the next chunk to an even offset (RIFF rule). */
  private def chunk(id: String, data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(data.length + 12)
    bos.write(fcc(id)); bos.write(le32(data.length.toLong)); bos.write(data)
    if ((data.length & 1) == 1) bos.write(0)
    bos.toByteArray
  }

  private def list(kind: String, content: Array[Byte]): Array[Byte] =
    chunk("LIST", fcc(kind) ++ content)

  private def jpegFrame(id: Long, f: Int): Array[Byte] = {
    val w = widthOf(id).toInt
    val h = heightOf(id).toInt
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val v = framePixel(id, f)
    val r = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { r.setSample(x, y, 0, v); x += 1 }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Real MJPEG-in-AVI payload bytes for `id`. For `hasAudioOf` ids the
    * container carries TWO streams — an `auds` strl FIRST (so the video
    * stream is stream 01, its frames `01dc`) with `00wb` PCM data
    * chunks interleaved frame-by-frame in movi — exactly the layout a
    * camera muxer emits; a frame walk that treats any `..dc` chunk as
    * "the" video stream, or that ignores stream numbers, decodes such
    * files wrong.
    */
  def payloadFor(id: Long): Array[Byte] = {
    require(id >= 0L, s"VideoGen ids must be non-negative, got $id")
    val w = widthOf(id)
    val h = heightOf(id)
    val n = framesOf(id).toInt
    val rate = rateOf(id)
    val scale = scaleOf(id)
    val audio = hasAudioOf(id)
    val frames = (0 until n).map(jpegFrame(id, _))
    val maxFrame = frames.map(_.length).max.toLong

    val avih = {
      val b = new ByteArrayOutputStream(56)
      b.write(le32(1000000L * scale / rate)) // dwMicroSecPerFrame
      b.write(le32(0L)); b.write(le32(0L)) // maxBytesPerSec, padding
      b.write(le32(0L)) // dwFlags
      b.write(le32(n.toLong)) // dwTotalFrames
      b.write(le32(0L)) // dwInitialFrames
      b.write(le32(if (audio) 2L else 1L)) // dwStreams
      b.write(le32(maxFrame)) // dwSuggestedBufferSize
      b.write(le32(w)); b.write(le32(h))
      (0 until 4).foreach(_ => b.write(le32(0L))) // dwReserved
      b.toByteArray
    }
    val strh = {
      val b = new ByteArrayOutputStream(56)
      b.write(fcc("vids")); b.write(fcc("MJPG"))
      b.write(le32(0L)) // dwFlags
      b.write(le16(0)); b.write(le16(0)) // wPriority, wLanguage
      b.write(le32(0L)) // dwInitialFrames
      b.write(le32(scale)) // dwScale
      b.write(le32(rate)) // dwRate (fps = rate/scale)
      b.write(le32(0L)) // dwStart
      b.write(le32(n.toLong)) // dwLength (frames)
      b.write(le32(maxFrame)) // dwSuggestedBufferSize
      b.write(le32(0xFFFFFFFFL)) // dwQuality (default)
      b.write(le32(0L)) // dwSampleSize
      b.write(le16(0)); b.write(le16(0)) // rcFrame
      b.write(le16(w.toInt)); b.write(le16(h.toInt))
      b.toByteArray
    }
    val strf = { // BITMAPINFOHEADER
      val b = new ByteArrayOutputStream(40)
      b.write(le32(40L)) // biSize
      b.write(le32(w)); b.write(le32(h))
      b.write(le16(1)) // biPlanes
      b.write(le16(24)) // biBitCount
      b.write(fcc("MJPG")) // biCompression
      b.write(le32(w * h * 3L)) // biSizeImage
      (0 until 4).foreach(_ => b.write(le32(0L)))
      b.toByteArray
    }
    // 8 kHz mono 8-bit PCM audio stream headers (public WAVEFORMAT
    // layout) — per-frame silence chunks, 4 bytes each
    val audStrh = {
      val b = new ByteArrayOutputStream(56)
      b.write(fcc("auds")); b.write(le32(0L)) // handler 0 (raw PCM)
      b.write(le32(0L)) // dwFlags
      b.write(le16(0)); b.write(le16(0)) // wPriority, wLanguage
      b.write(le32(0L)) // dwInitialFrames
      b.write(le32(1L)) // dwScale
      b.write(le32(8000L)) // dwRate (samples/sec)
      b.write(le32(0L)) // dwStart
      b.write(le32(4L * n)) // dwLength (samples)
      b.write(le32(4L)) // dwSuggestedBufferSize
      b.write(le32(0xFFFFFFFFL)) // dwQuality
      b.write(le32(1L)) // dwSampleSize (1 byte/sample)
      b.write(le16(0)); b.write(le16(0))
      b.write(le16(0)); b.write(le16(0)) // rcFrame (unused for audio)
      b.toByteArray
    }
    val audStrf = { // WAVEFORMAT: PCM, mono, 8 kHz, 8-bit
      val b = new ByteArrayOutputStream(16)
      b.write(le16(1)) // wFormatTag = WAVE_FORMAT_PCM
      b.write(le16(1)) // nChannels
      b.write(le32(8000L)) // nSamplesPerSec
      b.write(le32(8000L)) // nAvgBytesPerSec
      b.write(le16(1)) // nBlockAlign
      b.write(le16(8)) // wBitsPerSample
      b.toByteArray
    }
    val vidStrl = list("strl", chunk("strh", strh) ++ chunk("strf", strf))
    val audStrl = list("strl",
      chunk("strh", audStrh) ++ chunk("strf", audStrf))
    val hdrl = list("hdrl", chunk("avih", avih) ++
      (if (audio) audStrl ++ vidStrl else vidStrl))
    val vidCc = if (audio) "01dc" else "00dc"
    // one 4-byte PCM audio chunk interleaved before each video frame,
    // with CLOSED-FORM sample bytes ([[audioSample]]) so a demuxer's
    // output is oracle-checkable, not just structurally plausible
    def audChunk(i: Int): Array[Byte] = chunk("00wb",
      Array.tabulate(4)(j => audioSample(id, i * 4 + j).toByte))
    val movi = list("movi",
      frames.zipWithIndex.map { case (fr, i) =>
        if (audio) audChunk(i) ++ chunk(vidCc, fr) else chunk(vidCc, fr)
      }.reduce(_ ++ _))
    // a RIFF FILE is `RIFF size 'AVI ' ...` — the same layout as a
    // LIST chunk with the outer fourcc swapped
    val bytes = list("AVI ", hdrl ++ movi)
    fcc("RIFF") ++ bytes.drop(4)
  }

  /** Attach a generated MJPEG-AVI payload column to an id column — the
    * video sibling of [[MediaGen.AttachPayload]] (same spread-partitions
    * rationale: the per-id JPEG encodes are CPU-bound).
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
