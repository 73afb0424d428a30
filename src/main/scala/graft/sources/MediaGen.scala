package graft.sources

import java.awt.image.{BufferedImage, IndexColorModel}
import java.io.ByteArrayOutputStream

import javax.imageio.{IIOImage, ImageIO}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Wrangler
import graft.util.SparkUtil

/** Deterministic synthetic media generator: REAL image payloads (PNG
  * stills and animated GIFs, encoded with the JDK's `javax.imageio`)
  * whose dimensions, frame counts and pixel values are pure integer
  * functions of the id — so an engine that cannot decode images (the
  * DuckDB oracle) can still verify the decode path end-to-end: the
  * generator's closed-form ground truth must survive a real encode →
  * real decode round trip, header fields AND pixel data.
  *
  * Generator contract (all arithmetic on the non-negative long id):
  *   - format:   even id → PNG, odd id → animated GIF
  *   - width:    `16 + (id * 37) % 97`   (16..112)
  *   - height:   `16 + (id * 59) % 53`   (16..68)
  *   - frames:   PNG → 1; GIF → `1 + id % 7` (1..7)
  *   - pixels:   PNG   gray gradient `(x*7 + y*13 + id) % 256`
  *               GIF   4-level gray  `85 * ((x + y + f + id) % 4)`
  *   - corner (0,0) of frame 0: PNG → `id % 256`, GIF → `85 * (id % 4)`
  *
  * PNG stills use `TYPE_BYTE_GRAY` (lossless raster round-trip); GIFs
  * use an explicit 256-entry gray `IndexColorModel` so the palette
  * write-back is exact. JPEG is deliberately NOT in the generated corpus
  * (lossy pixels would break the closed-form cross-check) but
  * [[MediaGen.encodeJpeg]] exists for decode-path tests — JPEG headers
  * are exact even when pixels are not.
  */
object MediaGen {

  // ImageIO's default stream cache is a TEMP FILE per stream — per-image
  // disk I/O that serializes 32 codec threads behind the filesystem.
  // These images are tiny; cache in memory. (Executor-side too: this
  // object initializes wherever payloadFor first runs.)
  ImageIO.setUseCache(false)

  def widthOf(id: Long): Long = 16L + (id * 37L) % 97L
  def heightOf(id: Long): Long = 16L + (id * 59L) % 53L
  def isGif(id: Long): Boolean = id % 2L == 1L
  def framesOf(id: Long): Long = if (isGif(id)) 1L + id % 7L else 1L
  def cornerOf(id: Long): Long =
    if (isGif(id)) 85L * (id % 4L) else id % 256L
  def formatOf(id: Long): String = if (isGif(id)) "gif" else "png"

  /** PNG pixel function (frame 0 of stills). */
  def pngPixel(id: Long, x: Int, y: Int): Int =
    ((x * 7L + y * 13L + id) % 256L).toInt

  /** GIF pixel function for frame `f`. */
  def gifPixel(id: Long, f: Int, x: Int, y: Int): Int =
    (85L * ((x + y + f + id) % 4L)).toInt

  /** 256-level gray palette — identity LUT, so indexed samples ARE the
    * gray values and the GIF encode/decode round trip is bit-exact.
    */
  private val grayLut: Array[Byte] = Array.tabulate(256)(i => i.toByte)
  private def grayIcm = new IndexColorModel(8, 256, grayLut, grayLut, grayLut)

  /** Real encoded payload bytes for `id` (PNG or animated GIF). */
  def payloadFor(id: Long): Array[Byte] = {
    require(id >= 0L, s"MediaGen ids must be non-negative, got $id")
    val w = widthOf(id).toInt
    val h = heightOf(id).toInt
    val bos = new ByteArrayOutputStream()
    if (!isGif(id)) {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
      val r = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { r.setSample(x, y, 0, pngPixel(id, x, y)); x += 1 }
        y += 1
      }
      ImageIO.write(img, "png", bos)
    } else {
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      val ios = ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        val n = framesOf(id).toInt
        var f = 0
        while (f < n) {
          val img = new BufferedImage(w, h,
            BufferedImage.TYPE_BYTE_INDEXED, grayIcm)
          val r = img.getRaster
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { r.setSample(x, y, 0, gifPixel(id, f, x, y)); x += 1 }
            y += 1
          }
          writer.writeToSequence(new IIOImage(img, null, null), null)
          f += 1
        }
        writer.endWriteSequence()
      } finally {
        writer.dispose()
        ios.close()
      }
    }
    bos.toByteArray
  }

  /** JPEG-encode the PNG pixel pattern for `id` — used by decode-path
    * tests only (headers exact, pixels lossy).
    */
  def encodeJpeg(id: Long): Array[Byte] = {
    val w = widthOf(id).toInt
    val h = heightOf(id).toInt
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val r = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { r.setSample(x, y, 0, pngPixel(id, x, y)); x += 1 }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Attach a generated payload column to an id column: the media
    * "source" of the fixture corpus. A typed `mapPartitions` (one
    * payload in flight per row); output is `(idColumn, payload)` —
    * downstream multimodal operators key on the id, so the projection
    * is deliberately minimal.
    *
    * The ids are round-robined across `defaultParallelism` tasks first
    * when the input has fewer partitions: the codec work is CPU-bound,
    * and a small id table (one parquet row group) would otherwise encode
    * on a single core — measured 10x on the 5000-doc bench corpus. The
    * exchanged rows are bare longs, so the repartition is noise next to
    * the encode. Real media corpora arrive over many files and don't
    * need it.
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
