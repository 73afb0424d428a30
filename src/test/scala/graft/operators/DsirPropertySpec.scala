package graft.operators

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Randomized agreement between the DSIR family and a local
  * brute-force replay of the published estimator — the
  * [[HeavyTailPropertySpec]] discipline applied to selection: tiny
  * feature spaces force hash COLLISIONS (several tokens sharing one
  * count cell), tiny vocabularies force heavy score TIES (the
  * single-valued boundary-bucket hash-cell path), `valueBuckets = 1`
  * forces the whole corpus into one boundary bucket, and fractions
  * sweep both edges. Every trial checks the exact kept (id, score)
  * set, so a drift in scoring, tie-breaking or the bucket-count
  * algebra fails on value, not on count.
  */
class DsirPropertySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  private def roundHalfUp(x: Double): Long =
    JBigDecimal.valueOf(x).setScale(0, RoundingMode.HALF_UP).longValue()

  private def toks(t: String): Seq[String] =
    if (t == null) Seq.empty else t.trim.toLowerCase.split("\\s+").toSeq

  private def feat(tok: String, numFeatures: Int): Long =
    java.lang.Long.parseLong(md5hex(tok).substring(0, 8), 16) %
      numFeatures

  /** Feature counts of a (text, isTarget) corpus. */
  private def countsOf(corpus: Seq[(String, Boolean)], numFeatures: Int)
      : Map[Long, (Long, Long)] =
    corpus.flatMap { case (text, tgt) =>
      toks(text).map(tk => (tgt, feat(tk, numFeatures)))
    }.groupBy(_._2).map { case (f, hits) =>
      f -> (hits.count(_._1).toLong, hits.count(!_._1).toLong)
    }

  /** Per-doc scaled-long scores of `docs` against `byF`, unseen
    * features scoring the zero-count ratio.
    */
  private def scoresOf(docs: Seq[(Long, String)],
                       byF: Map[Long, (Long, Long)],
                       numFeatures: Int): Map[Long, Long] = {
    val t = byF.values.map(_._1).sum
    val r = byF.values.map(_._2).sum
    val v = byF.size
    def ratio(ct: Long, cr: Long): Long =
      roundHalfUp((math.log((ct + 1).toDouble / (t + v)) -
        math.log((cr + 1).toDouble / (r + v))) * 1e6)
    docs.map { case (id, text) =>
      id -> toks(text)
        .map { tk =>
          val f = feat(tk, numFeatures)
          byF.get(f).map(c => ratio(c._1, c._2)).getOrElse(ratio(0L, 0L))
        }.sum
    }.toMap
  }

  /** Exact top-ceil(fraction*n) of (id -> score) by
    * (score DESC, md5("salt:id"), id).
    */
  private def topK(scores: Map[Long, Long], fraction: Double,
                   salt: String): Seq[(Long, Long)] = {
    val k = new JBigDecimal(fraction.toString)
      .multiply(new JBigDecimal(scores.size))
      .setScale(0, RoundingMode.CEILING).intValue()
    scores.keys.toSeq
      .sortBy(id => (-scores(id), md5hex(s"$salt:$id").substring(0, 8), id))
      .take(k)
      .map(id => id -> scores(id))
      .sortBy(_._1)
  }

  /** A random corpus draw: vocab small enough for ties, a tie-heavy
    * "template" doc class, occasional null texts.
    */
  private def drawDocs(rnd: Random, n: Int, vocab: Int,
                       templateWeight: Double): Seq[(Long, String, String)] =
    (0L until n.toLong).map { i =>
      val src = if (rnd.nextDouble() < 0.2) "seed" else s"web${rnd.nextInt(3)}"
      val text =
        if (rnd.nextDouble() < 0.05) null
        else if (rnd.nextDouble() < templateWeight) "t0 t1 t0"
        else (0 until 1 + rnd.nextInt(5))
          .map(_ => s"w${rnd.nextInt(vocab)}").mkString(" ")
      (i, text, src)
    }

  test("ImportanceResample equals the replay across feature collisions, " +
    "tie-heavy vocabularies, bucket counts and fraction edges") {
    val rnd = new Random(20260815L)
    for (trial <- 1 to 6) {
      val vocab = Seq(2, 3, 8, 20, 2, 5)(trial - 1)
      val tw = Seq(0.0, 0.5, 0.2, 0.0, 0.9, 0.4)(trial - 1)
      val nf = Seq(7, 64, 512, 7, 16, 64)(trial - 1)
      val vb = Seq(1, 4, 256, 8, 1, 16)(trial - 1)
      val fraction = Seq(0.25, 0.5, 0.001, 1.0, 0.37, 0.6)(trial - 1)
      val docs = drawDocs(rnd, 160, vocab, tw)
      val byF = countsOf(docs.map(d => (d._2, d._3 == "seed")), nf)
      val want = topK(
        scoresOf(docs.map(d => (d._1, d._2)), byF, nf), fraction, "graft")
      val got = Dsir.ImportanceResample("seed", fraction,
          numFeatures = nf, valueBuckets = vb)
        .transform(docs.toDF("doc_id", "text", "source"))
        .select("doc_id", "dsir_score")
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == want,
        s"trial $trial vocab=$vocab tw=$tw nf=$nf vb=$vb f=$fraction")
    }
  }

  test("IncrementalResample equals the replay, including batches " +
    "dominated by tokens the corpus never saw") {
    val rnd = new Random(20260816L)
    for (trial <- 1 to 4) {
      val nf = Seq(7, 64, 16, 512)(trial - 1)
      val vb = Seq(1, 8, 4, 256)(trial - 1)
      val fraction = Seq(0.5, 0.25, 0.8, 0.1)(trial - 1)
      val unseenW = Seq(0.2, 0.9, 0.5, 0.0)(trial - 1)
      val corpus = drawDocs(rnd, 120, 6, 0.3)
      val batch = (1000L until 1080L).map { i =>
        val text =
          if (rnd.nextDouble() < 0.05) null
          else (0 until 1 + rnd.nextInt(4)).map { _ =>
            if (rnd.nextDouble() < unseenW) s"zz${rnd.nextInt(9)}"
            else s"w${rnd.nextInt(6)}"
          }.mkString(" ")
        (i, text)
      }
      val byF = countsOf(corpus.map(d => (d._2, d._3 == "seed")), nf)
      val want = topK(scoresOf(batch, byF, nf), fraction, "graft")
      val counts = Dsir.featureCounts(
        corpus.toDF("doc_id", "text", "source"), "seed", numFeatures = nf)
      val got = Dsir.IncrementalResample(counts, fraction,
          numFeatures = nf, valueBuckets = vb)
        .transform(batch.toDF("doc_id", "text"))
        .select("doc_id", "dsir_score")
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == want,
        s"trial $trial nf=$nf vb=$vb f=$fraction unseen=$unseenW")
    }
  }

  private def bigrams(t: String): Seq[String] = {
    val tk = toks(t)
    if (tk.length < 2) Seq.empty else tk.sliding(2).map(_.mkString(" ")).toSeq
  }

  private def bigramCountsOf(corpus: Seq[(String, Boolean)],
                             numFeatures: Int): Map[Long, (Long, Long)] =
    corpus.flatMap { case (text, tgt) =>
      bigrams(text).map(b => (tgt, feat(b, numFeatures)))
    }.groupBy(_._2).map { case (f, hits) =>
      f -> (hits.count(_._1).toLong, hits.count(!_._1).toLong)
    }

  test("ngram = 2: ImportanceResample equals the local bigram replay " +
    "(0/1-token docs score exactly 0), and the incremental fit folds " +
    "additively — fold == refit on the merged corpus") {
    val rnd = new Random(20260818L)
    for (trial <- 1 to 4) {
      val vocab = Seq(3, 2, 6, 12)(trial - 1)
      val nf = Seq(7, 16, 64, 512)(trial - 1)
      val vb = Seq(1, 4, 16, 256)(trial - 1)
      val fraction = Seq(0.5, 0.25, 0.37, 0.8)(trial - 1)
      val docs = drawDocs(rnd, 140, vocab, 0.3)
      // bigram replay: per-doc score = sum over the bigram stream
      val byF = bigramCountsOf(docs.map(d => (d._2, d._3 == "seed")), nf)
      val t = byF.values.map(_._1).sum
      val r = byF.values.map(_._2).sum
      val v = byF.size
      def ratio(ct: Long, cr: Long): Long =
        roundHalfUp((math.log((ct + 1).toDouble / (t + v)) -
          math.log((cr + 1).toDouble / (r + v))) * 1e6)
      val scores = docs.map { case (id, text, _) =>
        id -> bigrams(text).map { b =>
          val f = feat(b, nf)
          byF.get(f).map(c => ratio(c._1, c._2)).getOrElse(ratio(0L, 0L))
        }.sum
      }.toMap
      val want = topK(scores, fraction, "graft")
      val got = Dsir.ImportanceResample("seed", fraction,
          numFeatures = nf, valueBuckets = vb, ngram = 2)
        .transform(docs.toDF("doc_id", "text", "source"))
        .select("doc_id", "dsir_score")
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == want, s"bigram trial $trial vocab=$vocab nf=$nf")
      // short docs really do score the empty sum
      docs.filter(d => toks(d._2).length < 2).foreach { d =>
        assert(scores(d._1) == 0L)
      }
      // fold == refit for the bigram sufficient statistics
      val half = docs.size / 2
      val (a, b) = docs.splitAt(half)
      def cdf(xs: Seq[(Long, String, String)]) =
        xs.toDF("doc_id", "text", "source")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("feature", "n_target", "n_raw")
          .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      val folded = Dsir.foldBatch(
        Dsir.featureCounts(cdf(a), "seed", numFeatures = nf, ngram = 2),
        cdf(b), "seed", numFeatures = nf, ngram = 2)
      val refit = Dsir.featureCounts(cdf(docs), "seed",
        numFeatures = nf, ngram = 2)
      assert(canon(folded) == canon(refit), s"bigram fold drift $trial")
    }
  }

  test("a nondeterministic input still keeps exactly ceil(fraction * n) " +
    "rows: the score cut is materialized once, so the driver census and " +
    "the filters it drives read the same evaluation") {
    import org.apache.spark.sql.functions.{col, concat_ws, udf, when}
    // a nondeterministic UDF, not rand(): rand()'s seed is fixed per
    // plan, so re-running the plan replays the same draws; this one
    // draws anew on every evaluation
    val word = udf { () =>
      s"w${java.util.concurrent.ThreadLocalRandom.current().nextInt(12)}"
    }.asNondeterministic()
    val n = 200
    val batch = spark.range(n.toLong).select(col("id").as("doc_id"),
      concat_ws(" ", word(), word(), word()).as("text"),
      when(col("id") % 4 === 0, "seed").otherwise("web").as("source"))
    assert(batch.collect().toSeq != batch.collect().toSeq,
      "the input must differ between evaluations for this test to bite")
    val counts = Dsir.featureCounts(
      drawDocs(new Random(20260817L), 80, 12, 0.3)
        .toDF("doc_id", "text", "source"), "seed", numFeatures = 32)
    Seq(0.3, 0.55, 0.9).foreach { fraction =>
      val k = new JBigDecimal(fraction.toString)
        .multiply(JBigDecimal.valueOf(n.toLong))
        .setScale(0, RoundingMode.CEILING).longValue()
      // the one-shot form with the posting left lazy (the only other
      // cut), and the ingest form, which has no posting cut at all
      val selections = Seq(
        "ImportanceResample" -> Dsir.ImportanceResample("seed", fraction,
          numFeatures = 32, valueBuckets = 4, cachePosting = false)
          .transform(batch),
        "IncrementalResample" -> Dsir.IncrementalResample(counts, fraction,
          numFeatures = 32, valueBuckets = 4)
          .transform(batch.drop("source")))
      selections.foreach { case (op, kept) =>
        val ids = kept.select("doc_id").as[Long].collect()
        assert(ids.length == k && ids.distinct.length == k,
          s"$op fraction=$fraction kept ${ids.length} " +
            s"(${ids.distinct.length} distinct), want $k")
      }
    }
  }
}
