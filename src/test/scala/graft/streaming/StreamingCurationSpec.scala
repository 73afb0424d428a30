package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.{Sampling, TextAnalysis}

/** The streaming face of the curation chain: the batch wranglers whose
  * plans are stateless projections/filters (normalize, quality score,
  * quality gate, deterministic stratified sampling) apply to a streaming
  * DataFrame UNCHANGED — Structured Streaming runs the same Catalyst
  * plan incrementally — and compose with the watermark-bounded streaming
  * dedup for the one genuinely stateful step.
  *
  * This pins the claim that curation-at-ingest needs no parallel
  * implementation: one operator library, both execution modes. (The
  * iterative stages — near-dup clustering, shard packing — are batch by
  * nature: they need multi-pass / all-rows visibility and run in the
  * compaction tier, not at ingest.)
  */
final case class CurationDoc(doc_id: Long, lang: String, ts: Timestamp,
                             text: String)

/** Arrival row for the fused-recipe tests (the persisted-artifact
  * loop); `url` exercises the canonicalize leg. */
final case class CurationArrival(doc_id: Long, ts: Timestamp,
                                 url: String, text: String)

class StreamingCurationSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def doc(id: Long, lang: String, text: String): CurationDoc =
    CurationDoc(id, lang, new Timestamp((id + 1) * 1000L), text)

  // ---- the fused StreamingCuration recipe over persisted artifacts --

  private val banner = "the shared cookie banner line"
  // corpus: multi-line docs, seed docs carry `seedword`; the banner is
  // corpus-hot (df = 4 > maxDocFreq = 2)
  private def fitCorpus = Seq(
    (100L, "seed", s"seedword alpha beta gamma delta\n$banner\nuno"),
    (101L, "seed", s"seedword alpha beta keep fresh\n$banner\ndue"),
    (102L, "web", s"junk spam noise words here\n$banner\ntre"),
    (103L, "web", s"other web filler tokens now\n$banner\nqua"))
    .toDF("doc_id", "source", "text")

  private def arrival(id: Long, text: String): CurationArrival =
    CurationArrival(id, new Timestamp((id + 1) * 1000L),
      s"HTTP://Host$id.example.com/p?b=2&a=1", text)

  test("the fused recipe: stream == batch bit-identity across " +
    "micro-batch boundaries, with exactly ONE fold per batch per " +
    "persisted index between them; the pass is stateless") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Corpus, Curation, Dsir, Tokenize}
    val corpus = fitCorpus
    // plain lazy frames, not localCheckpoint: suites share one JVM and
    // TextDedupSpec's leak probe unpersists ALL persistent RDDs — a
    // checkpointed frame cannot recompute after losing its blocks,
    // while these tiny artifact frames re-derive from literals freely
    var lineIdx = Corpus.IncrementalHotLines.lineIndex(corpus)
    var counts = Dsir.featureCounts(corpus, "seed", numFeatures = 64)
    val vocab = Tokenize.VocabBuild().transform(corpus)

    val batch1 = Seq(
      arrival(0L, s"seedword alpha beta new one\n$banner\nown tail"),
      arrival(1L, s"junk spam noise other\n$banner\nweb tail"),
      arrival(2L, s"seedword gamma delta fresh\n$banner"))
    val batch2 = Seq(
      arrival(3L, s"seedword keep fresh beta\n$banner\nlate tail"),
      arrival(4L, s"spam filler words junk\n$banner"))

    def batchFace(li: org.apache.spark.sql.DataFrame,
                  ct: org.apache.spark.sql.DataFrame,
                  rows: Seq[CurationArrival]) =
      Curation.Recipe(li, ct, vocab, minScore = 1L, maxDocFreq = 2L,
          numFeatures = 64, urlColumn = Some("url"))
        .transform(rows.toDF())
        .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)

    def stream(li: org.apache.spark.sql.DataFrame,
               ct: org.apache.spark.sql.DataFrame,
               rows: Seq[CurationArrival], name: String) = {
      val input = MemoryStream[CurationArrival]
      val out = new StreamingCuration(li, ct, vocab, minScore = 1L,
          urlColumn = Some("url"), maxDocFreq = 2L, numFeatures = 64)
        .transform(input.toDF())
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        input.addData(rows: _*)
        q.processAllAvailable()
        assert(q.lastProgress.stateOperators.isEmpty,
          "the fused pass must be stateless")
        spark.table(name).collect().map(_.toSeq).toSeq
          .sortBy(_.head.toString)
      } finally q.stop()
    }

    // micro-batch 1 against the fit artifacts
    val got1 = stream(lineIdx, counts, batch1, "cur_recipe_b1")
    val want1 = batchFace(lineIdx, counts, batch1)
    assert(got1.nonEmpty && got1 == want1,
      s"batch-1 divergence:\n$got1\n$want1")
    // the gate is real: the junk arrival is absent
    assert(!got1.exists(_.head == 1L))
    // the strip is real: no clean_text contains the banner
    assert(got1.forall(r => !r(5).toString.contains(banner)))
    // the canonicalize leg threads: lowercased host, sorted params
    assert(got1.forall(r => r(1).toString.startsWith("http://host")))

    // ONE fold per batch per persisted index, then micro-batch 2
    // against the UPDATED artifacts (the compaction cadence)
    // arrivals fold as the raw (negative) class — ingested web docs
    // are unlabeled until curated into the seed
    val b1df = batch1.toDF()
      .withColumn("source", org.apache.spark.sql.functions.lit("web"))
    lineIdx = Corpus.IncrementalHotLines.foldBatch(lineIdx, b1df)
    counts = Dsir.foldBatch(counts, b1df, "seed", numFeatures = 64)
    val got2 = stream(lineIdx, counts, batch2, "cur_recipe_b2")
    val want2 = batchFace(lineIdx, counts, batch2)
    assert(got2.nonEmpty && got2 == want2,
      s"batch-2 divergence:\n$got2\n$want2")
    assert(!got2.exists(_.head == 4L))
  }

  test("the probe leg shares the gate/strip legs: dupPairs equals the " +
    "batch minhash probe over the admitted, stripped text — gated-out " +
    "near-dups and banner-only overlaps never pair") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Corpus, Curation, Dedup, Dsir, Tokenize}
    val corpus = fitCorpus
    val lineIdx = Corpus.IncrementalHotLines.lineIndex(corpus)
    val counts = Dsir.featureCounts(corpus, "seed", numFeatures = 64)
    val vocab = Tokenize.VocabBuild().transform(corpus)
    // the loop's convention: the corpus the index describes is the
    // CURATED one — fit the minhash artifacts on stripped corpus text
    val strippedCorpus = Corpus.HotLineStrip(maxDocFreq = 2L)
      .transform(corpus)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("clean_text").as("text"))
    val sigIdx = Dedup.IncrementalMinHashLSH
      .signatureIndex(strippedCorpus)
    val bandIdx = Dedup.IncrementalMinHashLSH.bandIndex(sigIdx)

    val arrivals = Seq(
      // EXACT copy of corpus 100 (clean text identical post-strip) AND
      // seed-scored: every band collides — must pair deterministically
      arrival(0L, s"seedword alpha beta gamma delta\n$banner\nuno"),
      // exact copy of corpus 102 but NOT admitted (web text, negative
      // score): must NOT pair — the gate runs before the probe
      arrival(1L, s"junk spam noise words here\n$banner\ntre"),
      // admitted, shares ONLY the (stripped) banner with the corpus:
      // must NOT pair — the probe sees clean text
      arrival(2L, s"seedword unrelated brand new\n$banner"))

    val cur = new StreamingCuration(lineIdx, counts, vocab,
      minScore = 1L, maxDocFreq = 2L, numFeatures = 64)
    val input = MemoryStream[CurationArrival]
    val out = cur.dupPairs(input.toDF(), bandIdx, sigIdx,
      threshold = 0.2)
    val q = out.writeStream.format("memory").queryName("cur_pairs")
      .outputMode("append").start()
    val got = try {
      input.addData(arrivals: _*)
      q.processAllAvailable()
      // advance the watermark so within-horizon pair dedup flushes
      input.addData(arrival(90L, "zzz yyy xxx www"))
      q.processAllAvailable()
      spark.table("cur_pairs").select("id_a", "id_b", "est_jaccard")
        .as[(Long, Long, Double)].collect().toSet
    } finally q.stop()

    // the batch face: the SAME legs (gate, strip), then the batch
    // incremental probe on the clean text
    val legs = Curation.buildLegs(lineIdx, counts, 64, 1L, 2L,
      1 << 20, "spec")
    val cleaned = arrivals
      .filter(a => legs.admits(legs.score(a.text)))
      .map(a => (a.doc_id, legs.strip(a.text)._3))
      .toDF("doc_id", "text")
    val want = Dedup.IncrementalMinHashLSH(bandIdx, sigIdx,
        threshold = 0.2)
      .transform(cleaned)
      .select("id_a", "id_b", "est_jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want, s"probe divergence:\n$got\n$want")
    assert(got.exists(_._2 == 0L), s"admitted near-dup must pair: $got")
    assert(!got.exists(_._2 == 1L), "gated-out doc leaked to the probe")
    assert(!got.exists(_._2 == 2L), "banner-only overlap paired — the " +
      "probe saw unstripped text")
  }

  test("normalize -> quality gate -> dedup -> stratified sample run " +
    "end to end on a stream, matching the batch operators row for row") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[CurationDoc]

    val longText = (1 to 25).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      doc(0L, "en", s"<b>Keep</b>  $longText"),
      doc(1L, "en", "too short to pass"),
      doc(2L, "de", s"<b>Keep</b>  $longText"), // dup of 0 post-normalize
      doc(3L, "de", s"unique $longText"),
      doc(4L, "fr", s"french $longText"),
      doc(5L, "en", s"another $longText"))

    def curate(df: org.apache.spark.sql.DataFrame, streaming: Boolean) = {
      val normalized = TextAnalysis.Normalize().transform(df)
        .select(col("doc_id"), col("lang"), col("ts"),
          col("norm_text").as("text"))
      val gated = TextAnalysis.QualityScore().transform(normalized)
        .filter(col("n_tokens") >= 20)
      val deduped =
        // the watermark is stamped AFTER the quality stage: QualityScore
        // runs a typed mapPartitions (object round-trip), which drops
        // event-time metadata — stateful ops need the tag downstream of
        // any such stage
        if (streaming) new StreamingDedup().transform(
          gated.withWatermark("ts", "5 seconds"))
        else {
          // batch reference: same first-wins-by-fingerprint semantics
          // (arrival order == doc_id order here)
          import org.apache.spark.sql.expressions.Window
          gated
            .withColumn("content_fp",
              md5(regexp_replace(trim(lower(col("text"))), "\\s+", " ")))
            .withColumn("rn", row_number().over(Window
              .partitionBy("content_fp").orderBy("doc_id")))
            .filter(col("rn") === 1).drop("rn")
        }
      Sampling.StratifiedSample(Map("en" -> 1.0, "de" -> 1.0),
        defaultRate = 0.0).transform(deduped)
        .select("doc_id", "lang", "content_fp")
    }

    val out = curate(input.toDF(), streaming = true)
    assert(out.isStreaming)
    val query = out.writeStream.format("memory").queryName("curate_test")
      .outputMode("append").start()
    try {
      input.addData(docs.take(3): _*)
      query.processAllAvailable()
      input.addData(docs.drop(3): _*)
      query.processAllAvailable()

      val got = spark.table("curate_test")
        .as[(Long, String, String)].collect().sortBy(_._1).toSeq
      val want = curate(docs.toDF(), streaming = false)
        .as[(Long, String, String)].collect().sortBy(_._1).toSeq
      // expected survivors: 0 (en, keeps fp), 3 (de, unique), 5 (en);
      // 1 fails the gate, 2 is a cross-language dup of 0, 4 is fr
      // (defaultRate 0 drops it)
      assert(got.map(_._1) == Seq(0L, 3L, 5L), got.toString)
      assert(got == want, s"stream/batch divergence:\n$got\n$want")
    } finally query.stop()
  }

  test("chunking-at-ingest: ChunkSplit applies to a stream unchanged, " +
    "matching the batch operator row for row") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[CurationDoc]
    def chunk(df: org.apache.spark.sql.DataFrame) =
      graft.operators.ChunkSplit(chunkTokens = 4, overlapTokens = 1)
        .transform(df)
        .select("doc_id", "chunk_idx", "chunk_start", "n_chunk_tokens",
          "chunk_text")
    val docs = Seq(
      doc(0L, "en", (1 to 10).map(i => s"a$i").mkString(" ")),
      doc(1L, "de", "kurz"),
      doc(2L, "en", (1 to 7).map(i => s"b$i").mkString(" ")))

    val out = chunk(input.toDF())
    assert(out.isStreaming, "the chunk plan must stay streamable " +
      "(pure stateless projection + generate)")
    val query = out.writeStream.format("memory").queryName("chunk_stream")
      .outputMode("append").start()
    try {
      input.addData(docs.take(2): _*)
      query.processAllAvailable()
      input.addData(docs.drop(2): _*)
      query.processAllAvailable()
      val got = spark.table("chunk_stream")
        .as[(Long, Long, Long, Long, String)].collect()
        .sortBy(r => (r._1, r._2)).toSeq
      val want = chunk(docs.toDF())
        .as[(Long, Long, Long, Long, String)].collect()
        .sortBy(r => (r._1, r._2)).toSeq
      assert(got == want, s"stream/batch divergence:\n$got\n$want")
      assert(got.count(_._1 == 0L) == 3 && got.count(_._1 == 1L) == 1)
    } finally query.stop()
  }

  test("streaming winsorization: closed-window quantile thresholds CLAMP " +
    "the next window's values — the streaming face of QuantileClamp " +
    "(round-10 verdict #6)") {
    // Same side-input composition as the band-gate case in
    // StreamingQuantileStatsSpec, but with the batch QuantileClamp's
    // map-side greatest(least(...)) applied in foreachBatch: a
    // streaming curation chain can winsorize exactly like the batch
    // chain, using the p-columns as [band_lo, band_hi].
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{broadcast, col, greatest, least, row_number}
    final case class Seen(g: String, v: Double, w: Double)
    // one source per query, fed in order (see `feed`), as in the
    // robust-scaling case below
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.QEvent]
    val clampInput = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.QEvent]
    val thresholds = new graft.streaming.StreamingQuantileStats(Seq("g"),
      "v", quantiles = Seq(0.1, 0.9), windowDuration = "10 seconds")
      .transform(input.toDF().withWatermark("ts", "2 seconds"))
    val thQuery = thresholds.writeStream.format("memory")
      .queryName("sq_winsor_th").outputMode("append").start()
    val clamped = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    val clampQuery = clampInput.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val th = spark.table("sq_winsor_th")
        if (!th.isEmpty) {
          import org.apache.spark.sql.expressions.Window
          val latest = th.withColumn("__rn",
            row_number().over(Window.partitionBy("g")
              .orderBy(col("window_end").desc)))
            .filter(col("__rn") === 1)
            .select(col("g"), col("p10").as("band_lo"),
              col("p90").as("band_hi"))
          batch.join(broadcast(latest), "g")
            .withColumn("v_winsor",
              greatest(least(col("v"), col("band_hi")), col("band_lo")))
            .select("g", "v", "v_winsor")
            .collect().foreach(r => clamped.synchronized {
              clamped += ((r.getString(0), r.getDouble(1), r.getDouble(2)))
            })
        }
        ()
      }.start()
    try {
      def ev(g: String, sec: Long, v: Double) =
        graft.streaming.QEvent(g, new java.sql.Timestamp(sec * 1000L), v)
      def feed(events: graft.streaming.QEvent*): Unit = {
        input.addData(events: _*); thQuery.processAllAvailable()
        clampInput.addData(events: _*); clampQuery.processAllAvailable()
      }
      // window [0,10): g1 values 1..10 -> p10 = 1, p90 = 9
      feed((1 to 10).map(i => ev("g1", i.toLong % 10, i.toDouble)): _*)
      feed(ev("g1", 30, 100.0)) // closes [0,10)
      // next docs winsorize into [1, 9]: 0.5 -> 1, 9.5 -> 9, 5 -> 5 —
      // ROW-PRESERVING (the gate would have dropped 0.5 and 9.5)
      feed(ev("g1", 31, 0.5), ev("g1", 32, 5.0), ev("g1", 33, 9.5))
      val got = clamped.synchronized(clamped.toSet)
      assert(got.contains(("g1", 0.5, 1.0)), got)
      assert(got.contains(("g1", 5.0, 5.0)), got)
      assert(got.contains(("g1", 9.5, 9.0)), got)
    } finally { thQuery.stop(); clampQuery.stop() }
  }

  test("the streaming ingest loop composes: incremental dedup against " +
    "the corpus index, then the DSIR admission gate — matching the " +
    "batch operators row for row") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Dedup, Dsir}
    // the standing corpus persists as TWO small artifacts: the
    // fingerprint index (dedup) and the feature-count table (selection)
    val corpus = Seq(
      (100L, "known corpus doc", "web"),
      (101L, "seed w0 w1 w0 w1", "seed"),
      (102L, "web w2 w3 w2 w3", "web")).toDF("doc_id", "text", "source")
    val idx = Dedup.IncrementalExactDedup.fingerprintIndex(corpus).cache()
    val counts = Dsir.featureCounts(corpus, "seed", numFeatures = 64)
      .cache()
    val arrivals = Seq(
      doc(0L, "en", "known  CORPUS doc"),  // corpus content -> dropped
      doc(1L, "en", "w0 w1 fresh"),        // seed-like -> admitted
      doc(2L, "en", "w2 w3 w2 junk"),      // web-like -> below the cut
      doc(3L, "en", "w0 w1 w0 new"))       // seed-like -> admitted

    // the batch replay fixes the expectation AND the cut: score the
    // unknown arrivals, cut at the top half (ties admit)
    val batchUnknown = Dedup.IncrementalExactDedup(idx)
      .transform(arrivals.toDF().select("doc_id", "text"))
      .filter(!col("is_known"))
      .select("doc_id", "text")
    val batchScores = Dsir.IncrementalResample(counts, fraction = 1.0,
        numFeatures = 64)
      .transform(batchUnknown)
      .select("doc_id", "dsir_score")
      .as[(Long, Long)].collect().toMap
    val cut = batchScores.values.toSeq.sorted(Ordering[Long].reverse)
      .apply(1) // admit the top 2 of the 3 unknown arrivals
    val wantAdmitted = batchScores.filter(_._2 >= cut)
    assert(wantAdmitted.keySet == Set(1L, 3L)) // layout sanity

    val input = MemoryStream[CurationDoc]
    val unknown = new StreamingIncrementalDedup(idx,
        withinStream = false)
      .transform(input.toDF())
      .filter(!col("is_known"))
    val admitted = new StreamingDsir(counts, minScore = cut,
        numFeatures = 64)
      .transform(unknown)
    val query = admitted.writeStream.format("memory")
      .queryName("ingest_loop").outputMode("append").start()
    try {
      input.addData(arrivals: _*)
      query.processAllAvailable()
      val got = spark.table("ingest_loop")
        .select("doc_id", "dsir_score")
        .as[(Long, Long)].collect().toMap
      assert(got == wantAdmitted)
      // the whole loop is stateless at ingest (dedup probe + gate)
      assert(query.lastProgress.stateOperators.isEmpty)
    } finally query.stop()
  }

  test("streaming robust scaling: closed-window p25/p50/p75 thresholds " +
    "scale the next window's values — the streaming face of RobustScale") {
    // the RobustScale composition over the same emitted-thresholds
    // side-input: (v - p50) / (p75 - p25), NULL when the band is a
    // single value, exactly the batch operator's contract
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{broadcast, col, lit, round, row_number, when}
    // one source per query: the scaling side receives each event batch
    // only after the threshold query has processed it (see `feed`)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.QEvent]
    val scaleInput = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.QEvent]
    val thresholds = new graft.streaming.StreamingQuantileStats(Seq("g"),
      "v", quantiles = Seq(0.25, 0.5, 0.75), windowDuration = "10 seconds")
      .transform(input.toDF().withWatermark("ts", "2 seconds"))
    val thQuery = thresholds.writeStream.format("memory")
      .queryName("sq_robust_th").outputMode("append").start()
    val scaled = scala.collection.mutable.ArrayBuffer
      .empty[(String, Double, Option[Double])]
    val scaleQuery = scaleInput.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val th = spark.table("sq_robust_th")
        if (!th.isEmpty) {
          import org.apache.spark.sql.expressions.Window
          val latest = th.withColumn("__rn",
            row_number().over(Window.partitionBy("g")
              .orderBy(col("window_end").desc)))
            .filter(col("__rn") === 1)
            .select(col("g"), col("p25").as("scale_lo"),
              col("p50").as("scale_med"), col("p75").as("scale_hi"))
          batch.join(broadcast(latest), "g")
            .withColumn("v_robust",
              when(col("scale_hi") === col("scale_lo"),
                lit(null).cast("double"))
              .otherwise(round(
                (col("v") - col("scale_med")).cast("double") /
                  (col("scale_hi") - col("scale_lo")).cast("double"), 6)))
            .select("g", "v", "v_robust")
            .collect().foreach(r => scaled.synchronized {
              scaled += ((r.getString(0), r.getDouble(1),
                if (r.isNullAt(2)) None else Some(r.getDouble(2))))
            })
        }
        ()
      }.start()
    try {
      def ev(g: String, sec: Long, v: Double) =
        graft.streaming.QEvent(g, new java.sql.Timestamp(sec * 1000L), v)
      // explicit ordering: the threshold query processes a batch (and
      // emits every window it closes) before the scaling query sees it,
      // so a scaling batch never reads the sink mid-update
      def feed(events: graft.streaming.QEvent*): Unit = {
        input.addData(events: _*); thQuery.processAllAvailable()
        scaleInput.addData(events: _*); scaleQuery.processAllAvailable()
      }
      // window [0,10): g1 values 0,10,..,70 -> p25 = 10, p50 = 30,
      // p75 = 50 (discrete rank ceil(q*8)); IQR = 40; and a constant
      // group: p25 == p75 -> NULL scale for its rows
      feed((0 until 8).map(i => ev("g1", i.toLong, i * 10.0)) ++
        (0 until 4).map(i => ev("gc", i.toLong, 7.0)): _*)
      feed(ev("g1", 30, 0.0), ev("gc", 30, 0.0)) // close [0,10)
      // next docs scale with the closed window's thresholds:
      // 30 -> 0.0 (the median), 50 -> 0.5, 0 -> -0.75
      feed(ev("g1", 31, 30.0), ev("g1", 32, 50.0),
        ev("g1", 33, 0.0), ev("gc", 34, 9.0))
      val got = scaled.synchronized(scaled.toSet)
      assert(got.contains(("g1", 30.0, Some(0.0))), got)
      assert(got.contains(("g1", 50.0, Some(0.5))), got)
      assert(got.contains(("g1", 0.0, Some(-0.75))), got)
      assert(got.contains(("gc", 9.0, None)), got) // single-valued band
    } finally { thQuery.stop(); scaleQuery.stop() }
  }
}
