package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._

/** One named query of the driver contract: the Spark builder, its
  * DuckDB oracle and the plan signature the bench checks, registered
  * together in [[SparkEntry.registry]] — a query cannot exist without
  * its oracle and its signature.
  *
  * @param build the query over the parquet tables of an sf directory.
  * @param oracle DuckDB-runnable SQL recomputing the result
  *   independently, given the sf directory's base name (only
  *   jsonl_ingest's oracle reads an sf-suffixed export; the rest ignore
  *   it).
  * @param signature a physical-plan fragment that MUST appear in the
  *   timed plan — the operator's signature node (Window / join / the
  *   defining expression). `None` marks operators that execute eagerly
  *   inside the builder (checkpoint-cut loops: connected components, the
  *   salted identifier), where the returned plan is a checkpoint scan
  *   and the real work is timed because the builder runs inside the
  *   timed thunk.
  * @param zeroColumnScanOk the plan legitimately carries a zero-column
  *   scan branch: a `count(*)`-style aggregate over the corpus reads no
  *   columns by design (tfidf_topk's N). Everything else must read real
  *   columns in EVERY scan — per round-5 ADVICE, "some scan reads
  *   columns" is too weak (a fully-pruned operator branch could hide
  *   behind one honest auxiliary branch).
  */
final case class QuerySpec(name: String,
                           build: (SparkSession, String) => DataFrame,
                           oracle: String => String,
                           signature: Option[String],
                           zeroColumnScanOk: Boolean = false)

/** Driver contract: named queries over the driver-provided parquet tables
  * plus DuckDB-equivalent oracle SQL for each (see /root/repo/SURVEY.md §2).
  *
  * Conventions keeping the Spark/DuckDB hash compare stable:
  *   - every computed column is aliased identically on both sides;
  *   - outputs avoid raw timestamps (ns-vs-us parquet precision) and avoid
  *     unrounded floating-point aggregates (summation-order sensitivity);
  *   - ids ordered/cast to BIGINT on both sides.
  */
object SparkEntry {

  /** events.parquet's `ts` column is physically INT64, but the generator
    * has shipped it annotated as either TIMESTAMP(NANOS) (which Spark 4
    * surfaces as LongType under `spark.sql.legacy.parquet.nanosAsLong`)
    * or TIMESTAMP(MICROS). Normalize to epoch-NANOS LongType either way:
    * integer semantics stay exact and match DuckDB's `epoch_ns(ts)`,
    * which likewise adapts to the file's physical unit. The unit is
    * learned from the footer (one driver-side schema read, no data scan),
    * then the data is read with a forced LONG schema so the raw INT64
    * values arrive untouched.
    */
  private[graft] def events(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val natural = spark.read.parquet(path).schema("ts").dataType
    val raw = spark.read
      .schema("event_id LONG, ts LONG, user_id LONG, event_type STRING, " +
        "value DOUBLE, props STRING")
      .parquet(path)
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    natural match {
      case LongType => raw // TIMESTAMP(NANOS) under nanosAsLong
      case TimestampType | TimestampNTZType => // INT64 TIMESTAMP(MICROS)
        raw.withColumn("ts", col("ts") * lit(1000L))
      case other => throw new IllegalStateException(
        s"events.ts: unsupported parquet type $other")
    }
  }

  /** Interval identification over the events stream: one row per event,
    * enumerated interval id per user between a start and an end event type.
    * `event_id` is the explicit order column (events are generated in
    * timestamp order; an integer key sidesteps parquet ns/us truncation).
    */
  private def intervalQuery(su: Boolean, eu: Boolean,
                            resultType: ResultType,
                            adjusted: Boolean = true,
                            start: String = "signup",
                            end: Option[String] = Some("purchase"),
                            ascending: Boolean = true,
                            salted: Boolean = false)
                           (spark: SparkSession, dir: String): DataFrame = {
    val w =
      if (salted)
        new IntervalIdentifierSalted("event_type", start, end, su, eu,
          orderbyColumns = Seq("event_id"), groupbyColumns = Seq("user_id"),
          ascending = Seq(ascending), resultType = resultType)
      else if (adjusted)
        new IntervalIdentifierAdjusted("event_type", start, end, su, eu,
          orderbyColumns = Seq("event_id"), groupbyColumns = Seq("user_id"),
          ascending = Seq(ascending), resultType = resultType)
      else
        new IntervalIdentifier("event_type", start, end, su, eu,
          orderbyColumns = Seq("event_id"), groupbyColumns = Seq("user_id"),
          ascending = Seq(ascending), resultType = resultType)
    w.transform(events(spark, dir))
      .select(col("user_id"), col("event_id"),
        col("iids").cast("long").as("iids"))
      .orderBy("user_id", "event_id")
  }

  /** The cumsum-algebra oracle, shared by the four span configs. Expressed
    * directly in ANSI SQL window functions so DuckDB recomputes the same
    * semantics independently.
    */
  private def intervalOracle(su: Boolean, eu: Boolean,
                             resultType: String = "enumerated",
                             start: String = "signup",
                             end: String = "purchase",
                             ascending: Boolean = true): String = {
    val dir = if (ascending) "ASC" else "DESC"
    // marker preprocessing: nullify duplicated start (keep first) / end
    // (keep last) markers, mirroring denoise + ffill/bfill + lag-compare
    val dropStart =
      s"""
         |denoise_s AS (
         |  SELECT *,
         |    last_value(CASE WHEN event_type IN ('$start','$end')
         |               THEN event_type END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY event_id $dir
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dn_s
         |  FROM base),
         |drop_s AS (
         |  SELECT * REPLACE (
         |    CASE WHEN (CASE WHEN dn_s = '$start'
         |               THEN lag(dn_s) OVER (PARTITION BY user_id
         |                                    ORDER BY event_id $dir) END)
         |              = marker THEN NULL ELSE marker END AS marker)
         |  FROM denoise_s)
         |""".stripMargin
    val dropEnd =
      s"""
         |denoise_e AS (
         |  SELECT *,
         |    first_value(CASE WHEN event_type IN ('$start','$end')
         |                THEN event_type END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY event_id $dir
         |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS dn_e
         |  FROM %s),
         |drop_e AS (
         |  SELECT * REPLACE (
         |    CASE WHEN (CASE WHEN dn_e = '$end'
         |               THEN lead(dn_e) OVER (PARTITION BY user_id
         |                                     ORDER BY event_id $dir) END)
         |              = marker THEN NULL ELSE marker END AS marker)
         |  FROM %s)
         |""".stripMargin

    val pre = new StringBuilder(
      s"WITH base AS (SELECT user_id, event_id, event_type, " +
        s"event_type AS marker FROM events),\n")
    var cur = "base"
    if (su) { pre.append(dropStart).append(","); cur = "drop_s" }
    if (!eu) {
      pre.append(dropEnd.format(cur, "denoise_e")).append(",")
      cur = "drop_e"
    }

    val core =
      s"""
         |bools AS (
         |  SELECT user_id, event_id,
         |    CASE WHEN marker IS NOT DISTINCT FROM '$start' THEN 1 ELSE 0 END AS bs,
         |    CASE WHEN marker IS NOT DISTINCT FROM '$end' THEN 1 ELSE 0 END AS be
         |  FROM $cur),
         |shifted AS (
         |  SELECT *,
         |    COALESCE(lag(be) OVER (PARTITION BY user_id
         |                           ORDER BY event_id $dir), 1) AS be_shift
         |  FROM bools),
         |raw AS (
         |  SELECT *,
         |    SUM(bs + be_shift)
         |      OVER (PARTITION BY user_id ORDER BY event_id $dir
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS raw_iid
         |  FROM shifted),
         |valid AS (
         |  SELECT *,
         |    CASE WHEN SUM(bs + be) OVER (PARTITION BY user_id, raw_iid) = 2
         |         THEN raw_iid ELSE 0 END AS valid_iid
         |  FROM raw),
         |chg AS (
         |  SELECT *,
         |    CASE WHEN COALESCE(lag(valid_iid)
         |        OVER (PARTITION BY user_id ORDER BY event_id $dir), 0)
         |        - valid_iid < 0 THEN 1 ELSE 0 END AS inc
         |  FROM valid),
         |renum AS (
         |  SELECT *,
         |    CASE WHEN valid_iid <> 0 THEN
         |      SUM(inc)
         |        OVER (PARTITION BY user_id ORDER BY event_id $dir
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      ELSE 0 END AS iid
         |  FROM chg)
         |""".stripMargin

    val selected = resultType match {
      case "raw"   => "CAST(raw_iid AS BIGINT)"
      case "valid" => "CAST(valid_iid AS BIGINT)"
      case _       => "CAST(iid AS BIGINT)"
    }
    pre.append(core).append(
      s"SELECT user_id, event_id, $selected AS iids FROM renum " +
        "ORDER BY user_id, event_id").toString
  }

  /** Identical start/end markers: running count of the marker. */
  private def intervalIdenticalOracle(marker: String): String =
    s"""WITH base AS (SELECT user_id, event_id, event_type
       |  FROM events)
       |SELECT user_id, event_id,
       |  CAST(SUM(CASE WHEN event_type IS NOT DISTINCT FROM '$marker'
       |           THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY user_id ORDER BY event_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS iids
       |FROM base ORDER BY user_id, event_id""".stripMargin

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  private def embs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** Media fixture corpus: REAL PNG / animated-GIF payloads generated
    * deterministically from `doc_id` (graft.sources.MediaGen) — dims,
    * frame counts and corner pixels have closed forms the DuckDB oracle
    * recomputes, so the `mm_*` rows verify the actual `javax.imageio`
    * decode, not a byte-hash fake.
    */
  private def media(spark: SparkSession, dir: String): DataFrame =
    graft.sources.MediaGen.AttachPayload()
      .transform(docs(spark, dir).select("doc_id"))

  /** Audio fixture corpus: REAL WAV payloads (JDK `javax.sound.sampled`
    * encode) generated deterministically from `doc_id`
    * (graft.sources.AudioGen) — format header fields and the full
    * sample stream have closed forms the DuckDB oracle recomputes, so
    * `mm_audio` verifies the actual WAV decode, sample data included.
    */
  private def audio(spark: SparkSession, dir: String): DataFrame =
    graft.sources.AudioGen.AttachPayload()
      .transform(docs(spark, dir).select("doc_id"))

  /** Video fixture corpus: REAL MJPEG-in-AVI payloads (RIFF container +
    * JDK JPEG frames, graft.sources.VideoGen) generated
    * deterministically from `doc_id` — container fields, per-frame
    * uniform pixel values (JPEG DC-only blocks round-trip bit-exactly)
    * and the cross-frame corner sum have closed forms the DuckDB
    * oracle recomputes, so `mm_video` verifies the actual container
    * walk AND the per-frame JPEG decode.
    */
  private def video(spark: SparkSession, dir: String): DataFrame =
    graft.sources.VideoGen.AttachPayload()
      .transform(docs(spark, dir).select("doc_id"))

  /** Web-corpus URL fixture: deliberately MESSY urls derived
    * deterministically from `doc_id` — case-shifted schemes/hosts,
    * `www.` prefixes, default and explicit ports, duplicate/trailing
    * slashes, unsorted + tracking query params, fragments, and a
    * malformed (scheme-less) class — the DuckDB oracle rebuilds the
    * same strings and replays the same canonicalization algebra.
    */
  private def webUrls(spark: SparkSession, dir: String): DataFrame =
    withMessyUrl(docs(spark, dir).select(col("doc_id")))

  /** The events table as a STREAMING frame with a TimestampType `ts`
    * (µs precision) — the streaming-oracle-query input. Same
    * footer-adaptive unit handling as [[events]]; the file-stream
    * source wants a DIRECTORY, so the one events file is selected out
    * of the sf dir with a glob filter.
    */
  private def eventStream(s: SparkSession, dir: String): DataFrame = {
    val natural = s.read.parquet(s"$dir/events.parquet")
      .schema("ts").dataType
    val raw = s.readStream
      .schema("event_id LONG, ts LONG, user_id LONG, " +
        "event_type STRING, value DOUBLE, props STRING")
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    import org.apache.spark.sql.types.LongType
    val ns = natural match {
      case LongType => raw
      case _ => raw.withColumn("ts", col("ts") * lit(1000L))
    }
    // `div`, not `/`: Column./ is DOUBLE division, imprecise at
    // epoch-ns magnitude (~1.7e18 >> 2^53 — ±128 ns error flips ~1.5%
    // of µs-aligned values by one microsecond); div is exact 64-bit
    // integer division, matching the oracle's integer epoch_ns algebra
    ns.withColumn("ts", timestamp_micros(expr("ts div 1000")))
  }

  /** Run a streaming frame to completion through a COMPLETE-mode
    * memory sink (deterministic: every open aggregate emitted, no
    * append-mode watermark races) and return the materialized result.
    * The sink's temp view is dropped before returning (bench reps
    * would otherwise accumulate one full result table per run) — the
    * localCheckpoint cut makes the returned frame independent of it.
    */
  private def runToMemorySink(out: DataFrame,
                              mode: String = "complete"): DataFrame = {
    val s = out.sparkSession
    val qn = "win_sink_" + java.util.UUID.randomUUID()
      .toString.replace("-", "")
    val q = out.writeStream.outputMode(mode).format("memory")
      .queryName(qn)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val t = s.table(qn).localCheckpoint()
    s.catalog.dropTempView(qn)
    t
  }

  /** Append the messy `url` column to any frame carrying `doc_id`. */
  private def withMessyUrl(df: DataFrame): DataFrame = {
    val m = pmod(col("doc_id"), lit(7L))
    df.withColumn("url",
      when(m === 6L,
        concat(lit("not a url "), col("doc_id").cast("string")))
        .otherwise(concat(
          when(m === 2L, lit("HTTP://")).when(m === 4L, lit("HTTPS://"))
            .when(m === 3L, lit("https://")).otherwise(lit("http://")),
          // m=4 carries a DOUBLE www. prefix — the host run-strip case
          when(m === 4L, lit("www.www."))
            .when(m % 2L === 0L, lit("www.")).otherwise(lit("")),
          lit("site"), pmod(col("doc_id"), lit(5L)).cast("string"),
          lit(".example.com"),
          when(m === 2L, lit(":80")).when(m === 3L, lit(":443"))
            .when(m === 5L, lit(":8080")).otherwise(lit("")),
          when(m === 1L, lit("/a//b%zz")).otherwise(lit("")),
          // m=5 exercises percent normalization: %41 decodes to A,
          // %2f survives as %2F (uppercased), %7e decodes to ~
          when(m === 5L, lit("/e%41%2f%7e")).otherwise(lit("")),
          lit("/p"), pmod(col("doc_id"), lit(11L)).cast("string"),
          when(m === 0L || m === 4L, lit("/")).otherwise(lit("")),
          when(m === 0L || m === 2L || m === 4L,
            lit("?utm_source=x&b=2&a=1"))
            .when(m === 1L, lit("?b=2&a=1"))
            .when(m === 3L, lit("?gclid=99")).otherwise(lit("")),
          when(m === 0L || m === 3L, lit("#frag")).otherwise(lit("")))))
  }

  /** Per-source tag token for the classifier queries (mirrored by
    * `OracleSql.qualityClassifier(tagged = true)`): the fixture
    * corpus draws every source from ONE word pool — no separable
    * signal exists — so the classifier queries append ` tag_<source>`
    * and the model must FIND it among the hash cells. */
  private def withSourceTag(d: DataFrame): DataFrame =
    d.withColumn("text",
      concat(col("text"),
        repeat(concat(lit(" tag_"), col("source")), 8)))

  /** Non-ASCII synthetic text for `bpe_enc_uni` (mirrored by
    * `OracleSql.uniTextCase`): CJK, surrogate-pair emoji and musical
    * symbols (2 UTF-16 units per codepoint on the JVM), a COMBINING
    * acute (e + U+0301, two codepoints), and one case-folding ASCII
    * word. The JVM trie walks UTF-16 units while the DuckDB oracle
    * counts codepoints — agreement is the well-formed-pieces
    * prefix-chain argument in [[operators.Tokenize.BpeEncode]], pinned
    * here as an oracle-gated fact.
    */
  private def withUniText(d: DataFrame): DataFrame = {
    def word(m: Column): Column =
      when(m === 0L, lit("日本語"))
        .when(m === 1L, lit("データ処理"))
        .when(m === 2L, lit("🚀🚀go"))
        .when(m === 3L, lit("école"))
        .when(m === 4L, lit("𝄞clef"))
        .otherwise(lit("Bits"))
    d.withColumn("text", concat_ws(" ",
      word(pmod(col("doc_id"), lit(6L))),
      word(pmod(col("doc_id") + 1L, lit(6L))),
      word(pmod(col("doc_id"), lit(3L)))))
  }

  /** The corpus-derived subword vocab the bpe-family queries provide as
    * "the caller": `Tokenize.VocabBuild` at its defaults — top-10 whole
    * words, every single character in both forms (the coverage
    * guarantee), top-10 3-char suffix continuation pieces, ids = rank
    * of the piece string. Sized so most of the fixture's 31 words
    * genuinely SPLIT (top-150 would make every word a whole-word piece
    * and never exercise continuation matching).
    */
  private def bpeFixtureVocab(d: DataFrame): DataFrame =
    Tokenize.VocabBuild().transform(d)

  /** Every query, with its oracle and plan signature: the interval
    * identifier family (one entry per span config and implementation
    * from SURVEY.md §2), then the text-analysis / dedup / similarity /
    * multimodal / relational surface (the 100 TB training-data-pipeline
    * extensions), each paired with a bit-deterministic DuckDB oracle,
    * mostly from [[OracleSql]].
    */
  val registry: Seq[QuerySpec] = Seq(
    // interval identification: four span configs × generic/adjusted impls
    QuerySpec("interval_lsfe", intervalQuery(su = false, eu = true,
      ResultType.Enumerated, adjusted = false),
      _ => intervalOracle(su = false, eu = true), Some("Window")),
    QuerySpec("interval_fsle", intervalQuery(su = true, eu = false,
      ResultType.Enumerated, adjusted = false),
      _ => intervalOracle(su = true, eu = false), Some("Window")),
    QuerySpec("interval_fsfe_adj", intervalQuery(su = true, eu = true,
      ResultType.Enumerated),
      _ => intervalOracle(su = true, eu = true), Some("Window")),
    QuerySpec("interval_lsle_adj", intervalQuery(su = false, eu = false,
      ResultType.Enumerated),
      _ => intervalOracle(su = false, eu = false), Some("Window")),
    QuerySpec("interval_fsfe_generic", intervalQuery(su = true, eu = true,
      ResultType.Enumerated, adjusted = false),
      _ => intervalOracle(su = true, eu = true), Some("Window")),
    QuerySpec("interval_lsle_generic", intervalQuery(su = false, eu = false,
      ResultType.Enumerated, adjusted = false),
      _ => intervalOracle(su = false, eu = false), Some("Window")),
    QuerySpec("interval_raw", intervalQuery(su = false, eu = true,
      ResultType.Raw, adjusted = false),
      _ => intervalOracle(su = false, eu = true, "raw"), Some("Window")),
    QuerySpec("interval_valid", intervalQuery(su = false, eu = true,
      ResultType.Valid, adjusted = false),
      _ => intervalOracle(su = false, eu = true, "valid"), Some("Window")),
    QuerySpec("interval_desc", intervalQuery(su = false, eu = true,
      ResultType.Enumerated, adjusted = false, ascending = false),
      _ => intervalOracle(su = false, eu = true, ascending = false),
      Some("Window")),
    // single-pass (repartition+sort+mapPartitions) formulation: one
    // shuffle instead of two; must agree with the same oracle
    QuerySpec("interval_lsfe_1pass", (s, dir) => {
      val w = new IntervalIdentifierSinglePass("event_type", "signup",
        Some("purchase"), orderbyColumns = Seq("event_id"),
        groupbyColumns = Seq("user_id"))
      w.transform(events(s, dir))
        .select(col("user_id"), col("event_id"),
          col("iids").cast("long").as("iids"))
        .orderBy("user_id", "event_id")
    }, _ => intervalOracle(su = false, eu = true), Some("MapPartitions")),
    QuerySpec("interval_identical", (s, dir) => {
      val w = new IntervalIdentifier("event_type", "click", None,
        orderbyColumns = Seq("event_id"), groupbyColumns = Seq("user_id"))
      w.transform(events(s, dir))
        .select(col("user_id"), col("event_id"),
          col("iids").cast("long").as("iids"))
        .orderBy("user_id", "event_id")
    }, _ => intervalIdenticalOracle("click"), Some("Window")),
    // skew-immune salted formulation (the plain directional passes
    // inside (group, chunk) windows plus one carry join, no whole-group
    // task anywhere): must agree with the SAME oracles as the plain
    // paths. The three queries cover no-drop (lsfe), both-drop (fsle)
    // and identical-marker semantics across chunk boundaries. The bounds
    // and chunk-summary collects run eagerly inside the builder, so no
    // signature node is pinned.
    QuerySpec("interval_lsfe_salted", intervalQuery(su = false, eu = true,
      ResultType.Enumerated, salted = true),
      _ => intervalOracle(su = false, eu = true), None),
    QuerySpec("interval_fsle_salted", intervalQuery(su = true, eu = false,
      ResultType.Enumerated, salted = true),
      _ => intervalOracle(su = true, eu = false), None),
    QuerySpec("interval_identical_salted", (s, dir) => {
      val w = new IntervalIdentifierSalted("event_type", "click", None,
        orderbyColumns = Seq("event_id"), groupbyColumns = Seq("user_id"))
      w.transform(events(s, dir))
        .select(col("user_id"), col("event_id"),
          col("iids").cast("long").as("iids"))
        .orderBy("user_id", "event_id")
    }, _ => intervalIdenticalOracle("click"), None),
    QuerySpec("text_tokens", (s, dir) =>
      TextAnalysis.TokenCount().transform(docs(s, dir))
        .select("doc_id", "n_tokens", "n_distinct_tokens", "n_chars",
          "n_regex_tokens")
        .orderBy("doc_id"),
      _ => OracleSql.textTokens, Some("split(")),
    QuerySpec("text_quality", (s, dir) =>
      TextAnalysis.QualityScore().transform(docs(s, dir))
        .select("doc_id", "n_tokens", "avg_token_len", "stopword_ratio",
          "punct_ratio", "quality_score")
        .orderBy("doc_id"),
      _ => OracleSql.textQuality, Some("SerializeFromObject")),
    // the Gopher/MassiveText HARD rule gate (r16): integer counters +
    // cross-multiplied ratio rules + conjunction admit — auditable
    // per-rule verdicts, no float ever materializes. Stopword list is
    // the fixture corpus's own function words (the/a) so the >= 2
    // distinct rule DISCRIMINATES here (47/136/317 docs at 0/1/2 hits)
    // — the production default stays the Gopher octet
    QuerySpec("gopher_rules", (s, dir) =>
      TextAnalysis.GopherRules(stopwords = Seq("the", "a"))
        .transform(docs(s, dir))
        .select("doc_id", "n_words", "word_chars", "n_lines",
          "bullet_lines", "ellipsis_lines", "alpha_words", "symbol_marks",
          "stopword_hits", "r_word_count", "r_mean_word_len",
          "r_symbol_ratio", "r_bullet", "r_ellipsis", "r_alpha",
          "r_stopwords", "admit")
        .orderBy("doc_id"),
      _ => OracleSql.gopherRules(50L, 100000L, Seq("the", "a")),
      Some("SerializeFromObject")), // typed rule-count pass
    // the structural half of the Gopher filter (r16): within-doc
    // duplicate line/paragraph counters + threshold verdicts. The
    // fixture corpus is single-line, so the query SHAPES it
    // deterministically (both engines replay the same expression):
    // every doc gains two derived 5-token lines — identical for every
    // 3rd doc (line-dup offenders); every 5th doc gains a duplicated
    // PARAGRAPH — so each rule family splits the corpus
    QuerySpec("gopher_rep", (s, dir) => {
      val tk = graft.functions.Portable.tokens(col("text"))
      val l1 = array_join(slice(tk, 1, 5), " ")
      val l2 = array_join(slice(tk, 6, 5), " ")
      val p1 = array_join(slice(tk, 1, 25), " ")
      val lined = when(pmod(col("doc_id"), lit(3L)) === 0L,
        concat_ws("\n", col("text"), l1, l1))
        .when(pmod(col("doc_id"), lit(3L)) === 1L,
          concat_ws("\n", col("text"), l1, l2))
        .otherwise(col("text"))
      val shaped = when(pmod(col("doc_id"), lit(5L)) === 0L,
        concat(lined, lit("\n\n"), p1, lit("\n\n"), p1))
        .otherwise(lined)
      TextAnalysis.GopherRepetition()
        .transform(docs(s, dir).withColumn("text", shaped))
        .select("doc_id", "n_lines", "dup_lines", "line_chars",
          "dup_line_chars", "n_paras", "dup_paras", "para_chars",
          "dup_para_chars", "rep_chars", "top2_chars", "top3_chars",
          "top4_chars", "dup5_chars", "dup6_chars", "dup7_chars",
          "dup8_chars", "dup9_chars", "dup10_chars",
          "r_dup_lines", "r_dup_line_chars", "r_dup_paras",
          "r_dup_para_chars", "r_top2_gram", "r_top3_gram",
          "r_top4_gram", "r_dup5_gram", "r_dup6_gram", "r_dup7_gram",
          "r_dup8_gram", "r_dup9_gram", "r_dup10_gram", "admit")
        .orderBy("doc_id")
    }, _ => OracleSql.gopherRepetition,
      Some("SerializeFromObject")), // typed dup-line pass
    // the n-gram half of the repetition gate on its own shaped corpus
    // (r17, Rae et al. Table A1): every doc appends its first-2-token
    // phrase doc_id%9 times and its first-10-token phrase doc_id%4
    // times, sweeping the top-{2,3,4}-gram and dup-{5..10}-gram
    // fractions across every rule's threshold — each of the 9 rules
    // splits the corpus both ways
    QuerySpec("gopher_ngram", (s, dir) => {
      val tk = graft.functions.Portable.tokens(col("text"))
      val shaped = docs(s, dir)
        .withColumn("p2", array_join(slice(tk, 1, 2), " "))
        .withColumn("p10", array_join(slice(tk, 1, 10), " "))
        .withColumn("text", concat(col("text"),
          expr("repeat(concat(' ', p2), CAST(pmod(doc_id, 9) AS INT))"),
          expr("repeat(concat(' ', p10), CAST(pmod(doc_id, 4) AS INT))")))
        .drop("p2", "p10")
      TextAnalysis.GopherRepetition().transform(shaped)
        .withColumn("ngram_admit",
          col("r_top2_gram") && col("r_top3_gram") && col("r_top4_gram")
            && col("r_dup5_gram") && col("r_dup6_gram")
            && col("r_dup7_gram") && col("r_dup8_gram")
            && col("r_dup9_gram") && col("r_dup10_gram"))
        .select("doc_id", "rep_chars", "top2_chars", "top3_chars",
          "top4_chars", "dup5_chars", "dup6_chars", "dup7_chars",
          "dup8_chars", "dup9_chars", "dup10_chars",
          "r_top2_gram", "r_top3_gram", "r_top4_gram", "r_dup5_gram",
          "r_dup6_gram", "r_dup7_gram", "r_dup8_gram", "r_dup9_gram",
          "r_dup10_gram", "ngram_admit")
        .orderBy("doc_id")
    }, _ => OracleSql.gopherNgram,
      Some("SerializeFromObject")), // typed n-gram pass
    // the COMPLETE Gopher gate (r16): outlier rules AND repetition
    // rules over the same shaped corpus — two chained zero-shuffle
    // typed passes, one admit
    QuerySpec("gopher_full", (s, dir) => {
      val tk = graft.functions.Portable.tokens(col("text"))
      val l1 = array_join(slice(tk, 1, 5), " ")
      val l2 = array_join(slice(tk, 6, 5), " ")
      val p1 = array_join(slice(tk, 1, 25), " ")
      val lined = when(pmod(col("doc_id"), lit(3L)) === 0L,
        concat_ws("\n", col("text"), l1, l1))
        .when(pmod(col("doc_id"), lit(3L)) === 1L,
          concat_ws("\n", col("text"), l1, l2))
        .otherwise(col("text"))
      val shaped = when(pmod(col("doc_id"), lit(5L)) === 0L,
        concat(lined, lit("\n\n"), p1, lit("\n\n"), p1))
        .otherwise(lined)
      val rules = TextAnalysis.GopherRules(minWords = 20L,
          stopwords = Seq("the", "a"))
        .transform(docs(s, dir).withColumn("text", shaped))
        .select(col("doc_id"), col("text"), col("admit").as("rules_admit"))
      TextAnalysis.GopherRepetition().transform(rules)
        .select(col("doc_id"), col("rules_admit"),
          col("admit").as("rep_admit"))
        .withColumn("admit", col("rules_admit") && col("rep_admit"))
        .orderBy("doc_id")
    }, _ => OracleSql.gopherFull(20L, 100000L, Seq("the", "a")),
      Some("SerializeFromObject")), // two chained typed passes
    // the rule gate composed as a Pipeline stage (r16): Gopher admit
    // filter -> context chunking -> exact token-budget packing — the
    // cheapest curation chain (no fit artifact anywhere), same
    // chunk+pack tail as pipeline_pretrain over the ADMITTED corpus
    QuerySpec("pipeline_gopher", (s, dir) => {
      import graft.pipeline.{Pipeline, Stage}
      val p = new Pipeline(Seq(
        Stage(TextAnalysis.GopherRules(minWords = 20L,
          stopwords = Seq("the", "a"))),
        Stage.of("admit_gate")(_.filter(col("admit"))
          .select("doc_id", "text")),
        // the repetition half (structural + n-gram rules) completes
        // the gate — both families must admit before chunking
        Stage(TextAnalysis.GopherRepetition()),
        Stage.of("rep_gate")(_.filter(col("admit"))
          .select("doc_id", "text")),
        Stage(ChunkSplit(chunkTokens = 32, overlapTokens = 8)),
        Stage.of("chunk_key")(_.withColumn("chunk_key",
          col("doc_id") * 100000L + col("chunk_idx"))),
        // lineage cut before the packer's two prefix-sum passes (the
        // pipeline_pretrain discipline)
        Stage.of("cut")(_.localCheckpoint()),
        Stage(Corpus.ShardPack(orderColumn = "chunk_key",
          sizeColumn = "n_chunk_tokens", targetBytes = 256L))))
      p.transform(docs(s, dir))
        .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
          col("cum_bytes").as("cum_tokens"), col("shard").as("pack_id"))
        .orderBy("doc_id", "chunk_idx")
    }, _ => OracleSql.pipelineGopher(20L, 100000L,
        Seq("the", "a"), 32, 8, 256L),
      Some("MapPartitions")), // final ShardPack stage
    // C4-style line-level cleaning gate (r17, Raffel et al. 2020):
    // line retention (terminal punct incl. closing quote, >= 5 words,
    // no `javascript` word) then the document rules (>= 3 sentence
    // marks in the RETAINED text, no brace, no `lorem ipsum`, no
    // blocklist token — the fixture blocklist is the corpus's own
    // rare token `dup`, 25/500 docs). The fixture shapes each doc
    // into 6 derived lines sweeping every retention rule, plus
    // javascript/lorem/brace tails on doc_id mod classes
    QuerySpec("c4_clean", (s, dir) => {
      val tk = graft.functions.Portable.tokens(col("text"))
      val l1 = concat(array_join(slice(tk, 1, 6), " "), lit("."))
      val l2 = concat(array_join(slice(tk, 1, 3), " "), lit("!"))
      val l3 = array_join(slice(tk, 7, 6), " ")
      val l4 = concat(array_join(slice(tk, 13, 6), " "), lit("?"))
      val l5 = concat(array_join(slice(tk, 19, 5), " "), lit(".\""))
      val lj = when(pmod(col("doc_id"), lit(5L)) === 0L,
        lit("please enable javascript to view this page."))
        .otherwise(concat(array_join(slice(tk, 4, 6), " "), lit(".")))
      val base6 = concat_ws("\n", l1, l2, l3, l4, l5, lj)
      val withLorem = when(pmod(col("doc_id"), lit(6L)) === 0L,
        concat(base6, lit("\nlorem ipsum dolor sit amet.")))
        .otherwise(base6)
      val shaped = when(pmod(col("doc_id"), lit(9L)) === 0L,
        concat(withLorem, lit("\nvar x = {")))
        .otherwise(withLorem)
      TextAnalysis.C4Clean(blockWords = Seq("dup"))
        .transform(docs(s, dir).withColumn("text", shaped))
        .select("doc_id", "n_lines", "kept_lines", "js_lines",
          "n_sentences", "block_hits", "has_brace", "has_lorem",
          "r_sentences", "r_brace", "r_lorem", "r_block", "admit",
          "clean_text", "clean_chars")
        .orderBy("doc_id")
    }, _ => OracleSql.c4Clean(5L, 3L, Seq("dup")),
      Some("SerializeFromObject")), // typed line-retention pass
    // per-doc unigram Shannon entropy: the repetitiveness / lexical-
    // diversity gate signal — one compiled map pass, no shuffle
    QuerySpec("text_entropy", (s, dir) =>
      TextAnalysis.TokenEntropy().transform(docs(s, dir))
        .select("doc_id", "lang", "entropy")
        .orderBy("doc_id"),
      _ => OracleSql.textEntropy,
      Some("SerializeFromObject")), // compiled map pass
    QuerySpec("sessionize", (s, dir) =>
      Sessionize("ts", 50000000000000L, Seq("user_id"), Seq("event_id"))
        .transform(events(s, dir))
        .select(col("user_id"), col("event_id"),
          col("session_id"))
        .orderBy("user_id", "event_id"),
      _ => OracleSql.sessionize(50000000000000L), Some("Window")),
    // per-session rollup: one row per (user, session) with event count,
    // start/end and duration — sessionize's one keyed shuffle, the agg
    // reuses its partitioning (no second exchange, pinned)
    QuerySpec("session_stats", (s, dir) =>
      SessionStats("ts", 50000000000000L, Seq("user_id"),
          Seq("event_id"))
        .transform(events(s, dir))
        .select(col("user_id"), col("session_id"),
          col("n_events"), col("session_start"), col("session_end"),
          col("duration"))
        .orderBy("user_id", "session_id"),
      _ => OracleSql.sessionStats(50000000000000L),
      Some("Window")), // same gap window + reused-partitioning agg
    QuerySpec("text_langid", (s, dir) =>
      TextAnalysis.LanguageId().transform(docs(s, dir))
        .select(col("doc_id") +:
          TextAnalysis.LangMarkers.map(m => col(s"score_${m._1}")) :+
          col("pred_lang"): _*)
        .orderBy("doc_id"),
      _ => OracleSql.textLangId, Some("SerializeFromObject")),
    QuerySpec("text_normalize", (s, dir) =>
      TextAnalysis.Normalize().transform(docs(s, dir))
        .select("doc_id", "norm_text", "norm_len", "norm_fp")
        .orderBy("doc_id"),
      _ => OracleSql.textNormalize, Some("regexp_replace")),
    QuerySpec("text_fingerprint", (s, dir) =>
      TextAnalysis.Fingerprint().transform(docs(s, dir))
        .select("doc_id", "md5_fp", "roll_fp")
        .orderBy("doc_id"),
      _ => OracleSql.textFingerprint, Some("SerializeFromObject")),
    // end-to-end ingest chain THROUGH the Pipeline framework (§2.12):
    // normalize -> quality gate -> keep-canonical exact dedup, each a
    // Stage; proves operator composition under the oracle gate and that
    // the map-side stages fuse (no extra shuffles vs the fused query)
    QuerySpec("pipeline_ingest", (s, dir) => {
      import graft.pipeline.{Pipeline, Stage}
      val p = new Pipeline(Seq(
        Stage(TextAnalysis.Normalize()),
        Stage.of("renorm")(df =>
          df.select(col("doc_id"), col("norm_text").as("text"))),
        Stage(TextAnalysis.QualityScore()),
        Stage.of("quality_gate")(_.filter(col("n_tokens") >= 20)),
        Stage(Dedup.ExactDedup()),
        Stage.of("keep_canonical")(_.filter(!col("is_dup")))))
      p.transform(docs(s, dir))
        .select("doc_id", "n_tokens", "quality_score", "content_fp")
        .orderBy("doc_id")
    }, _ => OracleSql.pipelineIngest(20L),
      Some("Join")), // ExactDedup's canonical-map join
    // the full curation chain end to end, every round-5 surface composed
    // through pipeline.Curation (normalize -> quality -> boilerplate ->
    // decontaminate -> gates -> near-dup canonical -> stratified sample
    // -> byte-balanced shards); see Curation.scala for the stage list
    // and the per-stage shuffle budget. Bench/oracle run the default
    // localCheckpoint phase cuts; `checkpointDir` switches both cuts and
    // the CC rounds to reliable checkpoint() for real clusters
    // (CurationSpec pins result equivalence of the two modes).
    QuerySpec("pipeline_curate", (s, dir) =>
      graft.pipeline.Curation.pipeline().transform(docs(s, dir))
        .select("doc_id", "lang", "n_chars", "n_tokens", "quality_score",
          "cum_bytes", "shard")
        .orderBy("doc_id"),
      _ => OracleSql.pipelineCurate(10L, 20L, 0.5, 0.2, 10L,
        Seq("en" -> 0.5, "de" -> 0.25), 0.1, "graft", 20000L),
      None), // CC loop runs eagerly inside the builder
    QuerySpec("text_repetition", (s, dir) =>
      TextAnalysis.RepetitionScore().transform(docs(s, dir))
        .select("doc_id", "n_2grams", "dup_2gram_ratio", "n_3grams",
          "dup_3gram_ratio", "repetition_score")
        .orderBy("doc_id"),
      _ => OracleSql.textRepetition, Some("SerializeFromObject")),
    // the synthetic documents carry no PII, so both engines append the
    // SAME deterministic doc_id-derived email/phone/IP before scrubbing —
    // the redaction behavior (not the corpus) is what the oracle pins
    QuerySpec("pii_scrub", (s, dir) => {
      val aug = docs(s, dir).withColumn("text", concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or +1 555-01"),
        (col("doc_id") % 100).cast("string"),
        lit(" at 10.1."), (col("doc_id") % 256).cast("string"),
        lit(".7")))
      TextAnalysis.PiiScrub().transform(aug)
        .select("doc_id", "n_emails", "n_ips", "n_phones", "scrub_len",
          "scrub_fp")
        .orderBy("doc_id")
    }, _ => OracleSql.piiScrub, Some("regexp_replace")),
    QuerySpec("dedup_exact", (s, dir) =>
      Dedup.ExactDedup().transform(docs(s, dir))
        .select("doc_id", "content_fp", "canonical_id", "is_dup")
        .orderBy("doc_id"),
      _ => OracleSql.dedupExact, Some("Join")),
    // maxDocFreq = 10: capped-set semantics — the doc-frequency guard the
    // operator exists for (a capped self-join: a kept shingle pairs at
    // most C(10, 2) docs)
    QuerySpec("dedup_ngram_jaccard", (s, dir) =>
      Dedup.NGramJaccard(maxDocFreq = 10L).transform(docs(s, dir))
        .orderBy("id_a", "id_b"),
      _ => OracleSql.dedupNGramJaccard(0.2, 10L), Some("Join")),
    QuerySpec("dedup_minhash_lsh", (s, dir) =>
      Dedup.MinHashLSHDedup().transform(docs(s, dir))
        .orderBy("id_a", "id_b"),
      _ => OracleSql.dedupMinHash(32, 8, 0.25), Some("Join")),
    QuerySpec("dedup_simhash", (s, dir) =>
      Dedup.SimHashDedup().transform(docs(s, dir))
        .orderBy("id_a", "id_b"),
      _ => OracleSql.dedupSimHash(32, 4, 3), Some("Join")),
    QuerySpec("dedup_clusters", (s, dir) =>
      Dedup.connectedComponents(
        Dedup.NGramJaccard(maxDocFreq = 10L).transform(docs(s, dir)))
        .orderBy("doc_id"),
      _ => OracleSql.dedupClusters(0.2, 10L), None),
    QuerySpec("dedup_embedding", (s, dir) =>
      Dedup.EmbeddingNearDup().transform(embs(s, dir))
        .orderBy("id_a", "id_b"),
      _ => OracleSql.dedupEmbedding(64, 4, 8, 0.4), Some("Join")),
    // SemDeDup: spherical k-means (2 Lloyd rounds, deterministic init)
    // + within-cluster cosine pruning; the oracle replays the FULL
    // clustering in SQL (integer-exact centers, one IEEE div/sqrt)
    QuerySpec("dedup_semantic", (s, dir) =>
      SemDedup(nClusters = 8, iterations = 2, threshold = 0.35)
        .transform(embs(s, dir))
        .select("vec_id", "cluster", "is_dup", "dup_of")
        .orderBy("vec_id"),
      // within-cluster pair join (Lloyd rounds run eagerly inside the
      // builder, as in the CC loop)
      _ => OracleSql.dedupSemantic(64, 8, 2, 0.35), Some("Join")),
    // incremental semantic ingest: vec_id % 4 == 0 is the new batch,
    // the rest of the corpus is represented by its (vec_id, cluster,
    // q, nrm) member index only — centers re-derive from the index, the
    // corpus embeddings are never re-clustered or re-scored
    QuerySpec("dedup_incr_semantic", (s, dir) => {
      val e = embs(s, dir)
      val idx = IncrementalSemDedup.memberIndex(
        e.filter(pmod(col("vec_id"), lit(4L)) =!= 0),
        nClusters = 8, iterations = 2)
      IncrementalSemDedup(idx, threshold = 0.35)
        .transform(e.filter(pmod(col("vec_id"), lit(4L)) === 0))
        .select("vec_id", "cluster", "is_known", "is_dup", "dup_of")
        .orderBy("vec_id")
    }, _ => OracleSql.dedupIncrementalSemantic(64, 8, 2, 0.35, 4L),
      Some("Join")), // batch x cluster-members join
    // incremental ingest: src0 is the new batch, the rest of the corpus
    // is represented by its fingerprint index only — the corpus text is
    // never re-shuffled to admit the batch
    QuerySpec("dedup_incr", (s, dir) => {
      val d = docs(s, dir)
      val idx = Dedup.IncrementalExactDedup.fingerprintIndex(
        d.filter(col("source") =!= "src0"))
      Dedup.IncrementalExactDedup(idx)
        .transform(d.filter(col("source") === "src0"))
        .select("doc_id", "content_fp", "is_known", "canonical_id",
          "is_dup")
        .orderBy("doc_id")
    }, _ => OracleSql.dedupIncremental("src0"),
      Some("Join")), // batch x fingerprint-index join
    // incremental NEAR-dup: the corpus is probed only through its
    // persisted MinHash signature/band indexes — batch text is the only
    // text that shingles
    QuerySpec("dedup_incr_minhash", (s, dir) => {
      val d = docs(s, dir)
      val corpusSigs = Dedup.IncrementalMinHashLSH.signatureIndex(
        d.filter(col("source") =!= "src0"))
      Dedup.IncrementalMinHashLSH(
          Dedup.IncrementalMinHashLSH.bandIndex(corpusSigs), corpusSigs)
        .transform(d.filter(col("source") === "src0"))
        .orderBy("known", "id_a", "id_b")
    }, _ => OracleSql.dedupIncrementalMinHash("src0", 32, 8, 0.25),
      Some("Join")), // batch bands x band-index probe
    // one-row whole-corpus analyst summary (the funnel_report motif at
    // corpus level): one shuffle of pre-aggregated partials
    QuerySpec("corpus_report", (s, dir) =>
      graft.operators.SourceQuality.CorpusReport()
        .transform(docs(s, dir))
        .select(col("n_docs"), col("n_sources"), col("n_langs"),
          col("total_chars"), round(col("mean_chars"), 6).as("mean_chars"),
          col("n_null_text"), col("distinct_classes"),
          round(col("dup_ratio"), 6).as("dup_ratio")),
      _ => OracleSql.corpusReport,
      Some("HashAggregate")), // one-row corpus summary
    // Gopher-style per-domain rollup + gate: filtering decided at the
    // SOURCE level, the stats table joins back (AQE-broadcast)
    QuerySpec("source_stats", (s, dir) =>
      SourceQuality.SourceStats().transform(docs(s, dir))
        .orderBy("source"),
      _ => OracleSql.sourceStats,
      Some("HashAggregate")), // per-source rollup agg
    QuerySpec("source_filter", (s, dir) =>
      SourceQuality.SourceFilter(minMeanChars = 290.0, maxDupRatio = 0.2)
        .transform(docs(s, dir))
        .select("doc_id", "source", "source_mean_chars",
          "source_dup_ratio")
        .orderBy("doc_id"),
      _ => OracleSql.sourceFilter(290.0, 0.2, 1L),
      Some("Join")), // stats table joined back to docs
    // full near-dup decision chain: candidate pairs -> clusters ->
    // keep-the-best-quality-doc-per-cluster (singletons always kept)
    QuerySpec("dedup_canonical", (s, dir) => {
      val d = docs(s, dir)
      val clusters = Dedup.connectedComponents(
        Dedup.NGramJaccard(maxDocFreq = 10L).transform(d))
      val scored = TextAnalysis.QualityScore().transform(d)
        .select("doc_id", "quality_score")
      Dedup.selectCanonical(scored, clusters)
        .select("doc_id", "component", "quality_score", "keep")
        .orderBy("doc_id")
    }, _ => OracleSql.dedupCanonical(0.2, 10L),
      None), // CC loop runs eagerly inside the builder
    // as-of join: each click picks the user's most recent prior purchase
    // (union-window formulation, ONE keyed shuffle); DuckDB re-derives it
    // with its native ASOF JOIN — independent algorithms, same answer
    QuerySpec("asof_join", (s, dir) =>
      AsOfJoin.AsOfJoinOp(
        _.filter(col("event_type") === "click")
          .select("user_id", "event_id"),
        _.filter(col("event_type") === "purchase")
          .select("user_id", "event_id", "value"),
        keyColumns = Seq("user_id"), leftTime = "event_id",
        rightTime = "event_id", payloadColumns = Seq("value"))
        .transform(events(s, dir))
        .orderBy("user_id", "event_id"),
      _ => OracleSql.asOfJoin, Some("Window")),
    // binned range join: clicks inside the 2-day window before each
    // purchase (bin-bucketed equi-join + residual — never a nested-loop
    // plan), rolled up per purchase with LEFT semantics
    QuerySpec("range_join", (s, dir) => {
      val ev = events(s, dir)
      val dayNs = 86400000000000L
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          (col("ts") - 2L * dayNs).as("lo"), col("ts").as("hi"))
      val matched = RangeJoin.join(
        points = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts")),
        ranges = purchases,
        keyColumns = Seq("user_id"), timeColumn = "ts",
        loColumn = "lo", hiColumn = "hi", binWidth = dayNs,
        rangePayload = Seq("purchase_id"))
      purchases.select("user_id", "purchase_id")
        .join(matched.groupBy("user_id", "purchase_id")
          .agg(count(lit(1)).as("n_clicks"),
            min("click_id").as("first_click_id")),
          Seq("user_id", "purchase_id"), "left")
        .select(col("user_id"), col("purchase_id"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          col("first_click_id"))
        .orderBy("user_id", "purchase_id")
    }, _ => OracleSql.rangeJoin(2L * 86400000000000L), Some("Join")),
    // ordered funnel: earliest signup -> first view at-or-after it ->
    // first purchase at-or-after that, per user; ONE keyed shuffle
    // (stacked conditional-min windows + same-key agg)
    QuerySpec("funnel_steps", (s, dir) =>
      Funnel(Seq("signup", "view", "purchase"))
        .transform(events(s, dir))
        .select("user_id", "t_signup", "t_view", "t_purchase",
          "steps_completed")
        .orderBy("user_id"),
      _ => OracleSql.funnelSteps, Some("Window")), // the conditional-min chain
    // aggregate funnel conversion report: per step, users reaching it
    // and conversion from the previous step — Funnel's one keyed
    // shuffle plus a single 1-row aggregate pivoted by a plan-time
    // explode (no second keyed shuffle)
    QuerySpec("funnel_report", (s, dir) =>
      FunnelReport(Seq("signup", "view", "purchase"))
        .transform(events(s, dir))
        .orderBy("step_index"),
      _ => OracleSql.funnelReport,
      Some("Window")), // same chain + 1-row pivot agg
    // binned interval-OVERLAP join (range x range): which view influence
    // windows [ts, ts+1d] intersect each purchase attribution window
    // [ts-2d, ts] per user — equi-join on (user, bin), each pair kept in
    // exactly ONE canonical bin (no distinct pass), exact residual
    QuerySpec("overlap_join", (s, dir) => {
      val ev = events(s, dir)
      val dayNs = 86400000000000L
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          (col("ts") - 2L * dayNs).as("p_lo"), col("ts").as("p_hi"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts").as("v_lo"), (col("ts") + dayNs).as("v_hi"))
      val matched = RangeJoin.overlapJoin(purchases, views,
        keyColumns = Seq("user_id"), leftLo = "p_lo", leftHi = "p_hi",
        rightLo = "v_lo", rightHi = "v_hi", binWidth = dayNs)
      purchases.select("user_id", "purchase_id")
        .join(matched.groupBy("user_id", "purchase_id")
          .agg(count(lit(1)).as("n_views"),
            min("view_id").as("first_view_id")),
          Seq("user_id", "purchase_id"), "left")
        .select(col("user_id"), col("purchase_id"),
          coalesce(col("n_views"), lit(0L)).as("n_views"),
          col("first_view_id"))
        .orderBy("user_id", "purchase_id")
    }, _ => OracleSql.overlapJoin(2L * 86400000000000L,
        86400000000000L), Some("Join")),
    // deterministic md5-threshold stratified sampling (training-mix
    // control): zero-shuffle map-side filter, stable across engines
    QuerySpec("sample_stratified", (s, dir) =>
      Sampling.StratifiedSample(Map("en" -> 0.5, "de" -> 0.25),
        defaultRate = 0.1)
        .transform(docs(s, dir))
        .select("doc_id", "lang", "sample_bucket")
        .orderBy("doc_id"),
      _ => OracleSql.sampleStratified(
        Seq("en" -> 0.5, "de" -> 0.25), 0.1, "graft"), Some("md5")),
    // fixed-COUNT companion: at most N docs per stratum, hash-order
    // selection; map-side bounded heaps keep the rank window input at
    // partitions*quota rows per stratum
    QuerySpec("sample_quota", (s, dir) =>
      Sampling.QuotaSample(Map("en" -> 120L, "de" -> 60L),
        defaultQuota = 25L)
        .transform(docs(s, dir))
        .select("doc_id", "lang", "sample_bucket", "quota_rank")
        .orderBy("doc_id"),
      _ => OracleSql.sampleQuota(
        Seq("en" -> 120L, "de" -> 60L), 25L, "graft"), Some("Window")),
    // token-budget mixture: keep hash-ordered docs per language while
    // the running token total fits the budget (exact two-phase prefix
    // sum, hash-range buckets — no whole-stratum sort anywhere)
    QuerySpec("mix_budget", (s, dir) =>
      Corpus.MixBudget(Map("en" -> 20000L, "de" -> 8000L),
        defaultBudget = 3000L)
        .transform(docs(s, dir))
        .select("doc_id", "lang", "n_tokens", "cum_tokens", "sample_bucket")
        .orderBy("doc_id"),
      _ => OracleSql.mixBudget(
        Seq("en" -> 20000L, "de" -> 8000L), 3000L, "graft"), Some("Window")),
    // the same mixture budgeted in an EXTERNAL per-document count
    // column (here the table's own n_chars — the tokenCountColumn
    // path a real BPE tokenizer's counts ride): the exact prefix-sum
    // algebra is unchanged, only the weight source moves
    QuerySpec("mix_budget_w", (s, dir) =>
      Corpus.MixBudget(Map("en" -> 100000L, "de" -> 40000L),
        defaultBudget = 15000L, tokenCountColumn = "n_chars")
        .transform(docs(s, dir))
        .select("doc_id", "lang", "n_tokens", "cum_tokens", "sample_bucket")
        .orderBy("doc_id"),
      _ => OracleSql.mixBudgetChars(
        Seq("en" -> 100000L, "de" -> 40000L), 15000L, "graft"),
      Some("Window")), // same prefix-sum core, external weights
    // DSIR importance resampling: docs scored by hashed-unigram
    // target-vs-raw log-likelihood ratio (src0 as the target domain),
    // exact deterministic top-20% kept via the equi-depth boundary-
    // bucket selection — no global sort
    // TRAINED quality gate (r15): fastText-style hashed-ngram linear
    // classifier, full-batch perceptron in exact integer arithmetic —
    // the src0 slice is the curated seed (the DSIR labeling contract);
    // the oracle replays every GD round (margins, misclassified
    // gradient, weight update) and the final scoring pass
    QuerySpec("quality_classifier", (s, dir) =>
      Classifier.QualityClassifier(positiveValue = "src0", rounds = 8)
        .transform(withSourceTag(docs(s, dir)))
        .select("doc_id", "quality_margin", "quality_keep")
        .orderBy("doc_id"),
      // perceptron rounds run eagerly inside the builder (the DSIR
      // checkpoint-cut convention); the lazy plan is the typed scoring
      // pass over the checkpointed feature arrays
      _ => OracleSql.qualityClassifier("src0", 1024, 8, tagged = true),
      Some("MapPartitions")),
    // ...on hashed BIGRAM features (tells shuffled word salad from
    // prose where unigrams cannot — the DSIR ngram=2 feature space);
    // same oracle-replayed GD rounds over the bigram posting
    QuerySpec("quality_clf_bigram", (s, dir) =>
      Classifier.QualityClassifier(positiveValue = "src0", rounds = 4,
          ngram = 2)
        .transform(withSourceTag(docs(s, dir)))
        .select("doc_id", "quality_margin", "quality_keep")
        .orderBy("doc_id"),
      _ => OracleSql.qualityClassifier("src0", 1024, 4, ngram = 2,
        tagged = true), Some("MapPartitions")), // bigram features
    // the PERSISTED weights artifact (r15): the trained gate's
    // deployable face — nonzero (feature, weight) cells out of the
    // same oracle-replayed GD rounds; Classifier.Score /
    // StreamingQualityGate consume it batch or stream
    QuerySpec("quality_weights", (s, dir) =>
      Classifier.weightsTable(withSourceTag(docs(s, dir)),
          positiveValue = "src0", rounds = 8)
        .select("feature", "weight")
        .orderBy("feature"),
      // the weights artifact: training runs eagerly in the builder
      // (checkpoint-cut rounds); the lazy plan is the tiny sparse frame
      _ => OracleSql.qualityWeights("src0", 1024, 8, tagged = true), None),
    QuerySpec("sample_dsir", (s, dir) =>
      Dsir.ImportanceResample(targetValue = "src0", fraction = 0.2)
        .transform(docs(s, dir))
        .select("doc_id", "dsir_score")
        .orderBy("doc_id"),
      // the literal bucket-id selection filter over the score cut; a
      // boundary rank window exists only when k falls inside a bucket
      _ => OracleSql.dsirResample("src0", 0.2, 4096, "graft"),
      Some("bucket_search")),
    // DSIR on hashed BIGRAM features (Xie et al. use n-gram feature
    // spaces): the codegen'd slice+arrays_zip bigram stream feeds the
    // same hashing, smoothing and exact no-global-sort selection
    QuerySpec("dsir_bigram", (s, dir) =>
      Dsir.ImportanceResample(targetValue = "src0", fraction = 0.2,
          ngram = 2)
        .transform(docs(s, dir))
        .select("doc_id", "dsir_score")
        .orderBy("doc_id"),
      _ => OracleSql.dsirResample("src0", 0.2, 4096, "graft",
        ngram = 2), Some("bucket_search")), // same selection, bigrams
    // the selection datasheet: what did the top-20% cut do to the
    // source mix — per-source in/kept/rate and exact kept score mass
    QuerySpec("dsir_report", (s, dir) =>
      Dsir.SelectionReport(targetValue = "src0", fraction = 0.2)
        .transform(docs(s, dir))
        .orderBy("source"),
      _ => OracleSql.dsirReport("src0", 0.2, 4096, "graft"),
      Some("bucket_search")),
    // DSIR at ingest: the src0 batch scored against feature counts
    // fitted on the REST of the corpus (src1 as the target domain),
    // top 25% of the batch kept — corpus text is never re-read;
    // unseen batch features score the zero-count smoothed ratio
    QuerySpec("dsir_incr", (s, dir) => {
      val d = docs(s, dir)
      val counts = Dsir.featureCounts(
        d.filter(col("source") =!= "src0"), "src1")
      Dsir.IncrementalResample(counts, fraction = 0.25)
        .transform(d.filter(col("source") === "src0"))
        .select("doc_id", "dsir_score")
        .orderBy("doc_id")
    }, _ => OracleSql.dsirIncremental("src0", "src1", 0.25, 4096, "graft"),
      Some("bucket_search")),
    // diversity-preserving subsample: IVF centroid assignment + per-
    // cluster hash-order quota (dense embedding regions capped, sparse
    // regions survive whole)
    QuerySpec("sample_cluster", (s, dir) =>
      Similarity.ClusterBalancedSample(nlist = 16, quota = 20L)
        .transform(embs(s, dir))
        .select("vec_id", "cluster_id", "sample_bucket", "cluster_rank")
        .orderBy("vec_id"),
      _ => OracleSql.clusterBalancedSample(64, 16, 20L, "graft"),
      Some("Window")),
    // unigram-LM quality filter: mean corpus log-probability per doc,
    // integer-scaled per-token logprobs (order-independent sums)
    QuerySpec("text_logprob", (s, dir) =>
      Corpus.UnigramLogProb().transform(docs(s, dir))
        .orderBy("doc_id"),
      _ => OracleSql.unigramLogProb, Some("Join")),
    // conditional bigram LM score (the next LM-filter rung: unigram
    // scoring cannot tell shuffled word salad from prose) — map-side
    // bigram generation, aggregate-to-aggregate score join, one
    // posting join on the bigram key
    QuerySpec("text_bigram_lp", (s, dir) =>
      Corpus.BigramLogProb().transform(docs(s, dir))
        .orderBy("doc_id"),
      _ => OracleSql.bigramLogProb,
      Some("Join")), // posting x per-bigram score table
    // context-window chunking (RAG / long-doc pretraining prep): pure
    // narrow map-side sequence+posexplode+slice, zero shuffle
    QuerySpec("chunk_split", (s, dir) =>
      ChunkSplit(chunkTokens = 32, overlapTokens = 8)
        .transform(docs(s, dir))
        .select("doc_id", "chunk_idx", "chunk_start", "n_chunk_tokens",
          "chunk_text")
        .orderBy("doc_id", "chunk_idx"),
      _ => OracleSql.chunkSplit(32, 8),
      Some("Generate")), // posexplode of the start list
    // chunking over an EXTERNAL token array (tokenArrayColumn — the
    // path a real tokenizer's output rides): BPE-ish regex tokens
    // computed upstream, same window/stride algebra
    QuerySpec("chunk_w", (s, dir) =>
      ChunkSplit(chunkTokens = 24, overlapTokens = 6,
          tokenArrayColumn = "btk")
        .transform(docs(s, dir).withColumn("btk", regexp_extract_all(
          lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))))
        .select("doc_id", "chunk_idx", "chunk_start", "n_chunk_tokens",
          "chunk_text")
        .orderBy("doc_id", "chunk_idx"),
      _ => OracleSql.chunkSplitBpe(24, 6),
      Some("Generate")), // same, external token array
    // deterministic training-order shuffle: exact md5-permutation
    // positions via the BucketPrefix census + seeded per-cell count,
    // round-robin shard interleave
    QuerySpec("shuffle_interleave", (s, dir) =>
      InterleaveShuffle(numShards = 8)
        .transform(docs(s, dir))
        .select("doc_id", "shuffle_key", "global_pos", "shard",
          "pos_in_shard")
        .orderBy("doc_id"),
      _ => OracleSql.interleaveShuffle(8, "graft"),
      Some("MapPartitions")), // the seeded per-cell count pass
    // phase-major curriculum: short-to-long length curriculum over
    // 32-token bands, uniformly shuffled WITHIN each band — the same
    // exact prefix-sum permutation as shuffle_interleave with a leading
    // phase key (one narrow keyed shuffle, never a global sort)
    QuerySpec("curriculum_order", (s, dir) =>
      CurriculumOrder(phaseColumn = "phase_bucket", numShards = 8)
        .transform(docs(s, dir).withColumn("phase_bucket",
          expr("size(split(trim(lower(text)), '\\\\s+')) div 32")))
        .select("doc_id", "phase", "shuffle_key", "global_pos", "shard",
          "pos_in_shard")
        .orderBy("doc_id"),
      _ => OracleSql.curriculumOrder(32, 8, "graft"),
      Some("MapPartitions")), // the seeded per-cell count pass
    // temperature-scaled source mixture (alpha = 0.5): flattens the
    // 20-source distribution before the exact per-source token-budget
    // prefix keep — sqrt weights held as scaled longs so the DuckDB
    // oracle reproduces the budgets bit-identically
    QuerySpec("mix_temperature", (s, dir) =>
      Corpus.MixTemperature(totalBudget = 10000L)
        .transform(docs(s, dir))
        .select("doc_id", "source", "n_tokens", "cum_tokens",
          "sample_bucket", "mix_budget")
        .orderBy("doc_id"),
      _ => OracleSql.mixTemperature(10000L, "graft"), Some("Window")),
    // temperature mixture in TOKENIZER-token units: TokenCount's
    // BPE-ish n_regex_tokens feeds tokenCountColumn, so the per-source
    // totals, sqrt weights, budgets and the prefix keep all run in the
    // external unit (the real-pipeline composition: a token-accounting
    // stage upstream of the mixer)
    QuerySpec("mix_temp_w", (s, dir) =>
      Corpus.MixTemperature(totalBudget = 12000L,
          tokenCountColumn = "n_regex_tokens")
        .transform(TextAnalysis.TokenCount().transform(docs(s, dir)))
        .select("doc_id", "source", "n_tokens", "cum_tokens",
          "sample_bucket", "mix_budget")
        .orderBy("doc_id"),
      _ => OracleSql.mixTemperatureBpe(12000L, "graft"),
      Some("Window")), // same core in regex-token units
    // epoch-aware upsampling (the multi-epoch data-recipe move): whole
    // epochs (de 3.0), fractional (zh 2.4, default 1.5 for es), source
    // drop (fr 0.0) and keep-once (en 1.0) all in one config; pure
    // map-side explode, realized multiplicity per-row deterministic
    QuerySpec("mix_epochs", (s, dir) =>
      Sampling.EpochUpsample(Map("en" -> 1.0, "zh" -> 2.4,
          "fr" -> 0.0, "de" -> 3.0), defaultEpochs = 1.5)
        .transform(docs(s, dir))
        .select("doc_id", "lang", "sample_bucket", "n_epochs", "epoch")
        .orderBy("doc_id", "epoch"),
      _ => OracleSql.mixEpochs(
        Seq("en" -> 1.0, "zh" -> 2.4, "fr" -> 0.0, "de" -> 3.0),
        1.5, "graft-epoch"), Some("Generate")), // the per-copy sequence explode
    // ...composed into the training order: each COPY keys the md5
    // permutation independently (copy_id = doc_id*100 + epoch,
    // collision-free under the maxEpochs cap), so an upsampled doc's
    // repeats spread across the order instead of clustering
    QuerySpec("epoch_interleave", (s, dir) =>
      InterleaveShuffle(numShards = 8, idColumn = "copy_id")
        .transform(Sampling.EpochUpsample(Map("en" -> 1.0,
            "zh" -> 2.4, "fr" -> 0.0, "de" -> 3.0), defaultEpochs = 1.5)
          .transform(docs(s, dir))
          .withColumn("copy_id", col("doc_id") * 100 + col("epoch")))
        .select("doc_id", "epoch", "copy_id", "shuffle_key",
          "global_pos", "shard", "pos_in_shard")
        .orderBy("copy_id"),
      _ => OracleSql.mixEpochsInterleave(
        Seq("en" -> 1.0, "zh" -> 2.4, "fr" -> 0.0, "de" -> 3.0),
        1.5, "graft-epoch", 8, "graft"),
      Some("MapPartitions")), // copies through the prefix count
    // per-group top-k by score: map-side bounded k-heaps prune before
    // the rank window (partitions x groups x k, never the corpus)
    QuerySpec("top_docs", (s, dir) =>
      Sampling.GroupTopK(k = 5L)
        .transform(docs(s, dir))
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"), col("group_rank"))
        .orderBy("doc_id"),
      _ => OracleSql.topDocsPerGroup(5L),
      Some("Window")), // rank over the heap-pruned survivors
    // exact per-group percentile normalization (cume-dist ties): the
    // chunked rank algebra ranks EVERY row with no whole-group window
    QuerySpec("pct_rank", (s, dir) =>
      PercentileRank(Seq("lang"), "n_chars")
        .transform(docs(s, dir))
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"),
          col("value_rank"), col("pct_rank"))
        .orderBy("doc_id"),
      _ => OracleSql.pctRank,
      Some("Window")), // the (group, bucket) cume window
    // per-language [p10, p90] length band: each language gated against
    // its OWN distribution via broadcast exact-quantile thresholds
    QuerySpec("quality_band", (s, dir) =>
      Corpus.QuantileBandFilter(Seq("lang"), "n_chars")
        .transform(docs(s, dir))
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"),
          col("band_lo").cast("long").as("band_lo"),
          col("band_hi").cast("long").as("band_hi"))
        .orderBy("doc_id"),
      _ => OracleSql.qualityBand(0.1, 0.9),
      Some("Window")), // QuantileStats' rank-location pass
    // per-group winsorization: clamp each language's n_chars into its
    // own exact [p10, p90] band — row-preserving robust-stats sibling
    // of quality_band; thresholds broadcast, clamp map-side
    QuerySpec("quality_winsor", (s, dir) =>
      Corpus.QuantileClamp(Seq("lang"), "n_chars", 0.1, 0.9)
        .transform(docs(s, dir))
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"),
          col("n_chars_winsor").cast("long").as("n_chars_winsor"),
          col("band_lo").cast("long").as("band_lo"),
          col("band_hi").cast("long").as("band_hi"))
        .orderBy("doc_id"),
      _ => OracleSql.qualityWinsor(0.1, 0.9),
      Some("Window")), // same rank-location thresholds
    // per-group median/IQR robust scaling: normalize quality features
    // ACROSS languages before any global gate — same threshold-table +
    // broadcast-join shape as the winsorization above
    QuerySpec("quality_robust", (s, dir) =>
      Corpus.RobustScale(Seq("lang"), "n_chars")
        .transform(docs(s, dir))
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"),
          col("n_chars_robust"),
          col("scale_lo").cast("long").as("scale_lo"),
          col("scale_med").cast("long").as("scale_med"),
          col("scale_hi").cast("long").as("scale_hi"))
        .orderBy("doc_id"),
      _ => OracleSql.qualityRobust(0.25, 0.75),
      Some("Window")), // same thresholds, 3 quantiles
    // the composed pretraining prep path: chunk the corpus, then pack
    // chunks into contiguous fixed-token-budget training sequences via
    // ShardPack's exact two-phase prefix sum (token weights, chunk-key
    // order) — chunk_split feeding shard_pack, nothing bespoke
    QuerySpec("sequence_pack", (s, dir) =>
      Corpus.ShardPack(orderColumn = "chunk_key",
          sizeColumn = "n_chunk_tokens", targetBytes = 256L)
        .transform(ChunkSplit(chunkTokens = 32, overlapTokens = 8)
          .transform(docs(s, dir))
          .withColumn("chunk_key",
            col("doc_id") * 100000L + col("chunk_idx")))
        .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
          col("cum_bytes").as("cum_tokens"), col("shard").as("pack_id"))
        .orderBy("doc_id", "chunk_idx"),
      _ => OracleSql.sequencePack(32, 8, 256L),
      Some("MapPartitions")), // ShardPack's typed pass
    // the same chunk->pack composition measured end-to-end in
    // TOKENIZER-token units: external BPE-ish token arrays drive the
    // chunker, and ShardPack's exact prefix sum packs on the resulting
    // per-chunk counts — proving the weighted path through BOTH stages
    QuerySpec("seq_pack_w", (s, dir) =>
      Corpus.ShardPack(orderColumn = "chunk_key",
          sizeColumn = "n_chunk_tokens", targetBytes = 256L)
        .transform(ChunkSplit(chunkTokens = 32, overlapTokens = 8,
            tokenArrayColumn = "btk")
          .transform(docs(s, dir).withColumn("btk", regexp_extract_all(
            lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"),
            lit(0))))
          .withColumn("chunk_key",
            col("doc_id") * 100000L + col("chunk_idx")))
        .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
          col("cum_bytes").as("cum_tokens"), col("shard").as("pack_id"))
        .orderBy("doc_id", "chunk_idx"),
      _ => OracleSql.sequencePackBpe(32, 8, 256L),
      Some("MapPartitions")), // same, BPE-ish chunk counts
    // the COMPOSED pretraining-prep path through the Pipeline framework:
    // per-language [p10, p90] length gate -> temperature-scaled source
    // mixture (budgets recomputed over the GATED corpus) -> context
    // chunking -> exact token-budget sequence packing. Every stage is
    // individually oracle-gated; this pins the composition (column
    // hand-offs, budget recomputation, row-preservation contracts)
    QuerySpec("pipeline_pretrain", (s, dir) => {
      import graft.pipeline.{Pipeline, Stage}
      val p = new Pipeline(Seq(
        Stage(Corpus.QuantileBandFilter(Seq("lang"), "n_chars")),
        Stage(Corpus.MixTemperature(totalBudget = 8000L)),
        Stage(ChunkSplit(chunkTokens = 32, overlapTokens = 8)),
        Stage.of("chunk_key")(_.withColumn("chunk_key",
          col("doc_id") * 100000L + col("chunk_idx"))),
        // lineage cut (same discipline as pipeline.Curation's phase
        // boundaries): ShardPack's two-phase prefix sum reads its input
        // twice — without the cut each pass recomputes the whole
        // band+mix+chunk chain (measured 6.2 s -> the cut removes the
        // recompute; on a cluster use Curation's reliable-checkpoint
        // variant instead)
        Stage.of("cut")(_.localCheckpoint()),
        Stage(Corpus.ShardPack(orderColumn = "chunk_key",
          sizeColumn = "n_chunk_tokens", targetBytes = 256L))))
      p.transform(docs(s, dir))
        .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
          col("cum_bytes").as("cum_tokens"), col("shard").as("pack_id"))
        .orderBy("doc_id", "chunk_idx")
    }, _ => OracleSql.pipelinePretrain(0.1, 0.9, 8000L,
        "graft", 32, 8, 256L), Some("MapPartitions")), // final ShardPack stage
    // the flagship pretraining-prep composition in the engine's OWN
    // token units (r14): band gate → BpeEncode against the corpus
    // vocab → temperature mixture budgeted in n_bpe_tokens → BPE-piece
    // chunking → exact prefix-sum pack, with the localCheckpoint cut
    // before ShardPack's two passes (the pipeline_pretrain discipline).
    // The oracle replays the vocab, the encode, the gate, the mixture
    // and the pack inside one query
    QuerySpec("pipeline_pretrain_bpe", (s, dir) => {
      import graft.pipeline.{Pipeline, Stage}
      val d = docs(s, dir)
      // the vocab is learned ONCE on the full corpus (an input
      // artifact, the fixture convention); the encode runs on the
      // GATED stream only — gate-then-encode is the scale-right order
      val vocab = Tokenize.VocabBuild().transform(d)
      val p = new Pipeline(Seq(
        Stage(Corpus.QuantileBandFilter(Seq("lang"), "n_chars")),
        // phase cut at the gate boundary (r17): the encode stage joins
        // the gated frame with its OWN typed encode — without the cut
        // the quantile-gate chain executes twice per downstream pass
        Stage.of("cut_gate")(_.localCheckpoint()),
        Stage.of("encode")(g => g.join(
          Tokenize.BpeEncode(vocab, emitPieces = true).transform(g),
          Seq("doc_id"))),
        // phase-boundary cut: MixTemperature's budget derivation and
        // its admission join are separate subtrees of one plan — each
        // would re-run the gate + trie encode without the cut
        Stage.of("cut_enc")(_.localCheckpoint()),
        Stage(Corpus.MixTemperature(totalBudget = 8000L,
          tokenCountColumn = "n_bpe_tokens")),
        Stage(ChunkSplit(chunkTokens = 24, overlapTokens = 6,
          tokenArrayColumn = "bpe_pieces")),
        Stage.of("chunk_key")(_.withColumn("chunk_key",
          col("doc_id") * 100000L + col("chunk_idx"))),
        Stage.of("cut")(_.localCheckpoint()),
        Stage(Corpus.ShardPack(orderColumn = "chunk_key",
          sizeColumn = "n_chunk_tokens", targetBytes = 256L))))
      p.transform(d)
        .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
          col("cum_bytes").as("cum_tokens"), col("shard").as("pack_id"))
        .orderBy("doc_id", "chunk_idx")
    }, _ => OracleSql.pipelinePretrainBpe(0.1, 0.9,
        8000L, "graft", 24, 6, 256L),
      Some("MapPartitions")), // final ShardPack stage
    // BM25 ranked retrieval (r16): lexical search over the corpus for a
    // query term set — per-term components on the 1e-6 integer lattice,
    // exact integer per-doc sums, TakeOrdered top-k
    QuerySpec("bm25_search", (s, dir) =>
      Bm25Search(queryTerms = Seq("spark", "window", "scan"), k = 25)
        .transform(docs(s, dir)),
      _ => OracleSql.bm25Search(
        Seq("spark", "window", "scan"), 25, 1.2, 0.75),
      Some("TakeOrderedAndProject")), // heap top-k, no window
    // the PERSISTED index face (r17): fit the posting artifact on the
    // even-doc half, fold the odd-doc half in (disjoint docs — the
    // fail-loud guard), probe without re-reading text; the oracle is
    // the whole-corpus BM25 derivation, so fold == refit == search is
    // what the hash certifies
    QuerySpec("bm25_incr", (s, dir) => {
      val d = docs(s, dir)
      val idx = Bm25Index.fit(d.filter(pmod(col("doc_id"), lit(2L)) === 0L))
      val folded = Bm25Index.foldBatch(idx,
        d.filter(pmod(col("doc_id"), lit(2L)) === 1L))
      Bm25Index.probe(folded,
        queryTerms = Seq("quality", "filter", "data"), k = 20)
    }, _ => OracleSql.bm25Search(
        Seq("quality", "filter", "data"), 20, 1.2, 0.75),
      Some("BroadcastHashJoin")), // df joins back broadcast
    QuerySpec("tfidf_topk", (s, dir) =>
      TfIdf(k = 3).transform(docs(s, dir))
        .orderBy("doc_id", "rank"),
      _ => OracleSql.tfIdfTopK(3), Some("Window"), zeroColumnScanOk = true),
    // the JSONL reader oracle-gated END TO END (r17): a deterministic
    // corpus slice exports through ShardPack + ShardedSink.writeJsonl
    // (gzip, shard=N layout), reads back through JsonlCorpus with the
    // EXPLICIT schema contract, and runs the Gopher rule gate over the
    // re-ingested frame; the DuckDB oracle reads the SAME gzipped
    // files with read_json — the reader's schema contract is what the
    // hash certifies, not a spec fixture. The export path is
    // sf-suffixed so the sf0.1 bench run never clobbers the sf0.01
    // artifact the oracle reads.
    QuerySpec("jsonl_ingest", (s, dir) => {
      val base = new java.io.File(dir).getName
      val path = s"/root/repo/target/jsonl_export_$base"
      val slice = docs(s, dir)
        .filter(pmod(col("doc_id"), lit(7L)) === 0L)
      val packed = Corpus.ShardPack(orderColumn = "doc_id",
        sizeColumn = "n_chars", targetBytes = 4096L).transform(slice)
      graft.sources.ShardedSink.writeJsonl(packed, path)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType)))
      val reread = graft.sources.JsonlCorpus.read(s, path, schema)
        .select("doc_id", "text", "lang", "source", "n_chars")
      TextAnalysis.GopherRules(minWords = 20L,
          stopwords = Seq("the", "a"))
        .transform(reread.withColumnRenamed("n_chars", "json_chars"))
        .select("doc_id", "lang", "source", "json_chars", "n_words",
          "stopword_hits", "admit")
        .orderBy("doc_id")
    }, sfBase => OracleSql.jsonlIngest(20L, 100000L,
        Seq("the", "a"), s"/root/repo/target/jsonl_export_$sfBase"),
      Some("Scan json")), // the JSONL reader under test
    // benchmark decontamination: every 50th doc plays the held-out eval
    // set; training docs are flagged by distinct-shingle overlap with it
    QuerySpec("decontaminate", (s, dir) =>
      Corpus.Decontaminate(_.filter(col("doc_id") % 50 === 0))
        .transform(docs(s, dir))
        .orderBy("doc_id"),
      _ => OracleSql.decontaminate("doc_id % 50 = 0", 1L), Some("Join")),
    // same semantics via the large-eval-set scale path: broadcast Bloom
    // prefilter on the posting stream, exact join resolves false
    // positives — bit-identical to `decontaminate` by construction
    QuerySpec("decontaminate_bloom", (s, dir) =>
      Corpus.Decontaminate(_.filter(col("doc_id") % 50 === 0),
        bloomPrefilter = true)
        .transform(docs(s, dir))
        .orderBy("doc_id"),
      _ => OracleSql.decontaminate("doc_id % 50 = 0", 1L), Some("Join")),
    // paraphrase-robust decontamination: MinHash near-dup flags against
    // the same held-out split (banded train-vs-eval join, never a
    // corpus self-join)
    QuerySpec("decontaminate_neardup", (s, dir) =>
      Corpus.NearDupDecontaminate(_.filter(col("doc_id") % 50 === 0),
        threshold = 0.2)
        .transform(docs(s, dir))
        .orderBy("doc_id"),
      _ => OracleSql.nearDupDecontaminate(
        "doc_id % 50 = 0", 32, 8, 0.2), Some("Join")),
    // the transposed audit: per EVAL doc, how much of it leaks into the
    // training corpus and from how many distinct training docs
    // (df-capped pair join — corpus-hot shingles never expand)
    QuerySpec("decontaminate_report", (s, dir) =>
      Corpus.ContaminationReport(_.filter(col("doc_id") % 50 === 0),
        maxDocFreq = 100L)
        .transform(docs(s, dir))
        .orderBy("doc_id"),
      _ => OracleSql.contaminationReport(
        "doc_id % 50 = 0", 100L), Some("Join")),
    QuerySpec("vocab_topk", (s, dir) =>
      Corpus.VocabTopK(k = 100).transform(docs(s, dir))
        .orderBy(col("term_freq").desc, col("token").asc),
      _ => OracleSql.vocabTopK(100), Some("TakeOrderedAndProject")),
    // span-level cross-document duplication (Lee et al. exact-substring
    // signal): duplicated 3-gram positions chain into maximal spans via
    // two per-doc windows; posting/df machinery never shuffles text
    QuerySpec("text_dupspans", (s, dir) =>
      Corpus.DupSpans().transform(docs(s, dir))
        .orderBy("doc_id"),
      _ => OracleSql.textDupSpans(3, 2L),
      Some("Window")), // the per-doc span-merge windows
    // ...and APPLIED: rebuild the canonical token stream with those
    // spans removed (the Lee-et-al trim step; anti-join + per-doc
    // bounded collect_list rebuild)
    QuerySpec("text_stripspans", (s, dir) =>
      Corpus.StripDupSpans().transform(docs(s, dir))
        .orderBy("doc_id"),
      _ => OracleSql.textStripSpans(3, 2L),
      Some("Window")), // same span machinery + rebuild
    // line-level corpus dedup APPLIED (CCNet's per-line move): the
    // synthetic multi-line docs carry a corpus-wide cookie banner and a
    // per-lang footer — at maxDocFreq=150 the banner and the en footer
    // (218 docs) strip, the minority-lang footers (<150 docs) survive
    // the composed ingest recipe (r15): gate (DSIR count table) →
    // strip (line index) → encode (corpus vocab) fused into ONE
    // stateless typed pass over the three persisted fit artifacts —
    // the batch face of StreamingCuration; the oracle re-derives
    // counts, hot set, vocab AND the encode in one SQL query
    QuerySpec("curation_recipe", (s, dir) => {
      val ml = docs(s, dir).select(col("doc_id"), col("source"),
        concat(col("text"),
          lit("\nCookie notice: accept all cookies\n"),
          col("lang"), lit(" footer")).as("text"))
      Curation.Recipe(
          Corpus.IncrementalHotLines.lineIndex(ml),
          Dsir.featureCounts(ml, "src0"),
          Tokenize.VocabBuild().transform(ml),
          minScore = 0L, maxDocFreq = 150L)
        .transform(ml)
        .select(col("doc_id"), col("dsir_score"), col("n_lines"),
          col("n_kept_lines"), col("clean_text"), col("n_bpe_tokens"),
          array_join(col("bpe_ids").cast("array<string>"), " ")
            .as("ids_str"))
        .orderBy("doc_id")
    }, _ => OracleSql.curationRecipe("src0", 0L, 4096, 150L),
      Some("MapPartitions")), // the fused typed pass
    // ...with the TRAINED gate composed in (r15): admission requires
    // the DSIR threshold AND the classifier margin > 0 (the CCNet
    // shape); the oracle replays counts, hot set, vocab, the
    // classifier GD rounds AND the encode in ONE query
    QuerySpec("curation_recipe_clf", (s, dir) => {
      val ml = docs(s, dir).select(col("doc_id"), col("source"),
        concat(col("text"),
          repeat(concat(lit(" tag_"), col("source")), 8),
          lit("\nCookie notice: accept all cookies\n"),
          col("lang"), lit(" footer")).as("text"))
      Curation.Recipe(
          Corpus.IncrementalHotLines.lineIndex(ml),
          Dsir.featureCounts(ml, "src0"),
          Tokenize.VocabBuild().transform(ml),
          minScore = 0L, maxDocFreq = 150L,
          classifierWeights = Some(Classifier.weightsTable(ml,
            positiveValue = "src0", rounds = 4)))
        .transform(ml)
        .select(col("doc_id"), col("dsir_score"), col("quality_margin"),
          col("n_lines"), col("n_kept_lines"), col("clean_text"),
          col("n_bpe_tokens"),
          array_join(col("bpe_ids").cast("array<string>"), " ")
            .as("ids_str"))
        .orderBy("doc_id")
    }, _ => OracleSql.curationRecipe("src0", 0L, 4096, 150L, clfRounds = 4),
      Some("MapPartitions")), // + trained gate
    // ...with the urlColumn leg wired (r16): UrlCanonicalize runs
    // FIRST (the codegen'd column chain), then the fused gate → strip
    // → encode typed pass; url_canonical threads to every admitted row
    // (NULL for malformed urls, the Web contract). Same artifacts as
    // curation_recipe — only the canonicalize leg differs
    QuerySpec("curation_recipe_url", (s, dir) => {
      val ml = withMessyUrl(docs(s, dir).select(col("doc_id"),
        col("source"),
        concat(col("text"),
          lit("\nCookie notice: accept all cookies\n"),
          col("lang"), lit(" footer")).as("text")))
      Curation.Recipe(
          Corpus.IncrementalHotLines.lineIndex(ml),
          Dsir.featureCounts(ml, "src0"),
          Tokenize.VocabBuild().transform(ml),
          minScore = 0L, maxDocFreq = 150L,
          urlColumn = Some("url"))
        .transform(ml)
        .select(col("doc_id"), col("url_canonical"), col("dsir_score"),
          col("n_lines"), col("n_kept_lines"), col("clean_text"),
          col("n_bpe_tokens"),
          array_join(col("bpe_ids").cast("array<string>"), " ")
            .as("ids_str"))
        .orderBy("doc_id")
    }, _ => OracleSql.curationRecipe("src0", 0L, 4096, 150L, withUrl = true),
      Some("MapPartitions")), // + canonicalize leg
    QuerySpec("text_striplines", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit("\nCookie notice: accept all cookies\n"),
          col("lang"), lit(" footer")).as("text"))
      Corpus.HotLineStrip(maxDocFreq = 150L).transform(d)
        .orderBy("doc_id")
    }, _ => OracleSql.textStripLines(150L),
      Some("Join")), // hot-line anti-join + rebuild
    // ...and its ingest-loop face: the corpus (even doc_ids) persists
    // only as the additive (line, doc_freq) index; the batch (odd ids)
    // strips against corpus ∪ batch frequencies without corpus text —
    // the oracle replays the df over the UNION and keeps batch rows
    QuerySpec("striplines_incr", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit("\nCookie notice: accept all cookies\n"),
          col("lang"), lit(" footer")).as("text"))
      Corpus.IncrementalHotLineStrip(
          Corpus.IncrementalHotLines.lineIndex(
            d.filter(col("doc_id") % 2 === 0)),
          maxDocFreq = 150L)
        .transform(d.filter(col("doc_id") % 2 === 1))
        .orderBy("doc_id")
    }, _ => OracleSql.textStripLines(150L,
        "m.doc_id % 2 = 1"), Some("Join")), // batch lines x the line index
    QuerySpec("stats_quantiles", (s, dir) =>
      Corpus.QuantileStats(Seq("lang"), "n_chars").transform(docs(s, dir))
        .orderBy("lang"),
      _ => OracleSql.statsQuantiles(
        Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)), Some("Window")),
    // exact distributed prefix sum (BucketPrefix over key-range buckets);
    // a 20 kB target yields a handful of shards at sf0.01. The operator is
    // row-preserving (every doc column passes through); the oracle
    // compares the packing columns, so project those
    QuerySpec("shard_pack", (s, dir) =>
      Corpus.ShardPack(targetBytes = 20000L).transform(docs(s, dir))
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("cum_bytes"), col("shard"))
        .orderBy("doc_id"),
      _ => OracleSql.shardPack(20000L), Some("MapPartitions")),
    // the per-pack manifest a trainer reads (r14, offsets r16): one
    // keyed rollup over the pack output — n_seqs, token total, pad to
    // budget, first/last key, plus the ordered intra-pack offset list
    // a loader seeks by (serialized seq_id:start_token for the oracle
    // hash, the bpe_ids array_to_string convention); straddling packs
    // exceed budget and pad 0
    QuerySpec("pack_manifest", (s, dir) =>
      Corpus.PackManifest(budgetBytes = 20000L).transform(
        Corpus.ShardPack(targetBytes = 20000L).transform(docs(s, dir)))
        .withColumn("seq_offsets_str",
          array_join(transform(col("seq_offsets"),
            o => concat(o("seq_id").cast("string"), lit(":"),
              o("start_token").cast("string"))), " "))
        .drop("seq_offsets")
        .orderBy("pack_id"),
      _ => OracleSql.packManifest(20000L),
      Some("HashAggregate")), // partial-agg pack rollup
    // bucketed-batching layout (r16): length-CLASS packing — sequences
    // pad only to their class band, not the corpus max, and packs cut
    // at a fixed sequence count per class. Skew-safe per-class rank via
    // the BucketPrefix count ShardPack also uses (never a per-class window)
    QuerySpec("len_bucket_pack", (s, dir) =>
      Corpus.LengthBucketPack(
          bands = Seq(16L, 24L, 32L, 48L, 64L, 96L, 128L), seqsPerPack = 8)
        .transform(TextAnalysis.TokenCount().transform(docs(s, dir))
          .select("doc_id", "n_tokens"))
        .withColumn("len_class", col("len_class").cast("long"))
        .select("doc_id", "n_tokens", "len_class", "class_tokens",
          "class_seq", "pack_id", "pad_tokens")
        .orderBy("doc_id"),
      _ => OracleSql.lengthBucketPack(
        Seq(16L, 24L, 32L, 48L, 64L, 96L, 128L), 8),
      Some("MapPartitions")), // seeded per-cell rank pass
    // the bucketed-batching manifest (r16): one row per (class, pack)
    // with counts, raw/pad token totals, key range and the ordered
    // seq_ids a loader indexes by — offsets are CLOSED-FORM here
    // (sequence i starts at i * class_tokens), unlike pack_manifest
    QuerySpec("len_bucket_manifest", (s, dir) =>
      Corpus.LengthBucketManifest()
        .transform(Corpus.LengthBucketPack(
            bands = Seq(16L, 24L, 32L, 48L, 64L, 96L, 128L),
            seqsPerPack = 8)
          .transform(TextAnalysis.TokenCount().transform(docs(s, dir))
            .select("doc_id", "n_tokens")))
        .withColumn("seq_ids_str", array_join(
          transform(col("seq_ids"), i => i.cast("string")), " "))
        .drop("seq_ids")
        .orderBy("len_class", "pack_id"),
      _ => OracleSql.lengthBucketManifest(
        Seq(16L, 24L, 32L, 48L, 64L, 96L, 128L), 8),
      Some("HashAggregate")), // (class, pack) rollup
    // the two newest extension surfaces composed end to end and
    // oracle-gated: the session-registered `long_array_dot` Catalyst
    // expression (SQL surface, codegen'd primitive loop) running INSIDE a
    // real org.apache.spark.ml.Pipeline of MLBridge FunctionTransformers.
    // Quantization uses the interpreted `transform` HOF — acceptable here
    // because it feeds a demo projection; the hot pair-scoring loops
    // elsewhere quantize via the same path once and reuse the arrays.
    QuerySpec("ml_quantized_dot", (s, dir) => {
      GraftExtensions.register(s)
      import org.apache.spark.ml.Pipeline
      import graft.pipeline.FunctionTransformer
      val quantize = FunctionTransformer("quantize", "scale" -> 10000.0d) {
        (df, p) =>
          val scale = p("scale").asInstanceOf[Double]
          df.select(col("vec_id"), transform(col("embedding"),
            x => round(x.cast("double") * scale).cast("long")).as("qvec"))
      }
      val selfDot = FunctionTransformer("self_dot") { (df, _) =>
        df.selectExpr("vec_id", "long_array_dot(qvec, qvec) AS self_dot")
      }
      new Pipeline().setStages(Array(quantize, selfDot))
        .fit(embs(s, dir)).transform(embs(s, dir))
        .orderBy("vec_id")
    }, _ => OracleSql.mlQuantizedDot, Some("long_array_dot")),
    QuerySpec("ann_bruteforce", (s, dir) =>
      Similarity.CosineTopK(df => df.filter(col("vec_id") < 8))
        .transform(embs(s, dir))
        .orderBy("query_id", "rank"),
      _ => OracleSql.annBruteForce(64, 5, 8), Some("Window")),
    QuerySpec("ann_lsh", (s, dir) =>
      Similarity.LshCosineTopK(df => df.filter(col("vec_id") < 8))
        .transform(embs(s, dir))
        .orderBy("query_id", "rank"),
      _ => OracleSql.annLsh(64, 8, 5, 8), Some("Window")),
    // multi-table LSH: 4 independent 6-bit tables union their bucket
    // collisions before the exact re-rank — the recall knob over the
    // single-table variant above
    QuerySpec("ann_lsh_multi", (s, dir) =>
      Similarity.LshCosineTopK(df => df.filter(col("vec_id") < 8),
        planes = 6, tables = 4)
        .transform(embs(s, dir))
        .orderBy("query_id", "rank"),
      _ => OracleSql.annLshMulti(64, 6, 4, 5, 8), Some("Window")),
    QuerySpec("ann_ivf", (s, dir) =>
      Similarity.IvfTopK(df => df.filter(col("vec_id") < 8))
        .transform(embs(s, dir))
        .orderBy("query_id", "rank"),
      _ => OracleSql.annIvf(64, 16, 4, 5, 8), Some("Window")),
    // the ingest-loop ANN: the corpus (vec_id >= 8) is fitted ONCE into
    // the persisted member index, and the query batch (vec_id < 8,
    // disjoint) probes it without re-clustering — the oracle replays
    // fit + probe end-to-end
    QuerySpec("ann_ivf_incr", (s, dir) => {
      val e = embs(s, dir)
      Similarity.IncrementalIvfTopK(
          Similarity.IncrementalIvf.memberIndex(
            e.filter(col("vec_id") >= 8)))
        .transform(e.filter(col("vec_id") < 8))
        .orderBy("query_id", "rank")
    }, _ => OracleSql.annIvfIncr(64, 16, 4, 5, 8),
      Some("Window")), // probe join + the rank window
    // IVF-PQ with exact refine: the billion-vector-scale index shape —
    // members carry m=8 codes + norm instead of the 64-dim vector; the
    // oracle replays codebook pick, code assignment, ADC scan, shortlist
    // and exact re-rank end-to-end
    QuerySpec("ann_ivf_pq", (s, dir) =>
      SimilarityPq.IvfPqTopK(df => df.filter(col("vec_id") < 8))
        .transform(embs(s, dir))
        .orderBy("query_id", "rank"),
      // refine path (the four ann_ivf_pq* queries): the ADC/projected scan
      // runs eagerly inside the builder since the exactRerank shortlist
      // cut (timed — the builder runs inside the timed thunk, the DSIR
      // convention); the lazy plan keeps the broadcast re-rank joins
      _ => OracleSql.annIvfPq(64, 16, 4, 8, 16, 5, 4, 8),
      Some("BroadcastHashJoin")),
    // ...with PROJECTION-RESIDUAL encoding (r15): the IVFADC
    // decomposition under cosine assignment — codes quantize
    // x − round(α̂c/S) (α̂ the scaled projection coefficient, one extra
    // long per member), the ADC adds the exact per-(query, list)
    // centroid term back; measured recall@5 at refine=4: 0.400 vs the
    // raw-vector 0.325 (AnnRecall, COVERAGE.md). The oracle replays
    // α̂, residuals, the OFFSET codebook pick and the decomposed ADC.
    QuerySpec("ann_ivf_pq_res", (s, dir) =>
      SimilarityPq.IvfPqTopK(df => df.filter(col("vec_id") < 8),
          residual = true)
        .transform(embs(s, dir))
        .orderBy("query_id", "rank"),
      _ => OracleSql.annIvfPqRes(64, 16, 4, 8, 16, 5, 4, 8),
      Some("BroadcastHashJoin")), // refine path, as ann_ivf_pq
    // ...with TRAINED codebooks: two Lloyd rounds of per-subspace
    // integer k-means (the quality step FAISS calls training the PQ);
    // the oracle replays the TRAINING round by round, then the same
    // ADC + shortlist + exact refine against the final codebooks
    QuerySpec("ann_ivf_pq_t", (s, dir) =>
      SimilarityPq.IvfPqTopK(df => df.filter(col("vec_id") < 8),
          train = 2, cacheCorpus = true)
        .transform(embs(s, dir))
        .orderBy("query_id", "rank"),
      _ => OracleSql.annIvfPqTrained(64, 16, 4, 8, 16, 5, 4,
        8, 2), Some("BroadcastHashJoin")), // refine path, as ann_ivf_pq
    // persisted-index IVF-PQ: the corpus (vec_id >= 8) fits ONCE into
    // the compressed index (codes + norm; full vectors only on the
    // pick rows it re-derives its quantizers from), the batch probes
    // it, and the exact re-rank joins the shortlist back to the
    // full-vector corpus — fit + probe + refine replayed end-to-end
    QuerySpec("ann_ivf_pq_incr", (s, dir) => {
      val e = embs(s, dir)
      val corpus = e.filter(col("vec_id") >= 8)
      SimilarityPq.IncrementalIvfPqTopK(
          SimilarityPq.IncrementalIvfPq.memberIndex(corpus),
          refineWith = Some(corpus))
        .transform(e.filter(col("vec_id") < 8))
        .orderBy("query_id", "rank")
    }, _ => OracleSql.annIvfPqIncr(64, 16, 4, 8, 16, 5, 4, 8),
      Some("BroadcastHashJoin")),
    // SRP prefilter + exact refine: the reduce-then-search architecture
    // — the scan runs over rdim=16 deterministic ±1 projections, only
    // the k*refine shortlist touches full vectors; oracle replays the
    // projection, the projected-space shortlist and the exact re-rank
    // residual + TRAINED composition (r15): the best-recall config
    // measured (0.450 at refine=4 — AnnRecall) — Lloyd rounds run in
    // RESIDUAL space; the oracle replays residual derivation, the
    // residual-space training rounds, the decomposed ADC and refine
    QuerySpec("ann_ivf_pq_rt", (s, dir) =>
      SimilarityPq.IvfPqTopK(df => df.filter(col("vec_id") < 8),
          residual = true, train = 2, cacheCorpus = true)
        .transform(embs(s, dir))
        .orderBy("query_id", "rank"),
      _ => OracleSql.annIvfPqResTrained(64, 16, 4, 8, 16, 5, 4, 8, 2),
      Some("BroadcastHashJoin")), // refine path, as ann_ivf_pq
    // the residual encode on the PERSISTED index (r15): fit the
    // compressed index with per-member α̂ + residual codes (the pick
    // widens to nlist + ksub — residual codebooks need rows beyond
    // the centroids), probe with the decomposed ADC + exact refine
    QuerySpec("ann_pq_incr_res", (s, dir) => {
      val e = embs(s, dir)
      val corpus = e.filter(col("vec_id") >= 8)
      SimilarityPq.IncrementalIvfPqTopK(
          SimilarityPq.IncrementalIvfPq.memberIndex(corpus,
            residual = true),
          refineWith = Some(corpus), residual = true)
        .transform(e.filter(col("vec_id") < 8))
        .orderBy("query_id", "rank")
    }, _ => OracleSql.annIvfPqIncrRes(64, 16, 4, 8, 16, 5, 4, 8),
      Some("BroadcastHashJoin")),
    QuerySpec("ann_srp", (s, dir) =>
      Projection.SrpTopK(df => df.filter(col("vec_id") < 8))
        .transform(embs(s, dir))
        .orderBy("query_id", "rank"),
      _ => OracleSql.annSrp(64, 16, 5, 4, 8), Some("BroadcastHashJoin")),
    QuerySpec("text_boilerplate", (s, dir) =>
      // maxDocFreq 10 on the 500-doc synthetic corpus: the template
      // n-grams of the generator actually trip the hot threshold
      Corpus.BoilerplateScore(maxDocFreq = 10L).transform(docs(s, dir))
        .orderBy("doc_id"),
      _ => OracleSql.textBoilerplate(10L), Some("Join")),
    // mm_*: REAL javax.imageio decode over generated PNG/GIF payloads.
    // Oracle-compared columns are the ones with closed forms in doc_id
    // (byte_len / resized_fp / resized_payload are encoder-dependent —
    // pinned in MultimodalSpec instead, where Scala can decode).
    QuerySpec("mm_resize", (s, dir) =>
      // 40x30 box: generated dims run 16..112 x 16..68, so the integer
      // scale denominator actually varies (1..3) instead of sitting at 1
      Multimodal.Resize(maxW = 40L, maxH = 30L).transform(media(s, dir))
        .select("doc_id", "fmt", "width", "height", "scale_den",
          "out_w", "out_h", "corner_px")
        .orderBy("doc_id"),
      _ => OracleSql.mmResize(40L, 30L), Some("SerializeFromObject")),
    QuerySpec("mm_features", (s, dir) =>
      Multimodal.MediaFeatures().transform(media(s, dir))
        .drop("byte_len")
        .orderBy("doc_id"),
      _ => OracleSql.mmFeatures, Some("SerializeFromObject")),
    QuerySpec("mm_framesample", (s, dir) =>
      Multimodal.FrameSample().transform(
        Multimodal.MediaFeatures().transform(media(s, dir)))
        .orderBy("doc_id", "frame_idx"),
      _ => OracleSql.mmFrameSample, Some("SerializeFromObject")),
    // REAL javax.sound.sampled WAV decode: header fields + sample-level
    // probes (first sample, sum over EVERY decoded PCM sample) against
    // the generator's closed forms — byte_len stays out of the oracle
    // (container-header detail), pinned in MultimodalSpec instead
    QuerySpec("mm_audio", (s, dir) =>
      Multimodal.AudioFeatures().transform(audio(s, dir))
        .select("doc_id", "fmt", "sample_rate", "channels", "n_frames",
          "duration_ms", "first_sample", "sample_sum")
        .orderBy("doc_id"),
      _ => OracleSql.mmAudio,
      Some("SerializeFromObject")), // typed WAV-decode map pass
    // REAL MJPEG-in-AVI decode (r13, the stub retired): RIFF container
    // walk + per-frame javax.imageio JPEG decode; corner_px/corner_sum
    // are pixel probes over frame 0 / EVERY frame — byte_len stays out
    // of the oracle (encoder-dependent), pinned in VideoSpec instead
    QuerySpec("mm_video", (s, dir) =>
      Multimodal.VideoFeatures().transform(video(s, dir))
        .select("doc_id", "fmt", "width", "height", "n_frames", "fps_num",
          "fps_den", "duration_ms", "corner_px", "corner_sum")
        .orderBy("doc_id"),
      _ => OracleSql.mmVideo,
      Some("SerializeFromObject")), // typed AVI-decode map pass
    // the demux leg: the auds stream's interleaved PCM chunks extracted
    // and folded byte-by-byte into oracle-checked probes; silent
    // containers are the explicit empty class
    QuerySpec("mm_demux", (s, dir) =>
      Multimodal.VideoAudioDemux().transform(video(s, dir))
        .orderBy("doc_id"),
      _ => OracleSql.mmDemux,
      Some("SerializeFromObject")), // typed AVI-demux map pass
    // URL canonicalization: scheme/host case, www., default ports,
    // slash runs, tracking params, param order and fragments all
    // collapse; malformed urls yield the null class — pure codegen'd
    // regex algebra, replayed verbatim by the oracle
    // REAL Structured Streaming execution under the oracle gate
    // (round-11 verdict stretch #8): the events file STREAMS through
    // StreamingQuantileStats (windowed Greenwald–Khanna per day x
    // event_type) into a complete-mode memory sink — deterministic
    // (every window emitted, no append-mode watermark races), and
    // EXACT here because every window holds far fewer rows than the
    // sketch accuracy, so the DuckDB oracle can replay it as discrete
    // quantiles. The streaming work runs eagerly inside the builder
    // (the CC-loop convention; plan signature None)
    QuerySpec("win_quantiles", (s, dir) => {
      val out = new graft.streaming.StreamingQuantileStats(
        Seq("event_type"), "value", Seq(0.5, 0.9),
        windowDuration = "1 day").transform(eventStream(s, dir))
      runToMemorySink(out)
        .select((unix_micros(col("window_start")) * lit(1000L))
            .as("w_start"),
          col("event_type"), col("n"), col("p50"), col("p90"))
        .orderBy("w_start", "event_type")
    }, _ => OracleSql.winQuantiles,
      None), // the streaming query runs eagerly inside the builder
    QuerySpec("url_canonical", (s, dir) =>
      Web.UrlCanonicalize().transform(webUrls(s, dir))
        .select("doc_id", "url", "url_canonical", "host")
        .orderBy("doc_id"),
      _ => OracleSql.urlCanonical,
      Some("regexp_replace")), // the canonical regex chain
    // stream-static quantile GATING — the composition the
    // StreamingQuantileStats scaladoc promises (r12 verdict stretch
    // #8): phase 1 emits per-(window, event_type) p90 thresholds
    // through REAL microbatch execution; phase 2 joins them back onto
    // the NEXT window's stream as the gate (stream-static inner join,
    // stateless, append mode — no watermark races) and keeps events at
    // or under their group's PREVIOUS-window p90. First-window events
    // have no threshold yet and are not admitted (the conservative
    // gate convention; the oracle replays the same rule)
    QuerySpec("win_gate", (s, dir) => {
      val th = runToMemorySink(new graft.streaming.StreamingQuantileStats(
          Seq("event_type"), "value", Seq(0.9), windowDuration = "1 day")
        .transform(eventStream(s, dir)))
        .select(col("window_end").as("th_end"),
          col("event_type").as("th_type"), col("p90"))
      val evs = eventStream(s, dir)
        .withColumn("w_start",
          window(col("ts"), "1 day").getField("start"))
      val gated = evs
        .join(th, col("w_start") === col("th_end") &&
          col("event_type") === col("th_type"))
        .filter(col("value") <= col("p90"))
        .select(col("event_id"),
          (unix_micros(col("w_start")) * lit(1000L)).as("w_start"),
          col("event_type"), col("value"), col("p90"))
      runToMemorySink(gated, "append").orderBy("event_id")
    }, _ => OracleSql.winGate,
      None), // two eager streaming phases (thresholds, gate)
    // the second streaming oracle row: SLIDING windows (2-day windows
    // every 1 day — each event attributes to exactly two windows)
    // through StreamingWindowedStats over integer-cents values, so
    // sums are exact and the DuckDB replay is bit-identical
    QuerySpec("win_stats", (s, dir) => {
      val evs = eventStream(s, dir)
        .withColumn("vc", round(col("value") * 100).cast("long"))
      val out = new graft.streaming.StreamingWindowedStats("2 days",
          Some("1 day"), keyColumn = "event_type", tsColumn = "ts",
          valueColumn = "vc").transform(evs)
      val t = runToMemorySink(out)
      t.select((unix_micros(col("window_start")) * lit(1000L))
            .as("w_start"),
          col("event_type"), col("n_events"), col("sum_value"),
          col("max_value"))
        .orderBy("w_start", "event_type")
    }, _ => OracleSql.winStats,
      None), // same eager streaming-to-memory-sink shape
    // per-host rollup over the canonicalized urls (docs, distinct
    // canonical urls with the null-malformed class, dup ratio) — the
    // host-level gate input (SourceFilter with sourceColumn = host)
    QuerySpec("host_stats", (s, dir) =>
      Web.HostStats().transform(webUrls(s, dir))
        .orderBy("host"),
      _ => OracleSql.hostStats,
      Some("HashAggregate")), // per-host partial-agg rollup
    // host-level gating as pure composition: canonicalize, then the
    // EXISTING SourceFilter gates documents by their HOST's text-
    // quality rollup (sourceColumn = host; the null/malformed host is
    // a real class through the null-safe join)
    QuerySpec("host_filter", (s, dir) =>
      graft.operators.SourceQuality.SourceFilter(minMeanChars = 299.0,
          sourceColumn = "host")
        .transform(Web.UrlCanonicalize().transform(
          withMessyUrl(docs(s, dir))))
        .select("doc_id", "host", "source_mean_chars", "source_dup_ratio")
        .orderBy("doc_id"),
      _ => OracleSql.hostFilter(299.0),
      Some("Join")), // host stats joined back null-safely
    // native greedy longest-match subword encode (WordPiece MaxMatch)
    // against a corpus-derived vocab the query builds as "the caller":
    // top-10 whole words, every single character in first AND
    // continuation form (coverage guarantee), top-10 3-char suffix
    // continuation pieces. Ids = rank of the piece string, so both
    // engines number identically. The oracle replays the ENCODE itself
    // with a step table + recursive CTE — not a fixture of expected ids
    QuerySpec("bpe_encode", (s, dir) => {
      val d = docs(s, dir)
      Tokenize.BpeEncode(bpeFixtureVocab(d)).transform(d)
        .select(col("doc_id"), col("n_bpe_tokens"),
          array_join(col("bpe_ids").cast("array<string>"), " ").as("ids_str"))
        .orderBy("doc_id")
    }, _ => OracleSql.bpeEncode,
      Some("MapPartitions")), // broadcast-vocab trie encode
    // the Unigram-LM score artifact (r16 — sentencepiece's OTHER
    // inference model): one MaxMatch counting pass over the corpus,
    // add-one smoothing, the exact-integer 1e6 ln lattice
    QuerySpec("unigram_scores", (s, dir) => {
      val d = docs(s, dir)
      Tokenize.UnigramScores(bpeFixtureVocab(d)).transform(d)
        .orderBy("id")
    },
      // r17: the MaxMatch counting pass runs eagerly inside the builder
      // (one bounded collect — timed, the DSIR convention); the lazy plan
      // keeps the smoothed-lattice score join over the vocab
      _ => OracleSql.unigramScores, Some("Join")),
    // ...and max-likelihood Viterbi inference over it: per word the
    // piece sequence maximizing total integer score (tie: fewer
    // tokens, then longer final piece) — the oracle replays the DP
    // cell-for-cell as a recursive state-row CTE
    QuerySpec("unigram_encode", (s, dir) => {
      val d = docs(s, dir)
      val sc = Tokenize.UnigramScores(bpeFixtureVocab(d)).transform(d)
      Tokenize.UnigramEncode(sc).transform(d)
        .select(col("doc_id"), col("n_bpe_tokens"),
          array_join(col("bpe_ids").cast("array<string>"), " ").as("ids_str"))
        .orderBy("doc_id")
    }, _ => OracleSql.unigramEncode,
      Some("MapPartitions")), // broadcast-scores Viterbi DP
    // ...and ONE HARD-EM refinement round (Viterbi-EM): re-segment the
    // corpus under the round-0 scores, recount by id, rescore, encode
    // under the refined table — the oracle chains BOTH full DP replays
    QuerySpec("unigram_em", (s, dir) => {
      val d = docs(s, dir)
      val sc = Tokenize.UnigramScores(bpeFixtureVocab(d), emRounds = 1)
        .transform(d)
      Tokenize.UnigramEncode(sc).transform(d)
        .select(col("doc_id"), col("n_bpe_tokens"),
          array_join(col("bpe_ids").cast("array<string>"), " ").as("ids_str"))
        .orderBy("doc_id")
    }, _ => OracleSql.unigramEm,
      Some("MapPartitions")), // hard-EM round + second DP
    // ...and Kudo §3.2 vocabulary PRUNING (r17): one Viterbi E-step,
    // the lowest-count removable fifth of the vocab dropped (single-
    // codepoint pieces protected), survivors rescored with T'/V' —
    // the target is derived so ONE round reaches it, and the oracle
    // replays the DP, the recount, the drop pick and the rescore
    QuerySpec("unigram_prune", (s, dir) => {
      val d = docs(s, dir)
      val vocab = bpeFixtureVocab(d)
      val pieces = vocab.select(col("piece").cast("string"))
        .collect().map(_.getString(0))
      val removable = pieces.count { p =>
        val core = if (p.startsWith("##")) p.substring(2) else p
        core.codePointCount(0, core.length) != 1
      }
      val target = pieces.length - math.max(1, removable / 5)
      Tokenize.UnigramScores(vocab, pruneTo = Some(target)).transform(d)
        .orderBy("id")
    },
      // prune loop runs eagerly; output is the driver-bounded pruned score
      // table (LocalRelation)
      _ => OracleSql.unigramPrune, None),
    // the LEARN leg: the vocab construction itself is an operator and
    // its derivation (frequency ranks, char coverage, suffix pieces,
    // piece-rank ids) is oracle-replayed row for row
    QuerySpec("bpe_vocab", (s, dir) =>
      Tokenize.VocabBuild().transform(docs(s, dir))
        .select("piece", "id")
        .orderBy("id"),
      _ => OracleSql.bpeVocab,
      Some("HashAggregate")), // bounded frequency aggs + ranks
    // the end-to-end composition the tokenizer exists for: the engine's
    // OWN encode (emitPieces) drives the chunker's external-token path —
    // no regex stand-in, no externally-supplied column
    QuerySpec("chunk_bpe", (s, dir) => {
      val d = docs(s, dir)
      val enc = Tokenize.BpeEncode(bpeFixtureVocab(d), emitPieces = true)
        .transform(d)
      ChunkSplit(chunkTokens = 24, overlapTokens = 6,
          tokenArrayColumn = "bpe_pieces")
        .transform(enc)
        .select("doc_id", "chunk_idx", "chunk_start", "n_chunk_tokens",
          "chunk_text")
        .orderBy("doc_id", "chunk_idx")
    }, _ => OracleSql.chunkBpe(24, 6),
      Some("MapPartitions")), // encode feeds the chunker
    // the FULL pretraining-prep chain in engine units: learn (vocab) →
    // encode (pieces) → chunk (windows) → pack (exact prefix sum) —
    // every stage the engine's own, nothing externally supplied
    QuerySpec("seq_pack_bpe", (s, dir) => {
      val d = docs(s, dir)
      val enc = Tokenize.BpeEncode(bpeFixtureVocab(d), emitPieces = true)
        .transform(d)
      Corpus.ShardPack(orderColumn = "chunk_key",
          sizeColumn = "n_chunk_tokens", targetBytes = 256L)
        .transform(ChunkSplit(chunkTokens = 24, overlapTokens = 6,
            tokenArrayColumn = "bpe_pieces")
          .transform(enc)
          .withColumn("chunk_key",
            col("doc_id") * 100000L + col("chunk_idx"))
          // lineage cut before ShardPack's two passes (see seq_pack_ranked)
          .localCheckpoint())
        .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
          col("cum_bytes").as("cum_tokens"), col("shard").as("pack_id"))
        .orderBy("doc_id", "chunk_idx")
    }, _ => OracleSql.seqPackBpeNative(24, 6, 256L),
      Some("MapPartitions")), // encode->chunk->pack chain
    // the encode over NON-BMP text (r14): surrogate-pair emoji/musical
    // symbols, CJK, combining marks — topWords=2 so words genuinely
    // split into char pieces (surrogate chars in BOTH forms) and
    // suffix continuation pieces; the oracle counts codepoints, the
    // engine walks UTF-16 units, and the hash match pins the seam
    QuerySpec("bpe_enc_uni", (s, dir) => {
      val u = withUniText(docs(s, dir))
      Tokenize.BpeEncode(Tokenize.VocabBuild(topWords = 2).transform(u))
        .transform(u)
        .select(col("doc_id"), col("n_bpe_tokens"),
          array_join(col("bpe_ids").cast("array<string>"), " ").as("ids_str"))
        .orderBy("doc_id")
    }, _ => OracleSql.bpeEncUni,
      Some("MapPartitions")), // trie encode over non-BMP text
    // REAL BPE merge learning (r14): iterative pair-merge selection —
    // the oracle replays every merge ROUND (pair counts, deterministic
    // argmax, greedy left-to-right apply) as recursive-CTE list
    // algebra, then re-derives the same (piece, id, merge_rank) table
    QuerySpec("bpe_learn", (s, dir) =>
      Tokenize.BpeLearn(nMerges = 20).transform(docs(s, dir))
        .select("piece", "id", "merge_rank")
        .orderBy("id"),
      _ => OracleSql.bpeLearn(20),
      Some("HashAggregate")), // per-round pair-count aggs
    // DEEP-VOCAB batched learning (r15): up to 8 non-interacting
    // merges per round from the bounded top-64 candidate window —
    // rounds (the serial driver barrier) cut by ~the batch factor,
    // the distributed-BPE trade documented on the operator; the
    // oracle replays the batched rounds (sort, distinct-dedup,
    // window, greedy non-interacting selection, one multi-pair fold)
    QuerySpec("bpe_learn_deep", (s, dir) =>
      Tokenize.BpeLearn(nMerges = 48, batchMerges = 8)
        .transform(docs(s, dir))
        .select("piece", "id", "merge_rank")
        .orderBy("id"),
      _ => OracleSql.bpeLearnDeep(48, 8),
      Some("HashAggregate")), // batched rounds, same aggs
    // merge-RANK-ORDER inference (r15): real BPE encoding — the
    // lowest-rank adjacent merge applies first (re-picked globally
    // each step), driven by the merge_rank column the learn emits;
    // segments differently from greedy MaxMatch on real vocabs
    // (TokenizeRankedSpec exhibits the divergence). The oracle replays
    // the learn AND the rank-order application itself.
    QuerySpec("bpe_enc_ranked", (s, dir) => {
      val d = docs(s, dir)
      Tokenize.BpeEncodeRanked(
          Tokenize.BpeLearn(nMerges = 20).transform(d))
        .transform(d)
        .select(col("doc_id"), col("n_bpe_tokens"),
          array_join(col("bpe_ids").cast("array<string>"), " ").as("ids_str"))
        .orderBy("doc_id")
    }, _ => OracleSql.bpeEncRanked(20),
      Some("MapPartitions")), // rank-order merge loop
    // rank-order inference over BYTE-LEVEL learning (r15): the
    // GPT-2-shaped total encode — byte alphabet at rank 0, learned
    // merges applied lowest-rank-first; byte mapping, merge rounds and
    // application all re-derived by the oracle
    QuerySpec("bpe_ranked_byte", (s, dir) => {
      val d = docs(s, dir)
      Tokenize.BpeEncodeRanked(
          Tokenize.BpeLearn(nMerges = 12, byteLevel = true,
            baseAlphabet = Tokenize.byteAlphabet).transform(d),
          byteLevel = true)
        .transform(d)
        .select(col("doc_id"), col("n_bpe_tokens"),
          array_join(col("bpe_ids").cast("array<string>"), " ").as("ids_str"))
        .orderBy("doc_id")
    }, _ => OracleSql.bpeRankedByte(12),
      Some("MapPartitions")), // same, byte symbols
    // BYTE-LEVEL BPE (GPT-2-style byte alphabet): words become UTF-8
    // byte-symbol strings, merges are learned over byte symbols, and
    // the full 256-symbol alphabet at rank 0 makes the encode TOTAL
    // (no UNK on any input). The oracle re-derives the byte mapping,
    // the merge rounds AND the encode in SQL.
    QuerySpec("bpe_byte", (s, dir) => {
      val d = docs(s, dir)
      Tokenize.BpeEncode(
          Tokenize.BpeLearn(nMerges = 12, byteLevel = true,
            baseAlphabet = Tokenize.byteAlphabet).transform(d),
          byteLevel = true)
        .transform(d)
        .select(col("doc_id"), col("n_bpe_tokens"),
          array_join(col("bpe_ids").cast("array<string>"), " ").as("ids_str"))
        .orderBy("doc_id")
    }, _ => OracleSql.bpeByte(12),
      Some("MapPartitions")), // byte-mapped trie encode
    // the decode identity: learn → encode → DECODE must reproduce the
    // canonical whitespace-normalized case-folded text; the oracle
    // computes that closed form directly from the raw text (no encode
    // replay), so the whole chain is gated by a one-line independent
    // derivation
    QuerySpec("bpe_roundtrip", (s, dir) => {
      val d = docs(s, dir)
      val vocab = Tokenize.BpeLearn(nMerges = 8, byteLevel = true,
        baseAlphabet = Tokenize.byteAlphabet).transform(d)
      Tokenize.BpeDecode(vocab, byteLevel = true)
        .transform(Tokenize.BpeEncode(vocab, byteLevel = true)
          .transform(d))
        .orderBy("doc_id")
    }, _ => OracleSql.bpeRoundtrip,
      Some("MapPartitions")), // encode + decode passes
    // the full chain on the LEARNED vocab: merge learning → greedy
    // MaxMatch encode → chunk → exact prefix-sum pack — the oracle
    // replays the learning AND the encode inside one query
    QuerySpec("seq_pack_learn", (s, dir) => {
      val d = docs(s, dir)
      val enc = Tokenize.BpeEncode(
          Tokenize.BpeLearn(nMerges = 20).transform(d).drop("merge_rank"),
          emitPieces = true)
        .transform(d)
      Corpus.ShardPack(orderColumn = "chunk_key",
          sizeColumn = "n_chunk_tokens", targetBytes = 256L)
        .transform(ChunkSplit(chunkTokens = 24, overlapTokens = 6,
            tokenArrayColumn = "bpe_pieces")
          .transform(enc)
          .withColumn("chunk_key",
            col("doc_id") * 100000L + col("chunk_idx"))
          // lineage cut before ShardPack's two passes (see seq_pack_ranked)
          .localCheckpoint())
        .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
          col("cum_bytes").as("cum_tokens"), col("shard").as("pack_id"))
        .orderBy("doc_id", "chunk_idx")
    }, _ => OracleSql.seqPackBpeLearned(20, 24, 6, 256L),
      Some("MapPartitions")), // learn->encode->chunk->pack
    // the full chain with REAL BPE inference (r15): merge learning →
    // RANK-ORDER encode (the trainer's own algorithm, emitPieces) →
    // chunk → exact prefix-sum pack; the oracle replays learning, the
    // rank-order application AND the pack in one query
    QuerySpec("seq_pack_ranked", (s, dir) => {
      val d = docs(s, dir)
      val enc = Tokenize.BpeEncodeRanked(
          Tokenize.BpeLearn(nMerges = 20).transform(d),
          emitPieces = true)
        .transform(d)
      Corpus.ShardPack(orderColumn = "chunk_key",
          sizeColumn = "n_chunk_tokens", targetBytes = 256L)
        .transform(ChunkSplit(chunkTokens = 24, overlapTokens = 6,
            tokenArrayColumn = "bpe_pieces")
          .transform(enc)
          .withColumn("chunk_key",
            col("doc_id") * 100000L + col("chunk_idx"))
          // lineage cut before ShardPack's two prefix-sum passes (the
          // pipeline_pretrain discipline, r17): the typed encode is
          // opaque to column pruning, so without the cut the rank-order
          // encode ran 3x (bounds job, totals job, final pass)
          .localCheckpoint())
        .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
          col("cum_bytes").as("cum_tokens"), col("shard").as("pack_id"))
        .orderBy("doc_id", "chunk_idx")
    }, _ => OracleSql.seqPackRanked(20, 24, 6, 256L),
      Some("MapPartitions")), // ShardPack typed pass
    // the full pretraining-prep chain in UNIGRAM (max-likelihood)
    // units: vocab -> scores -> Viterbi encode (emitPieces feeds the
    // chunker) -> chunk -> exact prefix-sum pack; the oracle replays
    // the DP and the chunk/pack algebra in one query
    QuerySpec("seq_pack_unigram", (s, dir) => {
      val d = docs(s, dir)
      val enc = Tokenize.UnigramEncode(
          Tokenize.UnigramScores(bpeFixtureVocab(d)).transform(d),
          emitPieces = true)
        .transform(d)
      Corpus.ShardPack(orderColumn = "chunk_key",
          sizeColumn = "n_chunk_tokens", targetBytes = 256L)
        .transform(ChunkSplit(chunkTokens = 24, overlapTokens = 6,
            tokenArrayColumn = "bpe_pieces")
          .transform(enc)
          .withColumn("chunk_key",
            col("doc_id") * 100000L + col("chunk_idx"))
          // lineage cut before ShardPack's two passes (see seq_pack_ranked)
          .localCheckpoint())
        .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
          col("cum_bytes").as("cum_tokens"), col("shard").as("pack_id"))
        .orderBy("doc_id", "chunk_idx")
    }, _ => OracleSql.seqPackUnigram(24, 6, 256L),
      Some("MapPartitions")), // Viterbi encode->chunk->pack
    // token-budget mixture in the engine's OWN tokenizer units: the
    // encode's n_bpe_tokens drives MixBudget's tokenCountColumn path
    QuerySpec("mix_bpe", (s, dir) => {
      val d = docs(s, dir)
      // NOTE (r17): a localCheckpoint cut here (the seq_pack move —
      // the count frame is read by the offsets agg, the prefix window
      // and the join-back) was tried and MEASURED SLOWER in-suite
      // (1.16/1.30 s uncut vs 1.54 s cut): the re-run encode passes
      // are cheaper than the materialization at this narrow width —
      // rejected per the measure-first rule, kept lazy
      val counts = Tokenize.BpeEncode(bpeFixtureVocab(d)).transform(d)
        .select("doc_id", "n_bpe_tokens")
      Corpus.MixBudget(Map("en" -> 50000L, "de" -> 20000L),
          defaultBudget = 8000L, tokenCountColumn = "n_bpe_tokens")
        .transform(d.join(counts, Seq("doc_id")))
        .select("doc_id", "lang", "n_tokens", "cum_tokens",
          "sample_bucket")
        .orderBy("doc_id")
    }, _ => OracleSql.mixBudgetBpe(
        Seq("en" -> 50000L, "de" -> 20000L), 8000L, "graft"),
      Some("MapPartitions")), // encode counts feed the budget
    QuerySpec("q1_pricing", (s, dir) => {
      val l = s.read.parquet(s"$dir/lineitem.parquet")
      val cents = (c: Column) => round(c * 100).cast("long")
      l.groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(cents(col("l_quantity"))).as("sum_qty_c"),
          sum(cents(col("l_extendedprice"))).as("sum_price_c"),
          sum(round((col("l_extendedprice") * (lit(1) - col("l_discount")))
            * 100).cast("long")).as("sum_disc_c"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    }, _ => OracleSql.q1Pricing, Some("HashAggregate")),
    QuerySpec("join_revenue_nation", (s, dir) => {
      val l = s.read.parquet(s"$dir/lineitem.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      val n = s.read.parquet(s"$dir/nation.parquet")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(sum(round((col("l_extendedprice") * (lit(1) - col("l_discount")))
          * 100).cast("long")).as("revenue_c"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }, _ => OracleSql.revenueByNation, Some("Join")),
    QuerySpec("top_customers", (s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      o.join(c, col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("total_c"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("total_c").desc, col("c_custkey").asc)
        .limit(10)
    }, _ => OracleSql.topCustomers(10), Some("Join")),
  )

  private val byName: Map[String, QuerySpec] =
    registry.map(q => q.name -> q).toMap

  /** The registered queries named in a comma-separated list (the
    * `*_ONLY` filters of Bench and Verify, the dev tools' arguments), in
    * list order. Every name must be registered: a misspelled name fails
    * here, loudly, instead of selecting nothing.
    */
  def lookup(names: String): Seq[QuerySpec] = {
    val wanted = names.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = wanted.filterNot(byName.contains)
    if (wanted.isEmpty || unknown.nonEmpty)
      throw new IllegalStateException(s"query list `$names` names " + (
        if (wanted.isEmpty) "no query"
        else s"unregistered queries: ${unknown.mkString(", ")}"))
    wanted.map(byName)
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    intervalQuery(su = false, eu = true, ResultType.Enumerated)(
      spark, "/root/testdata/sf0.001")

  /** The query builders by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** DuckDB-runnable oracle SQL per query ({dir} replaced by the driver
    * with the parquet directory — if the driver does not substitute, the
    * absolute sf0.01 path is already baked in by Verify).
    */
  def oracleSql: Map[String, String] = oracleSqlFor("sf0.01")

  /** Oracle SQL parameterized by the sf directory's base name: the
    * jsonl_ingest oracle reads the query's OWN sf-suffixed export (a
    * hard-coded sf0.01 path made every other SF's check read a stale
    * export from whichever sf0.01 run happened earlier — found r18 when
    * the sf0.001 gate disagreed on 3 `admit` rows). Verify passes the
    * directory it dumps.
    */
  def oracleSqlFor(sfBase: String): Map[String, String] =
    registry.map(q => q.name -> q.oracle(sfBase)).toMap
}
