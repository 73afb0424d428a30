package graft

import graft.functions.Portable
import graft.operators.{Sampling, TextAnalysis}

/** DuckDB oracle SQL generators for the text / dedup / similarity /
  * multimodal query surface. Each generator mirrors its Spark operator
  * expression-for-expression over the same parquet tables, using only
  * engine-portable primitives (md5, 64-bit integer arithmetic, IEEE
  * div/sqrt of identical integers — see [[graft.functions.Portable]]),
  * so results match bit-for-bit, not just approximately.
  */
object OracleSql {

  /** Whitespace tokens of trimmed lower-cased text (DuckDB side). */
  private val Toks = """string_split_regex(trim(lower(text)), '\s+')"""

  /** BPE-ish regex tokenization (letter runs, digit runs, single
    * symbols) — the external-tokenizer stand-in the weighted budget /
    * chunking queries feed through `tokenCountColumn` /
    * `tokenArrayColumn`; mirrors `TextAnalysis.TokenCount`'s
    * `n_regex_tokens` definition.
    */
  private val BpeToks =
    """regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')"""

  private def tokHash(x: String): String =
    s"CAST('0x' || substr(md5($x), 1, 8) AS BIGINT)"

  /** Distinct word 3-gram shingles over token list `tk`. */
  private val Shingles =
    "list_distinct(list_transform(range(1, greatest(len(tk) - 1, 1)), " +
      "i -> array_to_string(list_slice(tk, i, i + 2), ' ')))"

  /** documents -> (doc_id, hs = distinct shingle hashes), empties dropped
    * (matches the Spark-side `size(h) > 0` guard).
    */
  private val ShingleHashes =
    s"""WITH t AS (SELECT doc_id, $Toks AS tk FROM documents),
       |s AS (SELECT doc_id, $Shingles AS sh FROM t),
       |h AS (SELECT doc_id,
       |  list_transform(sh, x -> ${tokHash("x")}) AS hs
       |  FROM s WHERE len(sh) > 0)""".stripMargin

  // -------------------------------------------------------------- text

  def textTokens: String =
    s"""WITH t AS (SELECT doc_id, text, $Toks AS toks FROM documents)
       |SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
       |  CAST(length(text) AS BIGINT) AS n_chars,
       |  CAST(len(regexp_extract_all(lower(text),
       |    '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_regex_tokens
       |FROM t ORDER BY doc_id""".stripMargin

  /** Per-doc unigram Shannon entropy (bits): `log2(T) − Σ c·log2(c)/T`
    * over distinct-token counts. Mirrors
    * [[graft.operators.TextAnalysis.TokenEntropy]]; null text keeps its
    * row with a NULL entropy via the join back.
    */
  def textEntropy: String =
    s"""WITH t AS (SELECT doc_id, unnest($Toks) AS tok FROM documents
       |  WHERE text IS NOT NULL),
       |c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
       |h AS (SELECT doc_id,
       |  round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) AS entropy
       |  FROM c GROUP BY doc_id)
       |SELECT d.doc_id, d.lang, h.entropy
       |FROM documents d LEFT JOIN h USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  def textQuality: String = {
    val stop = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, text, $Toks AS toks FROM documents),
       |c AS (SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  list_reduce(list_transform(toks, s -> CAST(length(s) AS BIGINT)),
       |    (a, b) -> a + b) AS char_sum,
       |  CAST(len(list_filter(toks, s -> s IN ($stop))) AS BIGINT) AS n_stop,
       |  CAST(length(text) AS BIGINT) AS n_chars,
       |  CAST(length(text) - length(regexp_replace(text,
       |    '[^a-zA-Z0-9\\s]', '', 'g')) AS BIGINT) AS n_punct
       |  FROM t)
       |SELECT doc_id, n_tokens,
       |  round(CAST(char_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
       |    AS avg_token_len,
       |  round(CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
       |    AS stopword_ratio,
       |  round(CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE), 6)
       |    AS punct_ratio,
       |  round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) *
       |    (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)), 6)
       |    AS quality_score
       |FROM c ORDER BY doc_id""".stripMargin
  }

  def textLangId: String = {
    val scores = TextAnalysis.LangMarkers.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(toks, s -> s IN ($lst))) AS BIGINT) AS score_$lang"
    }.mkString(",\n  ")
    val langs = TextAnalysis.LangMarkers.map(_._1)
    val cases = langs.zipWithIndex.map { case (lang, i) =>
      val later = langs.drop(i + 1)
      val conds = (s"score_$lang > 0" +:
        later.map(m => s"score_$lang >= score_$m")).mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }.mkString("\n    ")
    s"""WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
       |sc AS (SELECT doc_id,
       |  $scores
       |  FROM t)
       |SELECT doc_id, ${langs.map(l => s"score_$l").mkString(", ")},
       |  CASE $cases
       |    ELSE 'und' END AS pred_lang
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  def textFingerprint: String =
    s"""WITH t AS (SELECT doc_id,
       |  regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm,
       |  $Toks AS toks FROM documents)
       |SELECT doc_id, md5(norm) AS md5_fp,
       |  list_reduce(list_prepend(0,
       |    list_transform(toks, s -> ${tokHash("s")})),
       |    (a, h) -> (a * 31 + h) % 1000000007) AS roll_fp
       |FROM t ORDER BY doc_id""".stripMargin

  def textRepetition: String =
    s"""WITH t AS (SELECT doc_id, $Toks AS tk FROM documents),
       |g AS (SELECT doc_id,
       |  CASE WHEN len(tk) >= 2 THEN
       |    list_transform(range(1, greatest(len(tk), 1)),
       |      i -> array_to_string(list_slice(tk, i, i + 1), ' '))
       |  ELSE [] END AS g2,
       |  CASE WHEN len(tk) >= 3 THEN
       |    list_transform(range(1, greatest(len(tk) - 1, 1)),
       |      i -> array_to_string(list_slice(tk, i, i + 2), ' '))
       |  ELSE [] END AS g3
       |  FROM t),
       |r AS (SELECT doc_id,
       |  CAST(len(g2) AS BIGINT) AS n_2grams,
       |  round(CASE WHEN len(g2) > 0 THEN
       |    CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
       |      / CAST(len(g2) AS DOUBLE) ELSE 0.0 END, 6) AS dup_2gram_ratio,
       |  CAST(len(g3) AS BIGINT) AS n_3grams,
       |  round(CASE WHEN len(g3) > 0 THEN
       |    CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
       |      / CAST(len(g3) AS DOUBLE) ELSE 0.0 END, 6) AS dup_3gram_ratio
       |  FROM g)
       |SELECT doc_id, n_2grams, dup_2gram_ratio, n_3grams, dup_3gram_ratio,
       |  greatest(dup_2gram_ratio, dup_3gram_ratio) AS repetition_score
       |FROM r ORDER BY doc_id""".stripMargin

  /** Mirrors the `pii_scrub` query: both engines append the same
    * deterministic doc_id-derived PII, then redact with identical
    * RE2-compatible patterns (DuckDB needs the 'g' flag to match
    * Spark's replace-all).
    */
  def piiScrub: String = {
    // the runtime pattern strings hold single backslashes — valid for
    // both Java regex and DuckDB's RE2, so they embed verbatim
    val email = TextAnalysis.PiiScrub.EmailRe
    val ip = TextAnalysis.PiiScrub.Ipv4Re
    val phone = TextAnalysis.PiiScrub.PhoneRe
    s"""WITH a AS (SELECT doc_id,
       |  text || ' contact user' || CAST(doc_id AS VARCHAR)
       |    || '@example.com or +1 555-01' || CAST(doc_id % 100 AS VARCHAR)
       |    || ' at 10.1.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS text
       |  FROM documents),
       |e AS (SELECT doc_id, text,
       |  regexp_replace(text, '$email', '<EMAIL>', 'g') AS after_email
       |  FROM a),
       |i AS (SELECT *, regexp_replace(after_email, '$ip', '<IP>', 'g')
       |  AS after_ip FROM e),
       |s AS (SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT)
       |    AS n_emails,
       |  CAST(len(regexp_extract_all(after_email, '$ip')) AS BIGINT)
       |    AS n_ips,
       |  CAST(len(regexp_extract_all(after_ip, '$phone')) AS BIGINT)
       |    AS n_phones,
       |  regexp_replace(after_ip, '$phone', '<PHONE>', 'g') AS scrubbed
       |  FROM i)
       |SELECT doc_id, n_emails, n_ips, n_phones,
       |  CAST(length(scrubbed) AS BIGINT) AS scrub_len,
       |  md5(scrubbed) AS scrub_fp
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** Mirrors the `pipeline_ingest` query: normalize -> quality gate ->
    * keep-canonical exact dedup, the composed ingest chain.
    */
  def pipelineIngest(minTokens: Long): String = {
    val stop = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH n AS (SELECT doc_id,
       |  lower(trim(regexp_replace(
       |    regexp_replace(text, '<[^>]*>', ' ', 'g'),
       |    '\\s+', ' ', 'g'))) AS text FROM documents),
       |t AS (SELECT doc_id, text, $Toks AS toks FROM n),
       |c AS (SELECT doc_id, text,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(list_filter(toks, s -> s IN ($stop))) AS BIGINT) AS n_stop
       |  FROM t),
       |q AS (SELECT doc_id, text, n_tokens,
       |  round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) *
       |    (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)), 6)
       |    AS quality_score
       |  FROM c WHERE n_tokens >= $minTokens),
       |d AS (SELECT *,
       |  md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
       |    AS content_fp FROM q),
       |k AS (SELECT *, min(doc_id) OVER (PARTITION BY content_fp)
       |  AS canonical_id FROM d)
       |SELECT doc_id, n_tokens, quality_score, content_fp
       |FROM k WHERE doc_id = canonical_id ORDER BY doc_id""".stripMargin
  }

  def textNormalize: String =
    """WITH n AS (SELECT doc_id,
      |  lower(trim(regexp_replace(
      |    regexp_replace(text, '<[^>]*>', ' ', 'g'),
      |    '\s+', ' ', 'g'))) AS norm_text
      |  FROM documents)
      |SELECT doc_id, norm_text,
      |  CAST(length(norm_text) AS BIGINT) AS norm_len,
      |  md5(norm_text) AS norm_fp
      |FROM n ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- dedup

  def dedupExact: String =
    s"""WITH f AS (SELECT doc_id,
       |  md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
       |    AS content_fp FROM documents)
       |SELECT doc_id, content_fp,
       |  min(doc_id) OVER (PARTITION BY content_fp) AS canonical_id,
       |  doc_id <> min(doc_id) OVER (PARTITION BY content_fp) AS is_dup
       |FROM f ORDER BY doc_id""".stripMargin

  /** Incremental exact dedup (graft.operators.Dedup
    * .IncrementalExactDedup): the `batchSource` documents are the new
    * batch, everything else is the already-ingested corpus represented
    * by its fingerprint index. Null-safe fingerprint joins (null text is
    * one content class) mirror the Spark side's `<=>`.
    */
  def dedupIncremental(batchSource: String): String =
    s"""WITH f AS (SELECT doc_id, source,
       |  md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
       |    AS content_fp FROM documents),
       |idx AS (SELECT content_fp, MIN(doc_id) AS known_canonical
       |  FROM f WHERE source <> '$batchSource' GROUP BY content_fp),
       |b AS (SELECT doc_id, content_fp FROM f
       |  WHERE source = '$batchSource'),
       |bc AS (SELECT content_fp, MIN(doc_id) AS batch_canonical
       |  FROM b GROUP BY content_fp)
       |SELECT b.doc_id, b.content_fp,
       |  i.known_canonical IS NOT NULL AS is_known,
       |  COALESCE(i.known_canonical, bc.batch_canonical) AS canonical_id,
       |  (i.known_canonical IS NOT NULL
       |    OR b.doc_id <> bc.batch_canonical) AS is_dup
       |FROM b
       |LEFT JOIN idx i ON b.content_fp IS NOT DISTINCT FROM i.content_fp
       |JOIN bc ON b.content_fp IS NOT DISTINCT FROM bc.content_fp
       |ORDER BY doc_id""".stripMargin

  /** Per-source rollup (graft.operators.SourceQuality.SourceStats):
    * distinct content classes count null text as one class; doubles are
    * one IEEE division of exact integers.
    */
  private val SourceStatsCte: String =
    s"""f AS (SELECT source, doc_id, n_chars, lang,
       |  md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
       |    AS content_fp FROM documents),
       |stats AS (SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars,
       |  COUNT(DISTINCT content_fp) + CASE
       |    WHEN COUNT(*) > COUNT(content_fp) THEN 1 ELSE 0 END
       |    AS distinct_classes,
       |  CAST(COUNT(*) - (COUNT(DISTINCT content_fp) + CASE
       |    WHEN COUNT(*) > COUNT(content_fp) THEN 1 ELSE 0 END)
       |    AS DOUBLE) / COUNT(*) AS dup_ratio,
       |  COUNT(DISTINCT lang) AS n_langs
       |  FROM f GROUP BY source)""".stripMargin

  def sourceStats: String =
    s"""WITH $SourceStatsCte
       |SELECT source, n_docs, mean_chars, distinct_classes, dup_ratio,
       |  n_langs
       |FROM stats ORDER BY source""".stripMargin

  /** One-row whole-corpus summary. Mirrors
    * [[graft.operators.SourceQuality.CorpusReport]]: distinct counts
    * exclude nulls (SQL COUNT(DISTINCT)), null text is one content
    * class, doubles are single divisions of exact integers rounded to 6.
    */
  def corpusReport: String =
    s"""WITH f AS (SELECT source, n_chars, lang, text,
       |  md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
       |    AS content_fp FROM documents),
       |cls AS (SELECT COUNT(DISTINCT content_fp) + CASE
       |  WHEN COUNT(*) > COUNT(content_fp) THEN 1 ELSE 0 END AS classes,
       |  COUNT(*) AS n FROM f)
       |SELECT COUNT(*) AS n_docs,
       |  COUNT(DISTINCT f.source) AS n_sources,
       |  COUNT(DISTINCT f.lang) AS n_langs,
       |  CAST(SUM(f.n_chars) AS BIGINT) AS total_chars,
       |  round(CAST(SUM(f.n_chars) AS DOUBLE) / COUNT(*), 6)
       |    AS mean_chars,
       |  CAST(SUM(CASE WHEN f.text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_null_text,
       |  ANY_VALUE(cls.classes) AS distinct_classes,
       |  round(CAST(COUNT(*) - ANY_VALUE(cls.classes) AS DOUBLE)
       |    / COUNT(*), 6) AS dup_ratio
       |FROM f, cls""".stripMargin

  def sourceFilter(minMeanChars: Double, maxDupRatio: Double,
                   minDocs: Long): String =
    s"""WITH $SourceStatsCte,
       |pass AS (SELECT source, mean_chars, dup_ratio FROM stats
       |  WHERE mean_chars >= $minMeanChars AND dup_ratio <= $maxDupRatio
       |    AND n_docs >= $minDocs)
       |SELECT d.doc_id, d.source,
       |  p.mean_chars AS source_mean_chars,
       |  p.dup_ratio AS source_dup_ratio
       |FROM documents d JOIN pass p ON d.source IS NOT DISTINCT FROM p.source
       |ORDER BY d.doc_id""".stripMargin

  /** Shared CTE chain producing the (possibly doc-frequency-capped)
    * per-document shingle sets as `s(doc_id, sh)`. `maxDocFreq > 0`
    * mirrors [[graft.operators.Dedup.NGramJaccard]]'s capped-set
    * semantics: shingles in more than `maxDocFreq` documents are removed
    * from every set (sizes included) before similarity.
    */
  private def shingleSets(maxDocFreq: Long): String = {
    val base =
      s"""t AS (SELECT doc_id, $Toks AS tk FROM documents),
         |s0 AS (SELECT doc_id, $Shingles AS sh FROM t),
         |sfull AS (SELECT doc_id, sh FROM s0 WHERE len(sh) > 0)""".stripMargin
    if (maxDocFreq <= 0) s"$base,\ns AS (SELECT doc_id, sh FROM sfull)"
    else
      s"""$base,
         |u AS (SELECT doc_id, unnest(sh) AS shingle FROM sfull),
         |freq AS (SELECT shingle, count(*) AS df FROM u GROUP BY shingle),
         |k AS (SELECT u.doc_id, u.shingle FROM u
         |  JOIN freq USING (shingle) WHERE freq.df <= $maxDocFreq),
         |s AS (SELECT doc_id, list(shingle) AS sh FROM k GROUP BY doc_id)"""
        .stripMargin
  }

  def dedupNGramJaccard(threshold: Double, maxDocFreq: Long = 0L): String =
    s"""WITH ${shingleSets(maxDocFreq)},
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS common,
       |  CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
       |    AS BIGINT) AS uni
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id),
       |j AS (SELECT id_a, id_b, common, uni,
       |  round(CAST(common AS DOUBLE) / CAST(uni AS DOUBLE), 6) AS jaccard
       |  FROM p)
       |SELECT * FROM j WHERE jaccard >= $threshold
       |ORDER BY id_a, id_b""".stripMargin

  def dedupMinHash(k: Int, bands: Int, threshold: Double,
                   maxBucket: Long = 10000L): String = {
    val r = k / bands
    val sigCols = (0 until k).map { i =>
      s"list_min(list_transform(hs, x -> (${Portable.minHashA(i)} * x + " +
        s"${Portable.minHashB(i)}) % ${Portable.MinHashP})) AS s$i"
    }.mkString(",\n  ")
    val bandSelects = (0 until bands).map { b =>
      val key = (0 until r).map(j => s"s${b * r + j}").mkString(", '-', ")
      s"SELECT doc_id, $b AS band, concat($key) AS key FROM sig"
    }.mkString("\n  UNION ALL ")
    val agree = (0 until k)
      .map(i => s"CASE WHEN x.s$i = y.s$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""$ShingleHashes,
       |sig AS (SELECT doc_id,
       |  $sigCols
       |  FROM h),
       |bands0 AS (
       |  $bandSelects),
       |bands AS (SELECT * FROM bands0 t WHERE ${bucketCapPredicate(
            "bands0", Seq("band", "key"), maxBucket)}),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |est AS (SELECT c.id_a, c.id_b,
       |  round(CAST($agree AS DOUBLE) / $k.0, 6) AS est_jaccard
       |  FROM cand c JOIN sig x ON x.doc_id = c.id_a
       |              JOIN sig y ON y.doc_id = c.id_b)
       |SELECT * FROM est WHERE est_jaccard >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Incremental MinHash near-dup (graft.operators.Dedup
    * .IncrementalMinHashLSH): the corpus (`source <> batchSource`) is
    * probed only through its signature/band indexes; the batch is
    * `source = batchSource`. Bucket caps per side — corpus buckets by
    * corpus counts (index build), batch buckets by batch counts on the
    * batch SELF-join only (the corpus probe keeps all batch bands).
    * `known = true` pairs carry the corpus doc as `id_a`.
    */
  def dedupIncrementalMinHash(batchSource: String, k: Int, bands: Int,
                              threshold: Double,
                              maxBucket: Long = 10000L): String = {
    val r = k / bands
    val sigCols = (0 until k).map { i =>
      s"list_min(list_transform(hs, x -> (${Portable.minHashA(i)} * x + " +
        s"${Portable.minHashB(i)}) % ${Portable.MinHashP})) AS s$i"
    }.mkString(",\n  ")
    def bandSelects(rel: String) = (0 until bands).map { b =>
      val key = (0 until r).map(j => s"s${b * r + j}").mkString(", '-', ")
      s"SELECT doc_id, $b AS band, concat($key) AS key FROM $rel"
    }.mkString("\n  UNION ALL ")
    val agree = (0 until k)
      .map(i => s"CASE WHEN x.s$i = y.s$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""$ShingleHashes,
       |sig0 AS (SELECT doc_id,
       |  $sigCols
       |  FROM h),
       |sig AS (SELECT s.*, d.source FROM sig0 s
       |  JOIN documents d USING (doc_id)),
       |csig AS (SELECT * FROM sig WHERE source <> '$batchSource'),
       |bsig AS (SELECT * FROM sig WHERE source = '$batchSource'),
       |cb0 AS (
       |  ${bandSelects("csig")}),
       |cb AS (SELECT * FROM cb0 t WHERE ${bucketCapPredicate(
            "cb0", Seq("band", "key"), maxBucket)}),
       |bb0 AS (
       |  ${bandSelects("bsig")}),
       |bb AS (SELECT * FROM bb0 t WHERE ${bucketCapPredicate(
            "bb0", Seq("band", "key"), maxBucket)}),
       |candb AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bb a JOIN bb b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |candc AS (SELECT DISTINCT c.doc_id AS id_a, b.doc_id AS id_b
       |  FROM cb c JOIN bb0 b ON c.band = b.band AND c.key = b.key),
       |estb AS (SELECT c.id_a, c.id_b,
       |  round(CAST($agree AS DOUBLE) / $k.0, 6) AS est_jaccard,
       |  FALSE AS known
       |  FROM candb c JOIN bsig x ON x.doc_id = c.id_a
       |               JOIN bsig y ON y.doc_id = c.id_b),
       |estc AS (SELECT c.id_a, c.id_b,
       |  round(CAST($agree AS DOUBLE) / $k.0, 6) AS est_jaccard,
       |  TRUE AS known
       |  FROM candc c JOIN csig x ON x.doc_id = c.id_a
       |               JOIN bsig y ON y.doc_id = c.id_b)
       |SELECT * FROM (SELECT * FROM estb UNION ALL SELECT * FROM estc)
       |WHERE est_jaccard >= $threshold
       |ORDER BY known, id_a, id_b""".stripMargin
  }

  /** Hot-bucket cap as an ANSI NOT-EXISTS predicate over `cols` of
    * `rel` — mirrors the Spark operators' `maxBucket` band-bucket guard
    * exactly (no-op SQL when the cap is disabled).
    */
  private def bucketCapPredicate(rel: String, cols: Seq[String],
                                 maxBucket: Long): String =
    if (maxBucket <= 0) "TRUE"
    else {
      val on = cols.map(c => s"g.$c = t.$c").mkString(" AND ")
      s"NOT EXISTS (SELECT 1 FROM $rel g WHERE $on " +
        s"GROUP BY ${cols.map("g." + _).mkString(", ")} " +
        s"HAVING count(*) > $maxBucket)"
    }

  def dedupSimHash(bits: Int, chunks: Int, maxHamming: Int,
                   maxBucket: Long = 10000L): String = {
    val chunkBits = bits / chunks
    val bitCols = (0 until bits).map { j =>
      s"list_reduce(list_transform(hs, x -> ((x >> $j) & 1) * 2 - 1), " +
        s"(a, b) -> a + b) AS b$j"
    }.mkString(",\n  ")
    val simExpr = (0 until bits)
      .map(j => s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    val chunkSelects = (0 until chunks).map { c =>
      s"SELECT doc_id, simhash, $c AS c, " +
        s"(simhash >> ${c * chunkBits}) & ${(1L << chunkBits) - 1} AS v FROM sim"
    }.mkString("\n  UNION ALL ")
    s"""$ShingleHashes,
       |bits AS (SELECT doc_id,
       |  $bitCols
       |  FROM h),
       |sim AS (SELECT doc_id, $simExpr AS simhash FROM bits),
       |ck0 AS (
       |  $chunkSelects),
       |ck AS (SELECT * FROM ck0 t WHERE ${bucketCapPredicate(
            "ck0", Seq("c", "v"), maxBucket)}),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.simhash AS sim_a, b.simhash AS sim_b
       |  FROM ck a JOIN ck b
       |    ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b,
       |  CAST(bit_count(CAST(xor(sim_a, sim_b) AS BIGINT)) AS BIGINT)
       |    AS hamming
       |FROM cand
       |WHERE bit_count(CAST(xor(sim_a, sim_b) AS BIGINT)) <= $maxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Connected components over the n-gram Jaccard candidate pairs:
    * recursive transitive closure, component label = min reachable id.
    */
  def dedupClusters(threshold: Double, maxDocFreq: Long = 0L): String =
    s"""WITH RECURSIVE ${shingleSets(maxDocFreq)},
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS common,
       |  CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
       |    AS BIGINT) AS uni
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id),
       |pairs AS (SELECT id_a, id_b FROM p
       |  WHERE round(CAST(common AS DOUBLE) / CAST(uni AS DOUBLE), 6)
       |    >= $threshold),
       |e AS (SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT a, a FROM e
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a)
       |SELECT src AS doc_id, min(dst) AS component
       |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin

  /** Canonical selection over near-dup clusters: best quality score per
    * component (ties to the smaller doc_id), singletons kept. Mirrors
    * [[graft.operators.Dedup.selectCanonical]] over
    * NGramJaccard -> connectedComponents -> QualityScore.
    */
  def dedupCanonical(threshold: Double, maxDocFreq: Long): String = {
    val stop = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH RECURSIVE ${shingleSets(maxDocFreq)},
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS common,
       |  CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
       |    AS BIGINT) AS uni
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id),
       |pairs AS (SELECT id_a, id_b FROM p
       |  WHERE round(CAST(common AS DOUBLE) / CAST(uni AS DOUBLE), 6)
       |    >= $threshold),
       |e AS (SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT a, a FROM e
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
       |comp AS (SELECT src AS doc_id, min(dst) AS component
       |  FROM reach GROUP BY src),
       |qt AS (SELECT doc_id, text, $Toks AS toks FROM documents),
       |qc AS (SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(list_filter(toks, x -> x IN ($stop))) AS BIGINT) AS n_stop
       |  FROM qt),
       |q AS (SELECT doc_id,
       |  round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) *
       |    (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)), 6)
       |    AS quality_score
       |  FROM qc),
       |j AS (SELECT q.doc_id,
       |  COALESCE(comp.component, q.doc_id) AS component, q.quality_score
       |  FROM q LEFT JOIN comp USING (doc_id)),
       |r AS (SELECT *, row_number() OVER (PARTITION BY component
       |    ORDER BY quality_score DESC, doc_id) AS rn FROM j)
       |SELECT doc_id, CAST(component AS BIGINT) AS component,
       |  quality_score, rn = 1 AS keep
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** The full curation chain (mirrors the `pipeline_curate` query):
    * normalize -> quality -> boilerplate (hot set over ALL normalized
    * docs) -> decontaminate (eval split leaves the frame) -> gates ->
    * near-dup canonical over the survivors (capped-shingle Jaccard
    * pairs, recursive-CTE components, best quality per component) ->
    * md5-threshold stratified sample -> running-sum shard packing.
    * Every stage reuses the exact expression conventions of its
    * standalone oracle above, so the composition stays bit-identical.
    */
  def pipelineCurate(boilerMaxDf: Long, minTokens: Long,
                     maxBoilerRatio: Double, jaccardThreshold: Double,
                     jaccardMaxDf: Long, rates: Seq[(String, Double)],
                     defaultRate: Double, salt: String,
                     targetBytes: Long): String = {
    val stop = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
    val cases = rates.map { case (s, r) =>
      s"WHEN '$s' THEN '${Sampling.thresholdHex(r)}'"
    }.mkString(" ")
    s"""WITH RECURSIVE nrm AS (SELECT doc_id, lang,
       |  lower(trim(regexp_replace(
       |    regexp_replace(text, '<[^>]*>', ' ', 'g'),
       |    '\\s+', ' ', 'g'))) AS text FROM documents),
       |nr AS (SELECT doc_id, lang, text,
       |  CAST(length(text) AS BIGINT) AS n_chars, $Toks AS toks FROM nrm),
       |qc AS (SELECT doc_id, lang, text, n_chars, toks,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(list_filter(toks, s -> s IN ($stop))) AS BIGINT) AS n_stop
       |  FROM nr),
       |q AS (SELECT doc_id, lang, text, n_chars, n_tokens,
       |  round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) *
       |    (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)), 6)
       |    AS quality_score
       |  FROM qc),
       |bt AS (SELECT doc_id, $Toks AS tk FROM nrm),
       |bs AS (SELECT doc_id, $Shingles AS sh FROM bt),
       |bu AS (SELECT doc_id, unnest(sh) AS shingle FROM bs),
       |bhot AS (SELECT shingle FROM bu GROUP BY shingle
       |  HAVING count(*) > $boilerMaxDf),
       |bb AS (SELECT bu.doc_id, count(*) AS n_boiler
       |  FROM bu JOIN bhot USING (shingle) GROUP BY bu.doc_id),
       |boiler AS (SELECT bs.doc_id,
       |  round(CASE WHEN len(bs.sh) > 0
       |    THEN CAST(COALESCE(bb.n_boiler, 0) AS DOUBLE) /
       |         CAST(len(bs.sh) AS DOUBLE)
       |    ELSE 0.0 END, 6) AS boiler_ratio
       |  FROM bs LEFT JOIN bb USING (doc_id)),
       |evs AS (SELECT DISTINCT unnest(sh) AS shingle FROM bs
       |  WHERE doc_id % 50 = 0),
       |cont AS (SELECT DISTINCT bu.doc_id FROM bu
       |  JOIN evs USING (shingle) WHERE bu.doc_id % 50 <> 0),
       |gated AS (SELECT q.doc_id, q.lang, q.text, q.n_chars, q.n_tokens,
       |  q.quality_score
       |  FROM q JOIN boiler USING (doc_id)
       |  WHERE q.doc_id % 50 <> 0
       |    AND q.n_tokens >= $minTokens
       |    AND boiler.boiler_ratio <= $maxBoilerRatio
       |    AND q.doc_id NOT IN (SELECT doc_id FROM cont)),
       |gt AS (SELECT doc_id, $Toks AS tk FROM gated),
       |gs0 AS (SELECT doc_id, $Shingles AS sh FROM gt),
       |gsf AS (SELECT doc_id, sh FROM gs0 WHERE len(sh) > 0),
       |gu AS (SELECT doc_id, unnest(sh) AS shingle FROM gsf),
       |gfreq AS (SELECT shingle, count(*) AS df FROM gu GROUP BY shingle),
       |gk AS (SELECT gu.doc_id, gu.shingle FROM gu
       |  JOIN gfreq USING (shingle) WHERE gfreq.df <= $jaccardMaxDf),
       |gsets AS (SELECT doc_id, list(shingle) AS sh FROM gk GROUP BY doc_id),
       |gp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS common,
       |  CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
       |    AS BIGINT) AS uni
       |  FROM gsets a JOIN gsets b ON a.doc_id < b.doc_id),
       |pairs AS (SELECT id_a, id_b FROM gp
       |  WHERE round(CAST(common AS DOUBLE) / CAST(uni AS DOUBLE), 6)
       |    >= $jaccardThreshold),
       |e AS (SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT a, a FROM e
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
       |comp AS (SELECT src AS doc_id, min(dst) AS component
       |  FROM reach GROUP BY src),
       |lab AS (SELECT g.*, COALESCE(comp.component, g.doc_id) AS component
       |  FROM gated g LEFT JOIN comp USING (doc_id)),
       |canon AS (SELECT *, row_number() OVER (PARTITION BY component
       |    ORDER BY quality_score DESC, doc_id) AS rn FROM lab),
       |sampled AS (SELECT doc_id, lang, n_chars, n_tokens, quality_score
       |  FROM canon WHERE rn = 1 AND
       |    substr(md5('$salt:' || CAST(doc_id AS VARCHAR)), 1, 8) <
       |      CASE lang $cases
       |        ELSE '${Sampling.thresholdHex(defaultRate)}' END),
       |packed AS (SELECT *,
       |  SUM(n_chars) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM sampled)
       |SELECT doc_id, lang, n_chars, n_tokens, quality_score,
       |  CAST(cum AS BIGINT) AS cum_bytes,
       |  CAST((cum - n_chars) // $targetBytes AS BIGINT) AS shard
       |FROM packed ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------- relational extras

  /** As-of join: each click joined to the user's most recent prior (or
    * simultaneous) purchase. DuckDB's NATIVE ASOF JOIN — a genuinely
    * independent formulation of the Spark side's union-window algebra.
    */
  def asOfJoin: String =
    """WITH l AS (SELECT user_id, event_id FROM events
      |  WHERE event_type = 'click'),
      |r AS (SELECT user_id, event_id AS asof_event_id,
      |    value AS asof_value
      |  FROM events WHERE event_type = 'purchase')
      |SELECT l.user_id, l.event_id, r.asof_event_id, r.asof_value
      |FROM l ASOF LEFT JOIN r
      |  ON l.user_id = r.user_id AND l.event_id >= r.asof_event_id
      |ORDER BY l.user_id, l.event_id""".stripMargin

  /** Deterministic md5-threshold stratified sample; thresholds generated
    * by the same [[Sampling.thresholdHex]] the Spark operator uses.
    */
  def sampleStratified(rates: Seq[(String, Double)], defaultRate: Double,
                       salt: String): String = {
    val cases = rates.map { case (s, r) =>
      s"WHEN '$s' THEN '${Sampling.thresholdHex(r)}'"
    }.mkString(" ")
    s"""WITH s AS (SELECT doc_id, lang,
       |  substr(md5('$salt:' || CAST(doc_id AS VARCHAR)), 1, 8)
       |    AS sample_bucket
       |  FROM documents)
       |SELECT doc_id, lang, sample_bucket FROM s
       |WHERE sample_bucket <
       |  CASE lang $cases ELSE '${Sampling.thresholdHex(defaultRate)}' END
       |ORDER BY doc_id""".stripMargin
  }

  /** Per-stratum quota cap: at most `quotas(stratum)` rows, hash-order
    * selection with the same md5 bucket as [[sampleStratified]]. Mirrors
    * [[graft.operators.Sampling.QuotaSample]].
    */
  def sampleQuota(quotas: Seq[(String, Long)], defaultQuota: Long,
                  salt: String): String = {
    val cases = quotas.map { case (s, q) => s"WHEN '$s' THEN $q" }
      .mkString(" ")
    s"""WITH s AS (SELECT doc_id, lang,
       |  substr(md5('$salt:' || CAST(doc_id AS VARCHAR)), 1, 8)
       |    AS sample_bucket
       |  FROM documents),
       |r AS (SELECT *, row_number() OVER (PARTITION BY lang
       |    ORDER BY sample_bucket, doc_id) AS rn FROM s)
       |SELECT doc_id, lang, sample_bucket, CAST(rn AS BIGINT) AS quota_rank
       |FROM r WHERE rn <= CASE lang $cases ELSE $defaultQuota END
       |ORDER BY doc_id""".stripMargin
  }

  /** DSIR importance resampling: add-one-smoothed hashed-unigram
    * target-vs-raw log-likelihood ratio scores on the scaled-long
    * lattice, exact top-`ceil(fraction * n)` selection ordered by
    * `(score DESC, md5 bucket, doc_id)`. The oracle replays the FULL
    * method — feature hashing, smoothing, integer score sums and the
    * deterministic tie-break — so the Spark side's no-global-sort
    * boundary-bucket selection must land on the identical kept set.
    * Mirrors [[graft.operators.Dsir.ImportanceResample]].
    */
  /** Shared CTE chain deriving the one-shot DSIR kept set (`r` ranked
    * by the total selection order, `k` the cut) — the body of
    * [[dsirResample]] and [[dsirReport]].
    */
  private def dsirKeptCtes(targetValue: String, fraction: Double,
                           numFeatures: Int, salt: String,
                           ngram: Int = 1): String = {
    // ngram = 2: space-joined consecutive token pairs (1-based list
    // slots; range's exclusive stop makes a < 2-token doc contribute
    // nothing — the Spark side's empty arrays_zip)
    val posting =
      if (ngram == 1)
        s"""p AS (SELECT doc_id,
           |    COALESCE(source = '$targetValue', FALSE) AS tgt,
           |    unnest($Toks) AS tok FROM d),""".stripMargin
      else
        s"""p0 AS (SELECT doc_id,
           |    COALESCE(source = '$targetValue', FALSE) AS tgt,
           |    $Toks AS tk FROM d),
           |p AS (SELECT doc_id, tgt,
           |    unnest(list_transform(range(1, len(tk)),
           |      i -> tk[i] || ' ' || tk[i + 1])) AS tok FROM p0),""".stripMargin
    s"""d AS (SELECT doc_id, text, source FROM documents),
       |$posting
       |f AS (SELECT doc_id, tgt,
       |    CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % $numFeatures
       |      AS f FROM p),
       |c AS (SELECT f, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
       |    sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS cr
       |  FROM f GROUP BY f),
       |t AS (SELECT sum(ct) AS tt, sum(cr) AS tr, count(*) AS v FROM c),
       |lr AS (SELECT f, CAST(round((ln((ct + 1.0) / (tt + v)) -
       |    ln((cr + 1.0) / (tr + v))) * 1000000) AS BIGINT) AS lr
       |  FROM c CROSS JOIN t),
       |s AS (SELECT f.doc_id, sum(lr) AS sc
       |  FROM f JOIN lr USING (f) GROUP BY f.doc_id),
       |sc AS (SELECT d.doc_id, COALESCE(s.sc, 0) AS dsir_score,
       |    substr(md5('$salt:' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS th
       |  FROM d LEFT JOIN s USING (doc_id)),
       |k AS (SELECT CAST(ceil($fraction * count(*)) AS BIGINT) AS k
       |  FROM d),
       |r AS (SELECT doc_id, dsir_score, row_number()
       |    OVER (ORDER BY dsir_score DESC, th, doc_id) AS rn FROM sc)""".stripMargin
  }

  def dsirResample(targetValue: String, fraction: Double,
                   numFeatures: Int, salt: String,
                   ngram: Int = 1): String =
    s"""WITH ${dsirKeptCtes(targetValue, fraction, numFeatures, salt, ngram)}
       |SELECT doc_id, CAST(dsir_score AS BIGINT) AS dsir_score
       |FROM r CROSS JOIN k WHERE rn <= k.k
       |ORDER BY doc_id""".stripMargin

  /** Per-source DSIR selection datasheet: input count, kept count,
    * keep rate (one IEEE division of exact integers) and kept score
    * mass per source; sources selected away entirely report 0. Mirrors
    * [[graft.operators.Dsir.SelectionReport]].
    */
  def dsirReport(targetValue: String, fraction: Double,
                 numFeatures: Int, salt: String): String =
    s"""WITH ${dsirKeptCtes(targetValue, fraction, numFeatures, salt)},
       |kept AS (SELECT doc_id, dsir_score
       |  FROM r CROSS JOIN k WHERE rn <= k.k),
       |i AS (SELECT source, count(*) AS n_in FROM d GROUP BY source),
       |kk AS (SELECT d.source, count(*) AS n_kept,
       |    sum(kept.dsir_score) AS score_sum
       |  FROM kept JOIN d USING (doc_id) GROUP BY d.source)
       |SELECT i.source, i.n_in,
       |  COALESCE(kk.n_kept, 0) AS n_kept,
       |  CAST(COALESCE(kk.n_kept, 0) AS DOUBLE) / CAST(i.n_in AS DOUBLE)
       |    AS keep_rate,
       |  CAST(COALESCE(kk.score_sum, 0) AS BIGINT) AS score_sum
       |FROM i LEFT JOIN kk ON i.source IS NOT DISTINCT FROM kk.source
       |ORDER BY i.source""".stripMargin

  /** Incremental DSIR: the batch (one source) scored against feature
    * counts fitted on the REST of the corpus, batch-top-`ceil(f*n)`
    * kept. The oracle replays the fit, the scoring — including the
    * zero-count smoothed ratio for batch features the corpus never
    * saw — and the deterministic tie-break. Mirrors
    * [[graft.operators.Dsir.IncrementalResample]] over
    * [[graft.operators.Dsir.featureCounts]].
    */
  def dsirIncremental(batchSource: String, targetValue: String,
                      fraction: Double, numFeatures: Int,
                      salt: String): String =
    s"""WITH c AS (SELECT text, source FROM documents
       |  WHERE source <> '$batchSource'),
       |b AS (SELECT doc_id, text FROM documents
       |  WHERE source = '$batchSource'),
       |cp AS (SELECT COALESCE(source = '$targetValue', FALSE) AS tgt,
       |    unnest($Toks) AS tok FROM c),
       |cf AS (SELECT CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT)
       |      % $numFeatures AS f,
       |    sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
       |    sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS cr
       |  FROM cp GROUP BY f),
       |t AS (SELECT sum(ct) AS tt, sum(cr) AS tr, count(*) AS v FROM cf),
       |lr AS (SELECT f, CAST(round((ln((ct + 1.0) / (tt + v)) -
       |    ln((cr + 1.0) / (tr + v))) * 1000000) AS BIGINT) AS lr
       |  FROM cf CROSS JOIN t),
       |bp AS (SELECT doc_id, unnest($Toks) AS tok FROM b),
       |bf AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8)
       |      AS BIGINT) % $numFeatures AS f FROM bp),
       |s AS (SELECT bf.doc_id, sum(COALESCE(lr.lr,
       |    CAST(round((ln(1.0 / (t.tt + t.v)) -
       |      ln(1.0 / (t.tr + t.v))) * 1000000) AS BIGINT))) AS sc
       |  FROM bf LEFT JOIN lr USING (f) CROSS JOIN t
       |  GROUP BY bf.doc_id),
       |sc AS (SELECT b.doc_id, COALESCE(s.sc, 0) AS dsir_score,
       |    substr(md5('$salt:' || CAST(b.doc_id AS VARCHAR)), 1, 8) AS th
       |  FROM b LEFT JOIN s USING (doc_id)),
       |k AS (SELECT CAST(ceil($fraction * count(*)) AS BIGINT) AS k
       |  FROM b),
       |r AS (SELECT doc_id, dsir_score, row_number()
       |    OVER (ORDER BY dsir_score DESC, th, doc_id) AS rn FROM sc)
       |SELECT doc_id, CAST(dsir_score AS BIGINT) AS dsir_score
       |FROM r CROSS JOIN k WHERE rn <= k.k
       |ORDER BY doc_id""".stripMargin

  /** Token-budget mixture: hash-ordered inclusive running token sum per
    * stratum, kept while within budget. Mirrors
    * [[graft.operators.Corpus.MixBudget]].
    */
  def mixBudget(budgets: Seq[(String, Long)], defaultBudget: Long,
                salt: String,
                weightSql: String = s"len($Toks)"): String = {
    val cases = budgets.map { case (s, b) => s"WHEN '$s' THEN $b" }
      .mkString(" ")
    s"""WITH t AS (SELECT doc_id, lang,
       |  CAST($weightSql AS BIGINT) AS n_tokens FROM documents),
       |s AS (SELECT *,
       |  substr(md5('$salt:' || CAST(doc_id AS VARCHAR)), 1, 8)
       |    AS sample_bucket FROM t),
       |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY lang
       |    ORDER BY sample_bucket, doc_id ROWS UNBOUNDED PRECEDING)
       |    AS cum_tokens FROM s)
       |SELECT doc_id, lang, n_tokens, CAST(cum_tokens AS BIGINT)
       |    AS cum_tokens, sample_bucket
       |FROM c WHERE cum_tokens <= CASE lang $cases ELSE $defaultBudget END
       |ORDER BY doc_id""".stripMargin
  }

  /** Temperature-scaled source mixture (alpha = 0.5): per-source sqrt
    * token-count weights held as `round(sqrt(T) * 1e6)` LONGS (sqrt is
    * correctly rounded in both engines, so the integer weights agree
    * bit-for-bit), budgets `floor(B * wl / W)` via two correctly-rounded
    * double ops, then the same deterministic md5-order prefix keep as
    * [[mixBudget]]. Mirrors [[graft.operators.Corpus.MixTemperature]].
    */
  def mixTemperature(totalBudget: Long, salt: String,
                     weightSql: String = s"len($Toks)"): String =
    s"""WITH t AS (SELECT doc_id, source,
       |  CAST($weightSql AS BIGINT) AS n_tokens FROM documents),
       |tot AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS T
       |  FROM t GROUP BY source),
       |w AS (SELECT source,
       |  CAST(round(sqrt(CAST(T AS DOUBLE)) * 1000000.0) AS BIGINT)
       |    AS wl FROM tot),
       |n AS (SELECT CAST(sum(wl) AS BIGINT) AS W FROM w),
       |b AS (SELECT source,
       |  CAST(floor(CAST($totalBudget AS DOUBLE) *
       |    (CAST(wl AS DOUBLE) / CAST(W AS DOUBLE))) AS BIGINT)
       |    AS mix_budget FROM w CROSS JOIN n),
       |s AS (SELECT t.*,
       |  substr(md5('$salt:' || CAST(doc_id AS VARCHAR)), 1, 8)
       |    AS sample_bucket FROM t),
       |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source
       |    ORDER BY sample_bucket, doc_id ROWS UNBOUNDED PRECEDING)
       |    AS cum_tokens FROM s)
       |SELECT c.doc_id, c.source, c.n_tokens,
       |  CAST(c.cum_tokens AS BIGINT) AS cum_tokens, c.sample_bucket,
       |  b.mix_budget
       |FROM c JOIN b USING (source) WHERE c.cum_tokens <= b.mix_budget
       |ORDER BY doc_id""".stripMargin

  /** [[mixBudget]] driven by the table's own `n_chars` column — the
    * externally-supplied-count path (`tokenCountColumn`). */
  def mixBudgetChars(budgets: Seq[(String, Long)], defaultBudget: Long,
                     salt: String): String =
    mixBudget(budgets, defaultBudget, salt, "n_chars")

  /** [[mixTemperature]] in BPE-ish regex-token units (the
    * `tokenCountColumn` path fed by `TokenCount.n_regex_tokens`). */
  def mixTemperatureBpe(totalBudget: Long, salt: String): String =
    mixTemperature(totalBudget, salt, s"len($BpeToks)")

  /** [[chunkSplit]] over the BPE-ish regex token array (the
    * `tokenArrayColumn` path). */
  def chunkSplitBpe(chunkTokens: Int, overlapTokens: Int): String =
    chunkSplit(chunkTokens, overlapTokens, BpeToks)

  /** [[sequencePack]] over the BPE-ish regex token array. */
  def sequencePackBpe(chunkTokens: Int, overlapTokens: Int,
                      budgetTokens: Long): String =
    sequencePack(chunkTokens, overlapTokens, budgetTokens, BpeToks)

  /** BM25 ranked retrieval for one query term set. Mirrors
    * [[graft.operators.Bm25Search]]: per-term Robertson/Lucene
    * components rounded to the 1e-6 lattice as BIGINTs, exact integer
    * per-doc sums, top-k by (score desc, doc_id). Double literals are
    * emitted from the SAME Scala values the operator uses, so both
    * engines parse identical doubles.
    */
  def bm25Search(queryTerms: Seq[String], k: Int, k1: Double,
                 b: Double): String = {
    val termsIn = queryTerms.map(t => s"'$t'").mkString(", ")
    val k1p1 = k1 + 1.0
    val oneMinusB = 1.0 - b
    s"""WITH t AS (SELECT doc_id, $Toks AS tk FROM documents),
       |st AS (SELECT count(*) AS n, sum(len(tk)) AS lensum FROM t),
       |dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM t),
       |p AS (SELECT doc_id, unnest(tk) AS term FROM t),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM p
       |  WHERE term IN ($termsIn) GROUP BY doc_id, term),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |sc AS (SELECT tf.doc_id, CAST(round(
       |    ln(1.0 + (CAST(st.n AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5)
       |      / (CAST(dfq.df AS DOUBLE) + 0.5))
       |    * CAST(tf.tf AS DOUBLE) * $k1p1
       |    / (CAST(tf.tf AS DOUBLE) + $k1 * ($oneMinusB
       |      + $b * CAST(dl.dl AS DOUBLE)
       |        / (CAST(st.lensum AS DOUBLE) / CAST(st.n AS DOUBLE))))
       |    * 1000000.0) AS BIGINT) AS comp
       |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
       |  CROSS JOIN st),
       |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_match,
       |  CAST(sum(comp) AS BIGINT) AS score_x1e6 FROM sc GROUP BY doc_id)
       |SELECT doc_id, n_match, score_x1e6 FROM ag
       |ORDER BY score_x1e6 DESC, doc_id LIMIT $k""".stripMargin
  }

  /** Within-document duplicate line/paragraph rules. Mirrors
    * [[graft.operators.TextAnalysis.GopherRepetition]]: space-trimmed
    * non-empty units, dup occurrences Σ(count−1), codepoint weights,
    * Gopher thresholds by integer cross-multiplication.
    */
  /** The deterministic fixture-shaping CTEs shared by [[gopherRepetition]]
    * and [[gopherFull]] (`sh0`/`sh1`/`shaped`): the corpus is
    * single-line, so derived lines/paragraphs give the repetition rules
    * real structure — duplicated lines for every 3rd doc, a duplicated
    * 25-token paragraph for every 5th.
    */
  private val gopherShapeCtes: String =
    s"""sh0 AS (SELECT doc_id, text, $Toks AS tk FROM documents),
       |sh1 AS (SELECT doc_id,
       |  array_to_string(list_slice(tk, 1, 5), ' ') AS l1,
       |  array_to_string(list_slice(tk, 6, 10), ' ') AS l2,
       |  array_to_string(list_slice(tk, 1, 25), ' ') AS p1, text
       |  FROM sh0),
       |shaped AS (SELECT doc_id,
       |  CASE WHEN doc_id % 5 = 0 THEN lined || chr(10) || chr(10) ||
       |    p1 || chr(10) || chr(10) || p1 ELSE lined END AS text
       |  FROM (SELECT *, CASE WHEN doc_id % 3 = 0
       |    THEN text || chr(10) || l1 || chr(10) || l1
       |    WHEN doc_id % 3 = 1
       |    THEN text || chr(10) || l1 || chr(10) || l2
       |    ELSE text END AS lined
       |  FROM sh1))""".stripMargin

  /** The `gopher_ngram` fixture shaping (mirrored by the Spark query):
    * every doc appends its own first-2-token phrase `doc_id % 9` times
    * and its first-10-token phrase `doc_id % 4` times, so the top-gram
    * and dup-gram fractions sweep across every rule's threshold. */
  private val gopherNgramShapeCtes: String =
    s"""ns0 AS (SELECT doc_id, text, $Toks AS tk FROM documents),
       |ns1 AS (SELECT doc_id,
       |  array_to_string(list_slice(tk, 1, 2), ' ') AS p2,
       |  array_to_string(list_slice(tk, 1, 10), ' ') AS p10, text
       |  FROM ns0),
       |shaped AS (SELECT doc_id,
       |  text || repeat(' ' || p2, CAST(doc_id % 9 AS INT)) ||
       |    repeat(' ' || p10, CAST(doc_id % 4 AS INT)) AS text
       |  FROM ns1)""".stripMargin

  /** The repetition counter + rule CTE block (`gr0`, `lu..ls`,
    * `pu..ps`, the per-n n-gram chains, `grj`/`grr` — `grr` carries
    * every counter and verdict), over the `from` relation
    * (`doc_id, text`). Mirrors
    * [[graft.operators.TextAnalysis.GopherRepetition]]: CRLF
    * normalization, lines on `chr(10)` keeping trailing empties,
    * paragraphs on the `\n[ \t\r]*\n` regex, space-trimmed non-empty
    * units; n-gram families over the house token convention with
    * `len(text)` codepoints as denominator. */
  private def gopherRepCtes(from: String = "shaped"): String = {
    def statsCte(splitExpr: String, p: String): String =
      s"""${p}u AS (SELECT doc_id, trim(x) AS u FROM (SELECT doc_id,
         |  unnest($splitExpr) AS x FROM gr0)
         |  WHERE trim(x) <> ''),
         |${p}g AS (SELECT doc_id, u, count(*) AS c, len(u) AS w
         |  FROM ${p}u GROUP BY doc_id, u),
         |${p}s AS (SELECT doc_id,
         |  CAST(sum(c) AS BIGINT) AS ${p}_total,
         |  CAST(sum(c - 1) AS BIGINT) AS ${p}_dup,
         |  CAST(sum(c * w) AS BIGINT) AS ${p}_chars,
         |  CAST(sum((c - 1) * w) AS BIGINT) AS ${p}_dupch
         |  FROM ${p}g GROUP BY doc_id)""".stripMargin
    // one gram table per n; the top family takes the max duplicate-char
    // mass, the dup family marks covered word positions (DISTINCT pos)
    // and sums their word lengths
    def gramCte(n: Int): String =
      s"""ng${n}g AS (SELECT doc_id, i,
         |  array_to_string(list_slice(tk, i, i + ${n - 1}), ' ') AS g
         |  FROM (SELECT doc_id, tk,
         |    unnest(generate_series(1, len(tk) - ${n - 1})) AS i
         |    FROM gr0))""".stripMargin
    def topCte(n: Int): String =
      s"""${gramCte(n)},
         |ng${n}t AS (SELECT doc_id, CAST(max(c * len(g)) AS BIGINT) AS cov
         |  FROM (SELECT doc_id, g, count(*) AS c FROM ng${n}g
         |        GROUP BY doc_id, g HAVING count(*) >= 2)
         |  GROUP BY doc_id)""".stripMargin
    def dupCte(n: Int): String =
      s"""${gramCte(n)},
         |ng${n}d AS (SELECT doc_id, g FROM ng${n}g
         |  GROUP BY doc_id, g HAVING count(*) >= 2),
         |ng${n}o AS (SELECT DISTINCT a.doc_id, a.i + u.u AS pos
         |  FROM ng${n}g a JOIN ng${n}d d
         |    ON a.doc_id = d.doc_id AND a.g = d.g
         |  CROSS JOIN (SELECT unnest(generate_series(0, ${n - 1})) AS u)
         |    u),
         |ng${n}v AS (SELECT o.doc_id, CAST(sum(w.wl) AS BIGINT) AS cov
         |  FROM ng${n}o o JOIN ngwl w
         |    ON o.doc_id = w.doc_id AND o.pos = w.pos
         |  GROUP BY o.doc_id)""".stripMargin
    val topJoins = Seq(2, 3, 4).map(n =>
      s"LEFT JOIN ng${n}t ON gr0.doc_id = ng${n}t.doc_id").mkString("\n  ")
    val dupJoins = (5 to 10).map(n =>
      s"LEFT JOIN ng${n}v ON gr0.doc_id = ng${n}v.doc_id").mkString("\n  ")
    val topCovs = Seq(2, 3, 4).map(n =>
      s"COALESCE(ng${n}t.cov, 0) AS top${n}_chars").mkString(",\n  ")
    val dupCovs = (5 to 10).map(n =>
      s"COALESCE(ng${n}v.cov, 0) AS dup${n}_chars").mkString(",\n  ")
    val ngramRules = (graft.operators.TextAnalysis.GopherRepetition
      .TopGramThresholds.map { case (n, num, den) =>
        s"top${n}_chars * $den <= $num * rep_chars AS r_top${n}_gram"
      } ++ graft.operators.TextAnalysis.GopherRepetition
      .DupGramThresholds.map { case (n, num, den) =>
        s"dup${n}_chars * $den <= $num * rep_chars AS r_dup${n}_gram"
      }).mkString(",\n  ")
    s"""gr0 AS (SELECT doc_id, text,
       |  replace(text, chr(13) || chr(10), chr(10)) AS t2,
       |  $Toks AS tk, CAST(len(text) AS BIGINT) AS nc FROM $from),
       |${statsCte("string_split(t2, chr(10))", "l")},
       |${statsCte("regexp_split_to_array(t2, '\\n[ \\t\\r]*\\n')", "p")},
       |ngwl AS (SELECT doc_id, pos, len(tk[pos]) AS wl
       |  FROM (SELECT doc_id, tk,
       |    unnest(generate_series(1, len(tk))) AS pos FROM gr0)),
       |${topCte(2)},
       |${topCte(3)},
       |${topCte(4)},
       |${(5 to 10).map(dupCte).mkString(",\n")},
       |grj AS (SELECT gr0.doc_id,
       |  COALESCE(l_total, 0) AS n_lines, COALESCE(l_dup, 0) AS dup_lines,
       |  COALESCE(l_chars, 0) AS line_chars,
       |  COALESCE(l_dupch, 0) AS dup_line_chars,
       |  COALESCE(p_total, 0) AS n_paras, COALESCE(p_dup, 0) AS dup_paras,
       |  COALESCE(p_chars, 0) AS para_chars,
       |  COALESCE(p_dupch, 0) AS dup_para_chars,
       |  gr0.nc AS rep_chars,
       |  $topCovs,
       |  $dupCovs
       |  FROM gr0
       |  LEFT JOIN ls ON gr0.doc_id = ls.doc_id
       |  LEFT JOIN ps ON gr0.doc_id = ps.doc_id
       |  $topJoins
       |  $dupJoins),
       |grr AS (SELECT *,
       |  10 * dup_lines <= 3 * n_lines AS r_dup_lines,
       |  5 * dup_line_chars <= line_chars AS r_dup_line_chars,
       |  10 * dup_paras <= 3 * n_paras AS r_dup_paras,
       |  5 * dup_para_chars <= para_chars AS r_dup_para_chars,
       |  $ngramRules
       |  FROM grj)""".stripMargin
  }

  /** The conjunction of every [[gopherRepCtes]] rule verdict (13 rules),
    * optionally qualified with a relation alias. */
  private def repAdmitExpr(alias: String = ""): String = {
    val q = if (alias.isEmpty) "" else alias + "."
    (Seq("r_dup_lines", "r_dup_line_chars", "r_dup_paras",
      "r_dup_para_chars", "r_top2_gram", "r_top3_gram", "r_top4_gram") ++
      (5 to 10).map(n => s"r_dup${n}_gram"))
      .map(q + _).mkString(" AND ")
  }

  def gopherRepetition: String =
    s"""WITH $gopherShapeCtes,
       |${gopherRepCtes()}
       |SELECT doc_id, n_lines, dup_lines, line_chars, dup_line_chars,
       |  n_paras, dup_paras, para_chars, dup_para_chars, rep_chars,
       |  top2_chars, top3_chars, top4_chars,
       |  dup5_chars, dup6_chars, dup7_chars, dup8_chars, dup9_chars,
       |  dup10_chars,
       |  r_dup_lines, r_dup_line_chars, r_dup_paras, r_dup_para_chars,
       |  r_top2_gram, r_top3_gram, r_top4_gram,
       |  r_dup5_gram, r_dup6_gram, r_dup7_gram, r_dup8_gram,
       |  r_dup9_gram, r_dup10_gram,
       |  ${repAdmitExpr()} AS admit
       |FROM grr ORDER BY doc_id""".stripMargin

  /** The n-gram half of the repetition gate on ITS OWN shaped corpus
    * (see the `gopher_ngram` query: phrase repeats driven by
    * `doc_id % 9` / `doc_id % 4` so every top/dup rule splits the
    * corpus). Mirrors `GopherRepetition`'s n-gram columns. */
  def gopherNgram: String =
    s"""WITH $gopherNgramShapeCtes,
       |${gopherRepCtes()}
       |SELECT doc_id, rep_chars,
       |  top2_chars, top3_chars, top4_chars,
       |  dup5_chars, dup6_chars, dup7_chars, dup8_chars, dup9_chars,
       |  dup10_chars,
       |  r_top2_gram, r_top3_gram, r_top4_gram,
       |  r_dup5_gram, r_dup6_gram, r_dup7_gram, r_dup8_gram,
       |  r_dup9_gram, r_dup10_gram,
       |  r_top2_gram AND r_top3_gram AND r_top4_gram AND r_dup5_gram
       |    AND r_dup6_gram AND r_dup7_gram AND r_dup8_gram
       |    AND r_dup9_gram AND r_dup10_gram AS ngram_admit
       |FROM grr ORDER BY doc_id""".stripMargin

  /** The COMPLETE Gopher gate: outlier rules AND the full repetition
    * rule set (structural + n-gram) over the same shaped corpus, one
    * admit. Mirrors the `gopher_full` composed query (two chained
    * zero-shuffle typed passes).
    */
  def gopherFull(minWords: Long, maxWords: Long,
                 stopwords: Seq[String]): String =
    s"""WITH $gopherShapeCtes,
       |${gopherCtes(minWords, maxWords, stopwords, from = "shaped")},
       |${gopherRepCtes()}
       |SELECT gf.doc_id, gf.admit AS rules_admit,
       |  ${repAdmitExpr("grr")} AS rep_admit,
       |  gf.admit AND ${repAdmitExpr("grr")} AS admit
       |FROM gf JOIN grr ON gf.doc_id = grr.doc_id
       |ORDER BY gf.doc_id""".stripMargin

  /** Gopher-style hard rule filter. Mirrors
    * [[graft.operators.TextAnalysis.GopherRules]]: integer counters,
    * cross-multiplied ratio rules, conjunction admit. Lines split on
    * chr(10) keeping trailing empties; bullet/ellipsis tests trim
    * spaces only (ltrim/rtrim defaults); word lengths in codepoints.
    */
  /** The [[gopherRules]] counter + rule CTE block (`gt`/`gc`/`gr`/`gf`
    * — `gf` carries every counter, every rule verdict and `admit`),
    * shared with the composed [[pipelineGopher]] chain.
    */
  private def gopherCtes(minWords: Long, maxWords: Long,
                         stopwords: Seq[String],
                         from: String = "documents"): String = {
    val stopsIn = stopwords.map(s => s"'$s'").mkString(", ")
    s"""gt AS (SELECT doc_id, text, $Toks AS tk,
       |  string_split(text, chr(10)) AS ln FROM $from),
       |gc AS (SELECT doc_id,
       |  CAST(len(tk) AS BIGINT) AS n_words,
       |  CAST(list_sum(list_transform(tk, x -> len(x))) AS BIGINT)
       |    AS word_chars,
       |  CAST(len(ln) AS BIGINT) AS n_lines,
       |  CAST(len(list_filter(ln, x ->
       |    substr(ltrim(x), 1, 1) IN ('-', '*', '•'))) AS BIGINT)
       |    AS bullet_lines,
       |  CAST(len(list_filter(ln, x -> right(rtrim(x), 3) = '...'
       |    OR right(rtrim(x), 1) = '…')) AS BIGINT) AS ellipsis_lines,
       |  CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-z]')))
       |    AS BIGINT) AS alpha_words,
       |  CAST((len(text) - len(replace(text, '#', '')))
       |    + (len(text) - len(replace(text, '...', ''))) // 3
       |    + (len(text) - len(replace(text, '…', ''))) AS BIGINT)
       |    AS symbol_marks,
       |  CAST(len(list_filter(list_distinct(tk), x -> x IN ($stopsIn)))
       |    AS BIGINT) AS stopword_hits
       |  FROM gt),
       |gr AS (SELECT *,
       |  n_words >= $minWords AND n_words <= $maxWords AS r_word_count,
       |  3 * n_words <= word_chars AND word_chars <= 10 * n_words
       |    AS r_mean_word_len,
       |  10 * symbol_marks <= n_words AS r_symbol_ratio,
       |  10 * bullet_lines <= 9 * n_lines AS r_bullet,
       |  10 * ellipsis_lines <= 3 * n_lines AS r_ellipsis,
       |  5 * alpha_words >= 4 * n_words AS r_alpha,
       |  stopword_hits >= 2 AS r_stopwords
       |  FROM gc),
       |gf AS (SELECT *,
       |  r_word_count AND r_mean_word_len AND r_symbol_ratio AND r_bullet
       |    AND r_ellipsis AND r_alpha AND r_stopwords AS admit
       |  FROM gr)""".stripMargin
  }

  /** `TextAnalysis.C4Clean` replayed over the `c4_clean` fixture
    * shaping: derived lines sweep the retention rules (terminal punct
    * incl. closing quote, >= minLineWords words, the javascript word),
    * every 5th doc gains a javascript boilerplate line, every 6th a
    * `lorem ipsum` tail, every 9th a brace line; the blocklist word is
    * the corpus's own rare token. Retention via list_filter (order
    * preserved), sentence marks counted on the RETAINED text. */
  def c4Clean(minLineWords: Long, minSentences: Long,
              blockWords: Seq[String]): String = {
    val blockIn = blockWords.map(w => s"'$w'").mkString(", ")
    val blockExpr =
      if (blockWords.isEmpty) "CAST(0 AS BIGINT)"
      else s"CAST(len(list_filter(list_distinct(dtk), " +
        s"x -> x IN ($blockIn))) AS BIGINT)"
    // one line's retention predicate (x = the raw line)
    val ltk = """string_split_regex(trim(lower(x)), '\s+')"""
    val keepPred =
      s"""len(rtrim(x)) > 0
         |      AND substr(rtrim(x), len(rtrim(x)), 1)
         |        IN ('.', '!', '?', '"')
         |      AND len($ltk) >= $minLineWords
         |      AND NOT list_contains($ltk, 'javascript')""".stripMargin
    s"""WITH s0 AS (SELECT doc_id, text, $Toks AS tk FROM documents),
       |s1 AS (SELECT doc_id,
       |  COALESCE(array_to_string(list_slice(tk, 1, 6), ' '), '')
       |    || '.' AS l1,
       |  COALESCE(array_to_string(list_slice(tk, 1, 3), ' '), '')
       |    || '!' AS l2,
       |  COALESCE(array_to_string(list_slice(tk, 7, 12), ' '), '')
       |    AS l3,
       |  COALESCE(array_to_string(list_slice(tk, 13, 18), ' '), '')
       |    || '?' AS l4,
       |  COALESCE(array_to_string(list_slice(tk, 19, 23), ' '), '')
       |    || '."' AS l5,
       |  CASE WHEN doc_id % 5 = 0
       |    THEN 'please enable javascript to view this page.'
       |    ELSE COALESCE(array_to_string(list_slice(tk, 4, 9), ' '), '')
       |      || '.'
       |  END AS lj
       |  FROM s0),
       |shaped AS (SELECT doc_id,
       |  l1 || chr(10) || l2 || chr(10) || l3 || chr(10) || l4 ||
       |  chr(10) || l5 || chr(10) || lj ||
       |  (CASE WHEN doc_id % 6 = 0
       |    THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END) ||
       |  (CASE WHEN doc_id % 9 = 0
       |    THEN chr(10) || 'var x = {' ELSE '' END) AS text
       |  FROM s1),
       |c40 AS (SELECT doc_id, text,
       |  replace(text, chr(13) || chr(10), chr(10)) AS t2,
       |  $Toks AS dtk FROM shaped),
       |c4x AS (SELECT doc_id, text, dtk,
       |  string_split(t2, chr(10)) AS lns,
       |  list_filter(string_split(t2, chr(10)), x ->
       |      $keepPred) AS kept,
       |  len(list_filter(string_split(t2, chr(10)), x ->
       |      list_contains($ltk, 'javascript'))) AS jsl
       |  FROM c40),
       |c4y AS (SELECT doc_id, text, dtk,
       |  CAST(len(lns) AS BIGINT) AS n_lines,
       |  CAST(len(kept) AS BIGINT) AS kept_lines,
       |  CAST(jsl AS BIGINT) AS js_lines,
       |  array_to_string(kept, chr(10)) AS clean_text FROM c4x),
       |c4z AS (SELECT *,
       |  CAST((len(clean_text) - len(replace(clean_text, '.', '')))
       |    + (len(clean_text) - len(replace(clean_text, '!', '')))
       |    + (len(clean_text) - len(replace(clean_text, '?', '')))
       |    AS BIGINT) AS n_sentences,
       |  $blockExpr AS block_hits,
       |  contains(text, '{') AS has_brace,
       |  contains(lower(text), 'lorem ipsum') AS has_lorem,
       |  CAST(len(clean_text) AS BIGINT) AS clean_chars
       |  FROM c4y),
       |c4f AS (SELECT *,
       |  n_sentences >= $minSentences AS r_sentences,
       |  NOT has_brace AS r_brace,
       |  NOT has_lorem AS r_lorem,
       |  block_hits = 0 AS r_block,
       |  n_sentences >= $minSentences AND NOT has_brace
       |    AND NOT has_lorem AND block_hits = 0 AS admit
       |  FROM c4z)
       |SELECT doc_id, n_lines, kept_lines, js_lines, n_sentences,
       |  block_hits, has_brace, has_lorem, r_sentences, r_brace,
       |  r_lorem, r_block, admit, clean_text, clean_chars
       |FROM c4f ORDER BY doc_id""".stripMargin
  }

  /** The `jsonl_ingest` mirror: DuckDB reads the SAME gzipped
    * shard=N JSONL files the query exported (explicit column schema —
    * the reader contract under test), then replays the Gopher rule
    * gate over them. */
  def jsonlIngest(minWords: Long, maxWords: Long,
                  stopwords: Seq[String], path: String): String =
    s"""WITH j AS (SELECT doc_id, text, lang, source,
       |    n_chars AS json_chars
       |  FROM read_json('$path/shard=*/*.json.gz',
       |    format = 'newline_delimited',
       |    columns = {doc_id: 'BIGINT', text: 'VARCHAR',
       |               lang: 'VARCHAR', source: 'VARCHAR',
       |               n_chars: 'BIGINT'})),
       |${gopherCtes(minWords, maxWords, stopwords, from = "j")}
       |SELECT j.doc_id, j.lang, j.source, j.json_chars, gf.n_words,
       |  gf.stopword_hits, gf.admit
       |FROM j JOIN gf USING (doc_id) ORDER BY j.doc_id""".stripMargin

  def gopherRules(minWords: Long, maxWords: Long,
                  stopwords: Seq[String] =
                    graft.operators.TextAnalysis.GopherStops): String =
    s"""WITH ${gopherCtes(minWords, maxWords, stopwords)}
       |SELECT doc_id, n_words, word_chars, n_lines, bullet_lines,
       |  ellipsis_lines, alpha_words, symbol_marks, stopword_hits,
       |  r_word_count, r_mean_word_len, r_symbol_ratio, r_bullet,
       |  r_ellipsis, r_alpha, r_stopwords, admit
       |FROM gf ORDER BY doc_id""".stripMargin

  /** The composed rule-gated pretraining-prep chain: [[gopherRules]]
    * admit filter -> context chunking -> exact token-budget packing
    * (the [[pipelinePretrain]] chunk+pack tail over the ADMITTED
    * corpus). Mirrors the `pipeline_gopher` Pipeline composition.
    */
  def pipelineGopher(minWords: Long, maxWords: Long,
                     stopwords: Seq[String], chunkTokens: Int,
                     overlapTokens: Int, budgetTokens: Long): String = {
    val stride = chunkTokens - overlapTokens
    s"""WITH ${gopherCtes(minWords, maxWords, stopwords)},
       |${gopherRepCtes(from = "documents")},
       |kept AS (SELECT gt.doc_id, gt.tk FROM gt
       |  JOIN gf USING (doc_id)
       |  JOIN grr ON gt.doc_id = grr.doc_id
       |  WHERE gf.admit AND ${repAdmitExpr("grr")}),
       |s2 AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n FROM kept),
       |ch AS (SELECT doc_id, n,
       |  unnest(range(0, greatest(n - $overlapTokens, 1), $stride))
       |    AS cs FROM s2),
       |c2 AS (SELECT doc_id, cs // $stride AS chunk_idx,
       |  least($chunkTokens, n - cs) AS sz,
       |  doc_id * 100000 + cs // $stride AS ck FROM ch),
       |rs AS (SELECT *, SUM(sz) OVER (ORDER BY ck
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM c2)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(sz AS BIGINT) AS n_chunk_tokens,
       |  CAST(cum AS BIGINT) AS cum_tokens,
       |  CAST((cum - sz) // $budgetTokens AS BIGINT) AS pack_id
       |FROM rs ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** Length-class (bucketed-batching) packing over whitespace token
    * counts. Mirrors [[graft.operators.Corpus.LengthBucketPack]]: class
    * = first band >= count, per-class rank by doc_id, packs of
    * `seqsPerPack`, pad to the class bound.
    */
  /** The [[lengthBucketPack]] class + per-class-rank CTE block
    * (`lbt`/`lbc`/`lbr`), shared with [[lengthBucketManifest]]. */
  private def lenBucketCtes(bands: Seq[Long]): String = {
    val clsCase = bands.zipWithIndex
      .map { case (bound, i) => s"WHEN n_tokens <= $bound THEN $i" }
      .mkString("CASE ", " ", " END")
    val tokCase = bands
      .map(bound => s"WHEN n_tokens <= $bound THEN $bound")
      .mkString("CASE ", " ", " END")
    s"""lbt AS (SELECT doc_id,
       |  CAST(len($Toks) AS BIGINT) AS n_tokens FROM documents),
       |lbc AS (SELECT doc_id, n_tokens,
       |  CAST($clsCase AS BIGINT) AS len_class,
       |  CAST($tokCase AS BIGINT) AS class_tokens FROM lbt),
       |lbr AS (SELECT *, CAST(row_number() OVER (
       |    PARTITION BY len_class ORDER BY doc_id) - 1 AS BIGINT)
       |  AS class_seq FROM lbc)""".stripMargin
  }

  def lengthBucketPack(bands: Seq[Long], seqsPerPack: Int): String =
    s"""WITH ${lenBucketCtes(bands)}
       |SELECT doc_id, n_tokens, len_class, class_tokens, class_seq,
       |  CAST(class_seq // $seqsPerPack AS BIGINT) AS pack_id,
       |  CAST(class_tokens - n_tokens AS BIGINT) AS pad_tokens
       |FROM lbr ORDER BY doc_id""".stripMargin

  /** Per-(class, pack) manifest rollup of [[lengthBucketPack]]. Mirrors
    * [[graft.operators.Corpus.LengthBucketManifest]] (seq_ids as the
    * space-joined string, the pack_manifest oracle convention).
    */
  def lengthBucketManifest(bands: Seq[Long], seqsPerPack: Int): String =
    s"""WITH ${lenBucketCtes(bands)}
       |SELECT len_class,
       |  CAST(class_seq // $seqsPerPack AS BIGINT) AS pack_id,
       |  CAST(count(*) AS BIGINT) AS n_seqs,
       |  CAST(min(class_tokens) AS BIGINT) AS class_tokens,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_raw_tokens,
       |  CAST(count(*) * min(class_tokens) - sum(n_tokens) AS BIGINT)
       |    AS pad_tokens,
       |  min(doc_id) AS first_key, max(doc_id) AS last_key,
       |  string_agg(CAST(doc_id AS VARCHAR), ' ' ORDER BY class_seq)
       |    AS seq_ids_str
       |FROM lbr GROUP BY len_class, pack_id
       |ORDER BY len_class, pack_id""".stripMargin

  /** Near-duplicate benchmark decontamination: MinHash signatures per
    * side, banded train-vs-eval candidate join, signature-agreement
    * estimate, per-train-doc rollup. Mirrors
    * [[graft.operators.Corpus.NearDupDecontaminate]] (train-side
    * band-bucket cap included).
    */
  def nearDupDecontaminate(evalPredicate: String, k: Int, bands: Int,
                           threshold: Double,
                           maxBucket: Long = 10000L): String = {
    val r = k / bands
    val sigCols = (0 until k).map { i =>
      s"list_min(list_transform(hs, x -> (${Portable.minHashA(i)} * x + " +
        s"${Portable.minHashB(i)}) % ${Portable.MinHashP})) AS s$i"
    }.mkString(",\n  ")
    def bandSelects(sigRel: String): String = (0 until bands).map { b =>
      val key = (0 until r).map(j => s"s${b * r + j}").mkString(", '-', ")
      s"SELECT doc_id, $b AS band, concat($key) AS key FROM $sigRel"
    }.mkString("\n  UNION ALL ")
    val agree = (0 until k)
      .map(i => s"CASE WHEN x.s$i = y.s$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH trt AS (SELECT doc_id, $Toks AS tk FROM documents
       |  WHERE NOT ($evalPredicate)),
       |trs AS (SELECT doc_id, $Shingles AS sh FROM trt),
       |trh AS (SELECT doc_id, list_transform(sh, x -> ${tokHash("x")})
       |  AS hs FROM trs WHERE len(sh) > 0),
       |tsig AS (SELECT doc_id,
       |  $sigCols
       |  FROM trh),
       |evt AS (SELECT doc_id, $Toks AS tk FROM documents
       |  WHERE $evalPredicate),
       |evs AS (SELECT doc_id, $Shingles AS sh FROM evt),
       |evh AS (SELECT doc_id, list_transform(sh, x -> ${tokHash("x")})
       |  AS hs FROM evs WHERE len(sh) > 0),
       |esig AS (SELECT doc_id,
       |  $sigCols
       |  FROM evh),
       |tb0 AS (
       |  ${bandSelects("tsig")}),
       |tb AS (SELECT * FROM tb0 t WHERE ${bucketCapPredicate(
            "tb0", Seq("band", "key"), maxBucket)}),
       |eb AS (
       |  ${bandSelects("esig")}),
       |cand AS (SELECT DISTINCT t.doc_id, e.doc_id AS eval_id
       |  FROM tb t JOIN eb e ON t.band = e.band AND t.key = e.key),
       |est AS (SELECT c.doc_id, c.eval_id,
       |  round(CAST($agree AS DOUBLE) / $k.0, 6) AS ej
       |  FROM cand c JOIN tsig x ON x.doc_id = c.doc_id
       |              JOIN esig y ON y.doc_id = c.eval_id),
       |hit AS (SELECT doc_id, count(*) AS n_eval_near, max(ej) AS mx
       |  FROM est WHERE ej >= $threshold GROUP BY doc_id)
       |SELECT t.doc_id,
       |  CAST(COALESCE(h.n_eval_near, 0) AS BIGINT) AS n_eval_near,
       |  COALESCE(h.mx, 0.0) AS max_est_jaccard,
       |  COALESCE(h.n_eval_near, 0) >= 1 AS near_contaminated
       |FROM trt t LEFT JOIN hit h USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Fixed-size overlapping token-window chunking. Mirrors
    * [[graft.operators.ChunkSplit]]: starts are the stride multiples
    * below `max(n - overlap, 1)`, every doc yields >= 1 chunk.
    */
  def chunkSplit(chunkTokens: Int, overlapTokens: Int,
                 tkSql: String = Toks): String = {
    val stride = chunkTokens - overlapTokens
    s"""WITH t AS (SELECT doc_id, $tkSql AS tk FROM documents),
       |s AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n FROM t),
       |c AS (SELECT doc_id, tk, n,
       |  unnest(range(0, greatest(n - $overlapTokens, 1), $stride))
       |    AS cs FROM s)
       |SELECT doc_id,
       |  CAST(cs // $stride AS BIGINT) AS chunk_idx,
       |  CAST(cs AS BIGINT) AS chunk_start,
       |  CAST(least($chunkTokens, n - cs) AS BIGINT) AS n_chunk_tokens,
       |  array_to_string(list_slice(tk, cs + 1, cs + $chunkTokens), ' ')
       |    AS chunk_text
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** Chunk-then-pack composition: [[chunkSplit]]'s windows packed into
    * contiguous fixed-token-budget sequences by the [[shardPack]] prefix
    * sum over the chunk key. Mirrors the `sequence_pack` query's
    * `ChunkSplit |> ShardPack` composition.
    */
  def sequencePack(chunkTokens: Int, overlapTokens: Int,
                   budgetTokens: Long, tkSql: String = Toks): String = {
    val stride = chunkTokens - overlapTokens
    s"""WITH t AS (SELECT doc_id, $tkSql AS tk FROM documents),
       |s AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n FROM t),
       |c AS (SELECT doc_id, n,
       |  unnest(range(0, greatest(n - $overlapTokens, 1), $stride))
       |    AS cs FROM s),
       |c2 AS (SELECT doc_id, cs // $stride AS chunk_idx,
       |  least($chunkTokens, n - cs) AS sz,
       |  doc_id * 100000 + cs // $stride AS ck FROM c),
       |r AS (SELECT *, SUM(sz) OVER (ORDER BY ck
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM c2)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(sz AS BIGINT) AS n_chunk_tokens,
       |  CAST(cum AS BIGINT) AS cum_tokens,
       |  CAST((cum - sz) // $budgetTokens AS BIGINT) AS pack_id
       |FROM r ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** Deterministic md5-permutation training order with round-robin shard
    * interleave. The plain rank window IS the spec; mirrors the exact
    * two-phase prefix-sum formulation of
    * [[graft.operators.InterleaveShuffle]].
    */
  def interleaveShuffle(numShards: Int, salt: String): String =
    s"""WITH t AS (SELECT doc_id,
       |  substr(md5('$salt:' || CAST(doc_id AS VARCHAR)), 1, 8)
       |    AS shuffle_key FROM documents),
       |r AS (SELECT doc_id, shuffle_key,
       |  CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) - 1
       |    AS BIGINT) AS global_pos FROM t)
       |SELECT doc_id, shuffle_key, global_pos,
       |  CAST(global_pos % $numShards AS BIGINT) AS shard,
       |  CAST(global_pos // $numShards AS BIGINT) AS pos_in_shard
       |FROM r ORDER BY doc_id""".stripMargin

  /** Phase-major curriculum order: global positions under the
    * lexicographic `(phase, shuffle_key, doc_id)` order, where phase is
    * the `phaseTokens`-wide whitespace-token-count band. Mirrors
    * [[graft.operators.CurriculumOrder]] over documents.
    */
  def curriculumOrder(phaseTokens: Int, numShards: Int,
                      salt: String): String =
    s"""WITH t AS (SELECT doc_id,
       |  CAST(len($Toks) // $phaseTokens AS BIGINT) AS phase,
       |  substr(md5('$salt:' || CAST(doc_id AS VARCHAR)), 1, 8)
       |    AS shuffle_key FROM documents),
       |r AS (SELECT doc_id, phase, shuffle_key,
       |  CAST(row_number() OVER (ORDER BY phase, shuffle_key, doc_id) - 1
       |    AS BIGINT) AS global_pos FROM t)
       |SELECT doc_id, phase, shuffle_key, global_pos,
       |  CAST(global_pos % $numShards AS BIGINT) AS shard,
       |  CAST(global_pos // $numShards AS BIGINT) AS pos_in_shard
       |FROM r ORDER BY doc_id""".stripMargin

  /** Corpus-unigram mean log-probability per doc; per-token logprobs
    * scaled to 1e-6 longs so the sum is exact. Mirrors
    * [[graft.operators.Corpus.UnigramLogProb]].
    */
  /** Corpus-bigram conditional log-probability per document (MLE
    * `ln(c(prev cur) / c(prev _))` on the 1e-6 integer lattice).
    * Mirrors [[graft.operators.Corpus.BigramLogProb]].
    */
  def bigramLogProb: String =
    s"""WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
       |b AS (SELECT doc_id,
       |    unnest(list_transform(range(1, len(toks)),
       |      i -> toks[i] || ' ' || toks[i + 1])) AS big
       |  FROM t WHERE len(toks) >= 2),
       |cb AS (SELECT big, count(*) AS cbig FROM b GROUP BY big),
       |cp AS (SELECT string_split(big, ' ')[1] AS prev,
       |    count(*) AS cprev FROM b GROUP BY 1),
       |l AS (SELECT cb.big, CAST(round(ln(CAST(cb.cbig AS DOUBLE) /
       |    CAST(cp.cprev AS DOUBLE)) * 1000000) AS BIGINT) AS lp
       |  FROM cb JOIN cp ON string_split(cb.big, ' ')[1] = cp.prev),
       |a AS (SELECT b.doc_id, count(*) AS n_bigrams, sum(l.lp) AS lp_sum
       |  FROM b JOIN l USING (big) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |  COALESCE(round(CAST(a.lp_sum AS DOUBLE) /
       |    (a.n_bigrams * 1000000.0), 6), 0.0) AS avg_bigram_logprob
       |FROM (SELECT doc_id FROM documents) d LEFT JOIN a USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  def unigramLogProb: String =
    s"""WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
       |p AS (SELECT doc_id, unnest(toks) AS token FROM t),
       |c AS (SELECT token, count(*) AS cnt FROM p GROUP BY token),
       |tot AS (SELECT sum(cnt) AS total FROM c),
       |l AS (SELECT p.doc_id, CAST(round(ln(CAST(c.cnt AS DOUBLE) /
       |    CAST(tot.total AS DOUBLE)) * 1000000) AS BIGINT) AS lp
       |  FROM p JOIN c USING (token) CROSS JOIN tot),
       |a AS (SELECT doc_id, count(*) AS n_tokens, sum(lp) AS lp_sum
       |  FROM l GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       |  COALESCE(round(CAST(a.lp_sum AS DOUBLE) /
       |    (a.n_tokens * 1000000.0), 6), 0.0) AS avg_logprob
       |FROM (SELECT doc_id FROM documents) d LEFT JOIN a USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Cluster-balanced embedding subsample: IvfTopK's deterministic
    * centroid assignment + an md5-hash-order quota per cluster. Mirrors
    * [[graft.operators.Similarity.ClusterBalancedSample]].
    */
  def clusterBalancedSample(dim: Int, nlist: Int, quota: Long,
                            salt: String): String = {
    val vec = new VecSql(dim); import vec._
    s"""$QuantizedVecs,
       |hh AS (SELECT id,
       |  CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8) AS BIGINT)
       |    AS h FROM n),
       |sel AS (SELECT id, h FROM hh ORDER BY h, id LIMIT $nlist),
       |cents AS (SELECT row_number() OVER (ORDER BY s.h, s.id) AS cid,
       |  n.q AS cq, n.nrm AS cnrm FROM sel s JOIN n ON n.id = s.id),
       |asgn0 AS (SELECT n.id, c.cid,
       |  row_number() OVER (PARTITION BY n.id ORDER BY
       |    ${cosE("n.q", "c.cq", "n.nrm", "c.cnrm")} DESC, c.cid ASC)
       |    AS rn
       |  FROM n CROSS JOIN cents c),
       |b AS (SELECT id, cid,
       |  substr(md5('$salt:' || CAST(id AS VARCHAR)), 1, 8)
       |    AS sample_bucket
       |  FROM asgn0 WHERE rn = 1),
       |r AS (SELECT *, row_number() OVER (PARTITION BY cid
       |    ORDER BY sample_bucket, id) AS crn FROM b)
       |SELECT id AS vec_id, CAST(cid AS BIGINT) AS cluster_id,
       |  sample_bucket, CAST(crn AS BIGINT) AS cluster_rank
       |FROM r WHERE crn <= $quota ORDER BY vec_id""".stripMargin
  }

  /** Per-document top-k TF-IDF terms, smoothed idf, round-6 scores. */
  def tfIdfTopK(k: Int): String =
    s"""WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
       |p AS (SELECT doc_id, unnest(toks) AS term FROM t),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM p GROUP BY 1, 2),
       |d AS (SELECT *, count(*) OVER (PARTITION BY term) AS df FROM tf),
       |n AS (SELECT count(*) AS n FROM documents),
       |sc AS (SELECT doc_id, term, tf, df,
       |  round(tf * (ln((n.n + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
       |  FROM d CROSS JOIN n),
       |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY tfidf DESC, term ASC) AS rank FROM sc)
       |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term,
       |  CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, tfidf
       |FROM r WHERE rank <= $k ORDER BY doc_id, rank""".stripMargin

  /** Benchmark decontamination: distinct 3-gram shingle overlap of every
    * training document (NOT `evalPredicate`) against the union of eval
    * shingles (`evalPredicate` rows). Mirrors
    * [[graft.operators.Corpus.Decontaminate]].
    */
  def decontaminate(evalPredicate: String, minOverlap: Long): String =
    s"""WITH trt AS (SELECT doc_id, $Toks AS tk FROM documents
       |  WHERE NOT ($evalPredicate)),
       |trs AS (SELECT doc_id, $Shingles AS sh FROM trt),
       |evt AS (SELECT doc_id, $Toks AS tk FROM documents
       |  WHERE $evalPredicate),
       |evs AS (SELECT DISTINCT unnest($Shingles) AS shingle FROM evt),
       |u AS (SELECT doc_id, unnest(sh) AS shingle FROM trs),
       |ov AS (SELECT u.doc_id, count(*) AS n_overlap
       |  FROM u JOIN evs USING (shingle) GROUP BY u.doc_id)
       |SELECT t.doc_id,
       |  CAST(len(t.sh) AS BIGINT) AS n_shingles,
       |  CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
       |  round(CASE WHEN len(t.sh) > 0
       |    THEN CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE) /
       |         CAST(len(t.sh) AS DOUBLE)
       |    ELSE 0.0 END, 6) AS contamination_ratio,
       |  COALESCE(ov.n_overlap, 0) >= $minOverlap AS contaminated
       |FROM trs t LEFT JOIN ov USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Per-EVAL-doc contamination report: distinct-shingle leak counts
    * against the training corpus plus the df-capped distinct-train-doc
    * count. Mirrors [[graft.operators.Corpus.ContaminationReport]].
    */
  def contaminationReport(evalPredicate: String,
                          maxDocFreq: Long): String =
    s"""WITH evt AS (SELECT doc_id, $Toks AS tk FROM documents
       |  WHERE $evalPredicate),
       |evs AS (SELECT doc_id, $Shingles AS sh FROM evt),
       |ev AS (SELECT doc_id, unnest(sh) AS shingle FROM evs),
       |trt AS (SELECT doc_id, $Toks AS tk FROM documents
       |  WHERE NOT ($evalPredicate)),
       |trs AS (SELECT doc_id AS tid, unnest($Shingles) AS shingle
       |  FROM trt),
       |cont AS (SELECT ev.doc_id, count(*) AS n_contaminated
       |  FROM ev JOIN (SELECT DISTINCT shingle FROM trs) t
       |  USING (shingle) GROUP BY 1),
       |pairable AS (SELECT shingle FROM trs GROUP BY shingle
       |  HAVING count(*) <= $maxDocFreq),
       |pairs AS (SELECT DISTINCT ev.doc_id, trs.tid
       |  FROM ev JOIN pairable USING (shingle) JOIN trs USING (shingle)),
       |np AS (SELECT doc_id, count(*) AS n_train_docs FROM pairs
       |  GROUP BY 1)
       |SELECT e.doc_id, CAST(len(e.sh) AS BIGINT) AS n_shingles,
       |  CAST(COALESCE(cont.n_contaminated, 0) AS BIGINT)
       |    AS n_contaminated,
       |  CAST(COALESCE(np.n_train_docs, 0) AS BIGINT) AS n_train_docs,
       |  round(CASE WHEN len(e.sh) > 0
       |    THEN CAST(COALESCE(cont.n_contaminated, 0) AS DOUBLE) /
       |         CAST(len(e.sh) AS DOUBLE)
       |    ELSE 0.0 END, 6) AS contamination_ratio
       |FROM evs e LEFT JOIN cont USING (doc_id)
       |  LEFT JOIN np USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Boilerplate ratio per training doc: distinct 3-gram shingles whose
    * corpus document frequency exceeds `maxDocFreq`. Mirrors
    * [[graft.operators.Corpus.BoilerplateScore]].
    */
  def textBoilerplate(maxDocFreq: Long): String =
    s"""WITH t AS (SELECT doc_id, $Toks AS tk FROM documents),
       |s AS (SELECT doc_id, $Shingles AS sh FROM t),
       |u AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
       |hot AS (SELECT shingle FROM u GROUP BY shingle
       |  HAVING count(*) > $maxDocFreq),
       |b AS (SELECT u.doc_id, count(*) AS n_boiler
       |  FROM u JOIN hot USING (shingle) GROUP BY u.doc_id)
       |SELECT s.doc_id,
       |  CAST(len(s.sh) AS BIGINT) AS n_shingles,
       |  CAST(COALESCE(b.n_boiler, 0) AS BIGINT) AS n_boiler,
       |  round(CASE WHEN len(s.sh) > 0
       |    THEN CAST(COALESCE(b.n_boiler, 0) AS DOUBLE) /
       |         CAST(len(s.sh) AS DOUBLE)
       |    ELSE 0.0 END, 6) AS boiler_ratio
       |FROM s LEFT JOIN b USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** The composed pretraining-prep path: per-language `[p(lo), p(hi)]`
    * n_chars band gate, temperature mixture with budgets recomputed over
    * the GATED corpus, context chunking, exact token-budget sequence
    * packing over the chunk key. Mirrors the `pipeline_pretrain` query's
    * Stage chain ([[qualityBand]] -> [[mixTemperature]] ->
    * [[sequencePack]] composed over the surviving rows).
    */
  def pipelinePretrain(lo: Double, hi: Double, totalBudget: Long,
                       salt: String, chunkTokens: Int, overlapTokens: Int,
                       budgetTokens: Long): String = {
    val stride = chunkTokens - overlapTokens
    s"""WITH r0 AS (SELECT doc_id, lang, n_chars,
       |  row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
       |  count(*) OVER (PARTITION BY lang) AS cnt FROM documents),
       |th AS (SELECT lang,
       |  max(CASE WHEN rn = CAST(ceil($lo * cnt) AS BIGINT)
       |    THEN n_chars END) AS blo,
       |  max(CASE WHEN rn = CAST(ceil($hi * cnt) AS BIGINT)
       |    THEN n_chars END) AS bhi
       |  FROM r0 GROUP BY lang),
       |g AS (SELECT d.doc_id, d.source, d.text FROM documents d
       |  JOIN th USING (lang)
       |  WHERE d.n_chars >= th.blo AND d.n_chars <= th.bhi),
       |t AS (SELECT doc_id, source, text,
       |  CAST(len($Toks) AS BIGINT) AS n_tokens FROM g),
       |tot AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS T
       |  FROM t GROUP BY source),
       |w AS (SELECT source,
       |  CAST(round(sqrt(CAST(T AS DOUBLE)) * 1000000.0) AS BIGINT)
       |    AS wl FROM tot),
       |nw AS (SELECT CAST(sum(wl) AS BIGINT) AS W FROM w),
       |b AS (SELECT source,
       |  CAST(floor(CAST($totalBudget AS DOUBLE) *
       |    (CAST(wl AS DOUBLE) / CAST(W AS DOUBLE))) AS BIGINT)
       |    AS mix_budget FROM w CROSS JOIN nw),
       |sb AS (SELECT t.*,
       |  substr(md5('$salt:' || CAST(doc_id AS VARCHAR)), 1, 8)
       |    AS sample_bucket FROM t),
       |cm AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source
       |    ORDER BY sample_bucket, doc_id ROWS UNBOUNDED PRECEDING)
       |    AS cum_tokens FROM sb),
       |kept AS (SELECT cm.doc_id, cm.text FROM cm JOIN b USING (source)
       |  WHERE cm.cum_tokens <= b.mix_budget),
       |t2 AS (SELECT doc_id, $Toks AS tk FROM kept),
       |s2 AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n FROM t2),
       |c AS (SELECT doc_id, n,
       |  unnest(range(0, greatest(n - $overlapTokens, 1), $stride))
       |    AS cs FROM s2),
       |c2 AS (SELECT doc_id, cs // $stride AS chunk_idx,
       |  least($chunkTokens, n - cs) AS sz,
       |  doc_id * 100000 + cs // $stride AS ck FROM c),
       |r AS (SELECT *, SUM(sz) OVER (ORDER BY ck
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM c2)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(sz AS BIGINT) AS n_chunk_tokens,
       |  CAST(cum AS BIGINT) AS cum_tokens,
       |  CAST((cum - sz) // $budgetTokens AS BIGINT) AS pack_id
       |FROM r ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** Cross-document duplicated-span scoring: positions whose word
    * `n`-gram occurs in >= `minDocFreq` distinct documents chain into
    * maximal spans when their token ranges overlap (`gap < n`); covered
    * tokens per span are `hi - lo + n` (the exact union). Mirrors
    * [[graft.operators.Corpus.DupSpans]].
    */
  def textDupSpans(n: Int, minDocFreq: Long): String =
    s"""WITH t AS (SELECT doc_id, $Toks AS tk FROM documents),
       |s AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_tokens
       |  FROM t),
       |p AS (SELECT doc_id, tk,
       |  unnest(range(0, n_tokens - ${n - 1})) AS pos
       |  FROM s WHERE n_tokens >= $n),
       |sh AS (SELECT doc_id, pos,
       |  array_to_string(list_slice(tk, pos + 1, pos + $n), ' ')
       |    AS shingle FROM p),
       |hot AS (SELECT shingle FROM
       |  (SELECT DISTINCT shingle, doc_id FROM sh)
       |  GROUP BY shingle HAVING count(*) >= $minDocFreq),
       |d AS (SELECT sh.doc_id, sh.pos FROM sh JOIN hot USING (shingle)),
       |b AS (SELECT doc_id, pos, CASE WHEN lag(pos) OVER w IS NULL
       |    OR pos - lag(pos) OVER w >= $n THEN 1 ELSE 0 END AS brk
       |  FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |g AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id
       |    ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp FROM b),
       |sp AS (SELECT doc_id, grp, min(pos) AS lo, max(pos) AS hi
       |  FROM g GROUP BY 1, 2),
       |a AS (SELECT doc_id, count(*) AS n_dup_spans,
       |  sum(hi - lo + $n) AS n_dup_tokens FROM sp GROUP BY doc_id)
       |SELECT s.doc_id, s.n_tokens,
       |  CAST(COALESCE(a.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       |  CAST(COALESCE(a.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
       |  round(CASE WHEN s.n_tokens > 0 THEN
       |    CAST(COALESCE(a.n_dup_tokens, 0) AS DOUBLE) /
       |    CAST(s.n_tokens AS DOUBLE) ELSE 0.0 END, 6) AS dup_ratio
       |FROM s LEFT JOIN a USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Exact-substring dedup applied: rebuild each doc's canonical token
    * stream with duplicated spans (the [[textDupSpans]] algebra) removed.
    * Mirrors [[graft.operators.Corpus.StripDupSpans]].
    */
  /** Line-level dedup applied (graft.operators.Corpus.HotLineStrip over
    * the synthetic multi-line docs of `text_striplines`): exact-line
    * distinct-doc frequency, strip lines with df > maxDocFreq, rebuild
    * in line order. Null text (null-propagating concat) is the 0-line
    * empty-clean_text class.
    */
  def textStripLines(maxDocFreq: Long, onlyIds: String = "TRUE"): String =
    s"""WITH ml AS (SELECT doc_id,
       |  text || chr(10) || 'Cookie notice: accept all cookies' ||
       |  chr(10) || lang || ' footer' AS text FROM documents),
       |l AS (SELECT doc_id,
       |  unnest(generate_series(1, len(sl))) AS pos, unnest(sl) AS line
       |  FROM (SELECT doc_id, string_split(text, chr(10)) AS sl
       |        FROM ml)),
       |hot AS (SELECT line FROM (
       |  SELECT line, count(DISTINCT doc_id) AS df FROM l GROUP BY line)
       |  WHERE df > $maxDocFreq),
       |kept AS (SELECT l.doc_id, l.pos, l.line FROM l
       |  ANTI JOIN hot USING (line)),
       |reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept_lines,
       |  string_agg(line, chr(10) ORDER BY pos) AS clean_text
       |  FROM kept GROUP BY doc_id)
       |SELECT m.doc_id,
       |  CAST(coalesce(len(string_split(m.text, chr(10))), 0) AS BIGINT)
       |    AS n_lines,
       |  coalesce(r.n_kept_lines, 0) AS n_kept_lines,
       |  coalesce(r.clean_text, '') AS clean_text
       |FROM ml m LEFT JOIN reb r USING (doc_id)
       |WHERE $onlyIds
       |ORDER BY m.doc_id""".stripMargin

  def textStripSpans(n: Int, minDocFreq: Long): String =
    s"""WITH t AS (SELECT doc_id, $Toks AS tk FROM documents),
       |s AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_tokens
       |  FROM t),
       |p AS (SELECT doc_id, tk,
       |  unnest(range(0, n_tokens - ${n - 1})) AS pos
       |  FROM s WHERE n_tokens >= $n),
       |sh AS (SELECT doc_id, pos,
       |  array_to_string(list_slice(tk, pos + 1, pos + $n), ' ')
       |    AS shingle FROM p),
       |hot AS (SELECT shingle FROM
       |  (SELECT DISTINCT shingle, doc_id FROM sh)
       |  GROUP BY shingle HAVING count(*) >= $minDocFreq),
       |d AS (SELECT sh.doc_id, sh.pos FROM sh JOIN hot USING (shingle)),
       |b AS (SELECT doc_id, pos, CASE WHEN lag(pos) OVER w IS NULL
       |    OR pos - lag(pos) OVER w >= $n THEN 1 ELSE 0 END AS brk
       |  FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |g AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id
       |    ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp FROM b),
       |sp AS (SELECT doc_id, grp, min(pos) AS lo, max(pos) AS hi
       |  FROM g GROUP BY 1, 2),
       |tok AS (SELECT doc_id, pos, tk[pos + 1] AS tok FROM
       |  (SELECT doc_id, tk, unnest(range(0, n_tokens)) AS pos
       |   FROM s WHERE n_tokens > 0)),
       |kept AS (SELECT t2.doc_id, t2.pos, t2.tok FROM tok t2
       |  WHERE NOT EXISTS (SELECT 1 FROM sp
       |    WHERE sp.doc_id = t2.doc_id
       |      AND t2.pos >= sp.lo AND t2.pos <= sp.hi + ${n - 1})),
       |reb AS (SELECT doc_id, count(*) AS n_kept_tokens,
       |  string_agg(tok, ' ' ORDER BY pos) AS clean_text
       |  FROM kept GROUP BY doc_id)
       |SELECT s.doc_id, s.n_tokens,
       |  CAST(COALESCE(reb.n_kept_tokens, 0) AS BIGINT) AS n_kept_tokens,
       |  COALESCE(reb.clean_text, '') AS clean_text
       |FROM s LEFT JOIN reb USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Corpus vocabulary top-k by term frequency, token-ascending ties.
    * Mirrors [[graft.operators.Corpus.VocabTopK]].
    */
  def vocabTopK(k: Int): String =
    s"""WITH t AS (SELECT doc_id, unnest($Toks) AS token FROM documents),
       |v AS (SELECT token, count(*) AS term_freq,
       |  count(DISTINCT doc_id) AS doc_freq FROM t GROUP BY token)
       |SELECT token, CAST(term_freq AS BIGINT) AS term_freq,
       |  CAST(doc_freq AS BIGINT) AS doc_freq
       |FROM v ORDER BY term_freq DESC, token LIMIT $k""".stripMargin

  /** Exact discrete per-group quantiles (value at 1-based rank
    * `ceil(q * count)` of the ascending sort). Mirrors
    * [[graft.operators.Corpus.QuantileStats]] over (lang, n_chars).
    */
  def statsQuantiles(quantiles: Seq[(String, Double)]): String = {
    val qCols = quantiles.map { case (name, q) =>
      s"""CAST(max(CASE WHEN rn = CAST(ceil($q * cnt) AS BIGINT)
         |    THEN v END) AS BIGINT) AS $name""".stripMargin
    }.mkString(",\n  ")
    s"""WITH r AS (SELECT lang, n_chars AS v,
       |  row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
       |  count(*) OVER (PARTITION BY lang) AS cnt
       |  FROM documents)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n,
       |  $qCols
       |FROM r GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Per-group top-k by score (desc, key-asc ties). Mirrors
    * [[graft.operators.Sampling.GroupTopK]] over (source, n_chars).
    */
  def topDocsPerGroup(k: Long): String =
    s"""WITH r AS (SELECT doc_id, source, n_chars,
       |  row_number() OVER (PARTITION BY source
       |    ORDER BY n_chars DESC, doc_id) AS group_rank
       |  FROM documents)
       |SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
       |  CAST(group_rank AS BIGINT) AS group_rank
       |FROM r WHERE group_rank <= $k ORDER BY doc_id""".stripMargin

  /** Exact per-group cumulative rank / percentile (cume-dist ties).
    * Mirrors [[graft.operators.PercentileRank]] over (lang, n_chars).
    */
  def pctRank: String =
    s"""WITH r AS (SELECT doc_id, lang, n_chars,
       |  count(*) OVER (PARTITION BY lang ORDER BY n_chars
       |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS value_rank,
       |  count(*) OVER (PARTITION BY lang) AS n FROM documents)
       |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
       |  CAST(value_rank AS BIGINT) AS value_rank,
       |  round(CAST(value_rank AS DOUBLE) / CAST(n AS DOUBLE), 6)
       |    AS pct_rank
       |FROM r ORDER BY doc_id""".stripMargin

  /** Per-language quantile band filter: keep documents whose `n_chars`
    * lies within the closed `[p(lo), p(hi)]` band of their own
    * language's distribution; thresholds are the exact discrete
    * quantiles of [[statsQuantiles]] (value at 1-based rank
    * `ceil(q * count)` — `$lo`/`$hi` interpolate as plain decimal
    * literals, which DuckDB multiplies in exact DECIMAL arithmetic, the
    * same exactness as the Spark side's BigDecimal rank). Mirrors
    * [[graft.operators.Corpus.QuantileBandFilter]].
    */
  def qualityBand(lo: Double, hi: Double): String =
    s"""WITH r AS (SELECT lang, n_chars AS v,
       |  row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
       |  count(*) OVER (PARTITION BY lang) AS cnt
       |  FROM documents),
       |th AS (SELECT lang,
       |  CAST(max(CASE WHEN rn = CAST(ceil($lo * cnt) AS BIGINT)
       |    THEN v END) AS BIGINT) AS band_lo,
       |  CAST(max(CASE WHEN rn = CAST(ceil($hi * cnt) AS BIGINT)
       |    THEN v END) AS BIGINT) AS band_hi
       |  FROM r GROUP BY lang)
       |SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars,
       |  th.band_lo, th.band_hi
       |FROM documents d JOIN th USING (lang)
       |WHERE d.n_chars >= th.band_lo AND d.n_chars <= th.band_hi
       |ORDER BY doc_id""".stripMargin

  /** Per-group winsorization: clamp n_chars into the group's exact
    * [p(lo), p(hi)] band, row-preserving. Mirrors
    * [[graft.operators.Corpus.QuantileClamp]].
    */
  def qualityWinsor(lo: Double, hi: Double): String =
    s"""WITH r AS (SELECT lang, n_chars AS v,
       |  row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
       |  count(*) OVER (PARTITION BY lang) AS cnt
       |  FROM documents),
       |th AS (SELECT lang,
       |  CAST(max(CASE WHEN rn = CAST(ceil($lo * cnt) AS BIGINT)
       |    THEN v END) AS BIGINT) AS band_lo,
       |  CAST(max(CASE WHEN rn = CAST(ceil($hi * cnt) AS BIGINT)
       |    THEN v END) AS BIGINT) AS band_hi
       |  FROM r GROUP BY lang)
       |SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars,
       |  CAST(greatest(least(d.n_chars, th.band_hi), th.band_lo)
       |    AS BIGINT) AS n_chars_winsor,
       |  th.band_lo, th.band_hi
       |FROM documents d JOIN th USING (lang)
       |ORDER BY doc_id""".stripMargin

  /** Per-group robust scaling `(x − median) / (p(hi) − p(lo))` with
    * discrete-quantile thresholds and NULL where the band is a single
    * value. Mirrors [[graft.operators.Corpus.RobustScale]] over
    * (lang, n_chars).
    */
  def qualityRobust(lo: Double, hi: Double): String =
    s"""WITH r AS (SELECT lang, n_chars AS v,
       |  row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
       |  count(*) OVER (PARTITION BY lang) AS cnt
       |  FROM documents),
       |th AS (SELECT lang,
       |  CAST(max(CASE WHEN rn = CAST(ceil($lo * cnt) AS BIGINT)
       |    THEN v END) AS BIGINT) AS scale_lo,
       |  CAST(max(CASE WHEN rn = CAST(ceil(0.5 * cnt) AS BIGINT)
       |    THEN v END) AS BIGINT) AS scale_med,
       |  CAST(max(CASE WHEN rn = CAST(ceil($hi * cnt) AS BIGINT)
       |    THEN v END) AS BIGINT) AS scale_hi
       |  FROM r GROUP BY lang)
       |SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars,
       |  CASE WHEN th.scale_hi = th.scale_lo THEN NULL
       |    ELSE round(CAST(d.n_chars - th.scale_med AS DOUBLE)
       |      / CAST(th.scale_hi - th.scale_lo AS DOUBLE), 6) END
       |    AS n_chars_robust,
       |  th.scale_lo, th.scale_med, th.scale_hi
       |FROM documents d JOIN th USING (lang)
       |ORDER BY doc_id""".stripMargin

  /** Byte-balanced shard packing: running byte sum ordered by doc_id,
    * shard = start offset / target. Mirrors
    * [[graft.operators.Corpus.ShardPack]] (which computes the identical
    * prefix sum with the two-phase distributed formulation).
    */
  /** [[shardPack]]'s prefix-sum assignment rolled up per pack —
    * `Corpus.PackManifest`: straddling packs exceed the budget and pad
    * zero (`greatest(budget - total, 0)`); `seq_offsets_str` replays
    * the intra-pack offset list as the exclusive running token sum
    * WITHIN each pack in key order (r16). */
  def packManifest(targetBytes: Long): String =
    s"""WITH r AS (SELECT doc_id, n_chars,
       |  SUM(n_chars) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM documents),
       |s AS (SELECT doc_id, n_chars,
       |  (cum - n_chars) // $targetBytes AS shard FROM r),
       |st AS (SELECT doc_id, n_chars, shard,
       |  COALESCE(SUM(n_chars) OVER (PARTITION BY shard ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS start_token FROM s)
       |SELECT CAST(shard AS BIGINT) AS pack_id,
       |  CAST(count(*) AS BIGINT) AS n_seqs,
       |  CAST(sum(n_chars) AS BIGINT) AS n_tokens,
       |  CAST(greatest($targetBytes - sum(n_chars), 0) AS BIGINT)
       |    AS pad_tokens,
       |  CAST(min(doc_id) AS BIGINT) AS first_key,
       |  CAST(max(doc_id) AS BIGINT) AS last_key,
       |  string_agg(doc_id || ':' || start_token, ' ' ORDER BY doc_id)
       |    AS seq_offsets_str
       |FROM st GROUP BY shard ORDER BY pack_id""".stripMargin

  /** `pipeline_pretrain_bpe` — the flagship composition with every
    * stage in the engine's own subword units: the band gate and
    * temperature-mixture algebra of [[pipelinePretrain]], but token
    * weights, chunk windows and the pack all ride the [[bpeCtes]]
    * encode (vocab derivation + greedy-MaxMatch replay) instead of the
    * regex tokenizer. The vocab derives from the FULL corpus (the
    * encode CTEs' `w` reads all documents); only the GATED stream is
    * mixed, chunked and packed.
    */
  def pipelinePretrainBpe(lo: Double, hi: Double, totalBudget: Long,
                          salt: String, chunkTokens: Int,
                          overlapTokens: Int, budgetTokens: Long): String = {
    val stride = chunkTokens - overlapTokens
    s"""WITH RECURSIVE
       |$bpeCtes,
       |r0 AS (SELECT doc_id, lang, n_chars,
       |  row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
       |  count(*) OVER (PARTITION BY lang) AS cnt FROM documents),
       |th AS (SELECT lang,
       |  max(CASE WHEN rn = CAST(ceil($lo * cnt) AS BIGINT)
       |    THEN n_chars END) AS blo,
       |  max(CASE WHEN rn = CAST(ceil($hi * cnt) AS BIGINT)
       |    THEN n_chars END) AS bhi
       |  FROM r0 GROUP BY lang),
       |g AS (SELECT d.doc_id, d.source FROM documents d
       |  JOIN th USING (lang)
       |  WHERE d.n_chars >= th.blo AND d.n_chars <= th.bhi),
       |t AS (SELECT g.doc_id, g.source,
       |  CAST(coalesce(len(dt.ids), 0) AS BIGINT) AS n_tokens,
       |  coalesce(dt.pcs, CAST([] AS VARCHAR[])) AS pcs
       |  FROM g LEFT JOIN dt USING (doc_id)),
       |tot AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS T
       |  FROM t GROUP BY source),
       |wt AS (SELECT source,
       |  CAST(round(sqrt(CAST(T AS DOUBLE)) * 1000000.0) AS BIGINT)
       |    AS wl FROM tot),
       |nw AS (SELECT CAST(sum(wl) AS BIGINT) AS W FROM wt),
       |b AS (SELECT source,
       |  CAST(floor(CAST($totalBudget AS DOUBLE) *
       |    (CAST(wl AS DOUBLE) / CAST(W AS DOUBLE))) AS BIGINT)
       |    AS mix_budget FROM wt CROSS JOIN nw),
       |sb AS (SELECT t.*,
       |  substr(md5('$salt:' || CAST(doc_id AS VARCHAR)), 1, 8)
       |    AS sample_bucket FROM t),
       |cm AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source
       |    ORDER BY sample_bucket, doc_id ROWS UNBOUNDED PRECEDING)
       |    AS cum_tokens FROM sb),
       |kept AS (SELECT cm.doc_id, cm.pcs FROM cm JOIN b USING (source)
       |  WHERE cm.cum_tokens <= b.mix_budget),
       |s2 AS (SELECT doc_id, CAST(len(pcs) AS BIGINT) AS n FROM kept),
       |c AS (SELECT doc_id, n,
       |  unnest(range(0, greatest(n - $overlapTokens, 1), $stride))
       |    AS cs FROM s2),
       |c2 AS (SELECT doc_id, cs // $stride AS chunk_idx,
       |  least($chunkTokens, n - cs) AS sz,
       |  doc_id * 100000 + cs // $stride AS ck FROM c),
       |r AS (SELECT *, SUM(sz) OVER (ORDER BY ck
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM c2)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(sz AS BIGINT) AS n_chunk_tokens,
       |  CAST(cum AS BIGINT) AS cum_tokens,
       |  CAST((cum - sz) // $budgetTokens AS BIGINT) AS pack_id
       |FROM r ORDER BY doc_id, chunk_idx""".stripMargin
  }

  def shardPack(targetBytes: Long): String =
    s"""WITH r AS (SELECT doc_id, n_chars,
       |  SUM(n_chars) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM documents)
       |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       |  CAST(cum AS BIGINT) AS cum_bytes,
       |  CAST((cum - n_chars) // $targetBytes AS BIGINT) AS shard
       |FROM r ORDER BY doc_id""".stripMargin

  // -------------------------------------------------- embeddings / ANN

  /** Squared-norm of the quantized embedding — the oracle for the
    * `long_array_dot` SQL function demo (ml.Pipeline + session-registered
    * Catalyst expression). Exact integer math on both engines.
    */
  def mlQuantizedDot: String =
    s"""$QuantizedVecs
       |SELECT id AS vec_id, nrm AS self_dot FROM n ORDER BY vec_id""".stripMargin

  /** embeddings -> (id, q quantized longs, nrm squared norm). */
  private val QuantizedVecs =
    """WITH q0 AS (SELECT vec_id AS id,
      |  list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS q
      |  FROM embeddings),
      |n AS (SELECT id, q,
      |  list_reduce(list_transform(q, x -> x * x), (a, b) -> a + b) AS nrm
      |  FROM q0)""".stripMargin

  /** The ANN oracles' vector expressions over `dim`-long integer lists:
    * the dot product, and the cosine over two squared norms.
    */
  private final class VecSql(dim: Int) {
    def dotE(a: String, b: String): String =
      s"list_reduce(list_transform(range(1, ${dim + 1}), " +
        s"i -> $a[i] * $b[i]), (x, y) -> x + y)"
    def cosE(a: String, b: String, na: String, nb: String): String =
      s"CAST(${dotE(a, b)} AS DOUBLE) / " +
        s"sqrt(CAST($na AS DOUBLE) * CAST($nb AS DOUBLE))"
  }

  private def hyperplaneLit(j: Int, dim: Int): String =
    (0 until dim).map(i => Portable.hyperplane(j, i)).mkString("[", ", ", "]")

  /** Sign-bucket value from `planes` hyperplanes starting at `base`. */
  private def bucketExpr(base: Int, planes: Int, dim: Int, vec: String): String =
    (0 until planes).map { p =>
      s"(CASE WHEN list_reduce(list_transform(range(1, ${dim + 1}), " +
        s"i -> $vec[i] * (${hyperplaneLit(base + p, dim)})[i]), " +
        s"(a, b) -> a + b) >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")

  private def pairCosine(dim: Int): String =
    s"round(CAST(list_reduce(list_transform(range(1, ${dim + 1}), " +
      s"i -> x.q[i] * y.q[i]), (a, b) -> a + b) AS DOUBLE) / " +
      "sqrt(CAST(x.nrm AS DOUBLE) * CAST(y.nrm AS DOUBLE)), 6)"

  def dedupEmbedding(dim: Int, tables: Int, planesPerTable: Int,
                     threshold: Double): String = {
    val tableSelects = (0 until tables).map { t =>
      s"SELECT id, $t AS t, " +
        s"${bucketExpr(t * planesPerTable, planesPerTable, dim, "q")} AS v FROM n"
    }.mkString("\n  UNION ALL ")
    s"""$QuantizedVecs,
       |bk AS (
       |  $tableSelects),
       |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM bk a JOIN bk b ON a.t = b.t AND a.v = b.v AND a.id < b.id),
       |sc AS (SELECT c.id_a, c.id_b, ${pairCosine(dim)} AS cosine
       |  FROM cand c JOIN n x ON x.id = c.id_a JOIN n y ON y.id = c.id_b)
       |SELECT * FROM sc WHERE cosine >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Brute-force exact top-k (queries = vec_id < maxQueryId). */
  def annBruteForce(dim: Int, k: Int, maxQueryId: Long): String =
    s"""$QuantizedVecs,
       |qs AS (SELECT id AS query_id, q AS qq, nrm AS qnrm FROM n
       |  WHERE id < $maxQueryId),
       |sc AS (SELECT x.id, qs.query_id,
       |  round(CAST(list_reduce(list_transform(range(1, ${dim + 1}),
       |      i -> x.q[i] * qs.qq[i]), (a, b) -> a + b) AS DOUBLE) /
       |    sqrt(CAST(x.nrm AS DOUBLE) * CAST(qs.qnrm AS DOUBLE)), 6)
       |    AS cosine
       |  FROM n x CROSS JOIN qs WHERE x.id <> qs.query_id),
       |r AS (SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, id ASC) AS rank,
       |  id AS neighbor_id, cosine FROM sc)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
       |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** LSH-bucketed top-k (single `planes`-bit table). */
  def annLsh(dim: Int, planes: Int, k: Int, maxQueryId: Long): String =
    s"""$QuantizedVecs,
       |bk AS (SELECT id, q, nrm,
       |  ${bucketExpr(0, planes, dim, "q")} AS bucket FROM n),
       |qs AS (SELECT id AS query_id, q AS qq, nrm AS qnrm, bucket
       |  FROM bk WHERE id < $maxQueryId),
       |sc AS (SELECT x.id, qs.query_id,
       |  round(CAST(list_reduce(list_transform(range(1, ${dim + 1}),
       |      i -> x.q[i] * qs.qq[i]), (a, b) -> a + b) AS DOUBLE) /
       |    sqrt(CAST(x.nrm AS DOUBLE) * CAST(qs.qnrm AS DOUBLE)), 6)
       |    AS cosine
       |  FROM bk x JOIN qs ON x.bucket = qs.bucket
       |  WHERE x.id <> qs.query_id),
       |r AS (SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, id ASC) AS rank,
       |  id AS neighbor_id, cosine FROM sc)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
       |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Multi-table LSH top-k: candidates are the UNION of per-table bucket
    * collisions (UNION dedups the (corpus, query) pairs, mirroring the
    * Spark side's ids-only distinct), exact re-rank on the union. Table
    * `t` uses hyperplanes [t*planes, (t+1)*planes).
    */
  def annLshMulti(dim: Int, planes: Int, tables: Int, k: Int,
                  maxQueryId: Long): String = {
    val bands = (0 until tables).map { t =>
      s"""SELECT x.id AS neighbor_id, q0.id AS query_id
         |  FROM n x JOIN qs0 q0
         |  ON (${bucketExpr(t * planes, planes, dim, "x.q")}) =
         |     (${bucketExpr(t * planes, planes, dim, "q0.q")})
         |  WHERE x.id <> q0.id""".stripMargin
    }.mkString("\nUNION\n")
    s"""$QuantizedVecs,
       |qs0 AS (SELECT id, q, nrm FROM n WHERE id < $maxQueryId),
       |cand AS ($bands),
       |sc AS (SELECT c.neighbor_id AS id, c.query_id,
       |  round(CAST(list_reduce(list_transform(range(1, ${dim + 1}),
       |      i -> x.q[i] * qv.q[i]), (a, b) -> a + b) AS DOUBLE) /
       |    sqrt(CAST(x.nrm AS DOUBLE) * CAST(qv.nrm AS DOUBLE)), 6)
       |    AS cosine
       |  FROM cand c JOIN n x ON c.neighbor_id = x.id
       |  JOIN n qv ON c.query_id = qv.id),
       |r AS (SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, id ASC) AS rank,
       |  id AS neighbor_id, cosine FROM sc)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
       |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** IVF top-k: deterministic hash-sampled centroids, argmax assignment,
    * nprobe probing, exact re-rank — tie-breaks by centroid id mirror the
    * Spark side's first-max-wins scan.
    */
  def annIvf(dim: Int, nlist: Int, nprobe: Int, k: Int,
             maxQueryId: Long): String = {
    val vec = new VecSql(dim); import vec._
    s"""$QuantizedVecs,
       |hh AS (SELECT id,
       |  CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8) AS BIGINT)
       |    AS h FROM n),
       |sel AS (SELECT id, h FROM hh ORDER BY h, id LIMIT $nlist),
       |cents AS (SELECT row_number() OVER (ORDER BY s.h, s.id) AS cid,
       |  n.q AS cq, n.nrm AS cnrm FROM sel s JOIN n ON n.id = s.id),
       |asgn0 AS (SELECT n.id, n.q, n.nrm, c.cid,
       |  row_number() OVER (PARTITION BY n.id ORDER BY
       |    ${cosE("n.q", "c.cq", "n.nrm", "c.cnrm")} DESC, c.cid ASC)
       |    AS rn
       |  FROM n CROSS JOIN cents c),
       |asgn AS (SELECT id, q, nrm, cid FROM asgn0 WHERE rn = 1),
       |probes AS (SELECT id AS query_id, q AS qq, nrm AS qnrm, cid
       |  FROM asgn0 WHERE id < $maxQueryId AND rn <= $nprobe),
       |sc AS (SELECT a.id, p.query_id,
       |  round(${cosE("a.q", "p.qq", "a.nrm", "p.qnrm")}, 6) AS cosine
       |  FROM asgn a JOIN probes p ON a.cid = p.cid
       |  WHERE a.id <> p.query_id),
       |r AS (SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, id ASC) AS rank,
       |  id AS neighbor_id, cosine FROM sc)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
       |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Incremental IVF probe (graft.operators.Similarity
    * .IncrementalIvfTopK): the corpus (ids >= `splitId`) is fitted into
    * the member index — centroids are the corpus vectors with the
    * `nlist` smallest (md5, id), every corpus vector assigned to its
    * max-cosine centroid — and the query batch (ids < `splitId`, NOT in
    * the corpus) probes its `nprobe` closest lists with exact re-rank
    * inside. Mirrors the fit + probe pair end-to-end.
    */
  def annIvfIncr(dim: Int, nlist: Int, nprobe: Int, k: Int,
                 splitId: Long): String = {
    val vec = new VecSql(dim); import vec._
    s"""$QuantizedVecs,
       |nc AS (SELECT * FROM n WHERE id >= $splitId),
       |nq AS (SELECT * FROM n WHERE id < $splitId),
       |hh AS (SELECT id,
       |  CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8) AS BIGINT)
       |    AS h FROM nc),
       |sel AS (SELECT id, h FROM hh ORDER BY h, id LIMIT $nlist),
       |cents AS (SELECT row_number() OVER (ORDER BY s.h, s.id) AS cid,
       |  nc.q AS cq, nc.nrm AS cnrm FROM sel s JOIN nc ON nc.id = s.id),
       |asgn0 AS (SELECT nc.id, nc.q, nc.nrm, c.cid,
       |  row_number() OVER (PARTITION BY nc.id ORDER BY
       |    ${cosE("nc.q", "c.cq", "nc.nrm", "c.cnrm")} DESC, c.cid ASC)
       |    AS rn
       |  FROM nc CROSS JOIN cents c),
       |asgn AS (SELECT id, q, nrm, cid FROM asgn0 WHERE rn = 1),
       |probes0 AS (SELECT nq.id AS query_id, nq.q AS qq, nq.nrm AS qnrm,
       |  c.cid,
       |  row_number() OVER (PARTITION BY nq.id ORDER BY
       |    ${cosE("nq.q", "c.cq", "nq.nrm", "c.cnrm")} DESC, c.cid ASC)
       |    AS rn
       |  FROM nq CROSS JOIN cents c),
       |probes AS (SELECT query_id, qq, qnrm, cid FROM probes0
       |  WHERE rn <= $nprobe),
       |sc AS (SELECT a.id, p.query_id,
       |  round(${cosE("a.q", "p.qq", "a.nrm", "p.qnrm")}, 6) AS cosine
       |  FROM asgn a JOIN probes p ON a.cid = p.cid
       |  WHERE a.id <> p.query_id),
       |r AS (SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, id ASC) AS rank,
       |  id AS neighbor_id, cosine FROM sc)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
       |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** IVF-PQ top-k with exact refine (graft.operators.SimilarityPq
    * .IvfPqTopK): the coarse quantizer is annIvf's hash-sampled centroid
    * pick; the per-subspace codebooks are SLICES of the `ksub` vectors
    * under the same pick; code assignment is argmin integer L2 (ties →
    * smallest entry); ADC scores are exact integer sub-dot sums; the
    * approximate top `k*refine` shortlist re-ranks EXACTLY on the full
    * vectors. Every step up to the two single divide/sqrt ops is 64-bit
    * integer exact, so the replay is bit-identical.
    */
  def annIvfPq(dim: Int, nlist: Int, nprobe: Int, m: Int, ksub: Int,
               k: Int, refine: Int, maxQueryId: Long): String = {
    require(dim % m == 0, s"annIvfPq: dim=$dim not divisible by m=$m")
    val dsub = dim / m
    val vec = new VecSql(dim); import vec._
    s"""$QuantizedVecs,
       |hh AS (SELECT id,
       |  CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8) AS BIGINT)
       |    AS h FROM n),
       |sel AS (SELECT id, h FROM hh ORDER BY h, id LIMIT $nlist),
       |cents AS (SELECT row_number() OVER (ORDER BY s.h, s.id) AS cid,
       |  n.q AS cq, n.nrm AS cnrm FROM sel s JOIN n ON n.id = s.id),
       |asgn0 AS (SELECT n.id, n.q, n.nrm, c.cid,
       |  row_number() OVER (PARTITION BY n.id ORDER BY
       |    ${cosE("n.q", "c.cq", "n.nrm", "c.cnrm")} DESC, c.cid ASC)
       |    AS rn
       |  FROM n CROSS JOIN cents c),
       |asgn AS (SELECT id, nrm, cid FROM asgn0 WHERE rn = 1),
       |probes AS (SELECT id AS query_id, q AS qq, qnrm, cid
       |  FROM (SELECT id, q, nrm AS qnrm, cid, rn FROM asgn0)
       |  WHERE id < $maxQueryId AND rn <= $nprobe),
       |cbsel AS (SELECT id, h FROM hh ORDER BY h, id LIMIT $ksub),
       |cb AS (SELECT row_number() OVER (ORDER BY s.h, s.id) AS j,
       |  n.q AS cq FROM cbsel s JOIN n ON n.id = s.id),
       |subs AS (SELECT unnest(range(0, $m)) AS s),
       |codes0 AS (SELECT n.id, ss.s, c.j,
       |  list_reduce(list_transform(range(1, ${dsub + 1}),
       |    i -> (n.q[ss.s * $dsub + i] - c.cq[ss.s * $dsub + i]) *
       |         (n.q[ss.s * $dsub + i] - c.cq[ss.s * $dsub + i])),
       |    (x, y) -> x + y) AS d2
       |  FROM n CROSS JOIN subs ss CROSS JOIN cb c),
       |codes AS (SELECT id, s, j FROM (
       |  SELECT id, s, j, row_number() OVER (PARTITION BY id, s
       |    ORDER BY d2 ASC, j ASC) AS rn FROM codes0) WHERE rn = 1),
       |cand AS (SELECT a.id, p.query_id, p.qq, p.qnrm, a.nrm
       |  FROM asgn a JOIN probes p ON a.cid = p.cid
       |  WHERE a.id <> p.query_id),
       |parts AS (SELECT cd.id, c2.query_id,
       |  list_reduce(list_transform(range(1, ${dsub + 1}),
       |    i -> cb.cq[cd.s * $dsub + i] * c2.qq[cd.s * $dsub + i]),
       |    (x, y) -> x + y) AS dp
       |  FROM cand c2 JOIN codes cd ON cd.id = c2.id
       |  JOIN cb ON cb.j = cd.j),
       |approx AS (SELECT id, query_id, sum(dp) AS adot FROM parts
       |  GROUP BY id, query_id),
       |acos AS (SELECT ap.id, ap.query_id,
       |  CAST(ap.adot AS DOUBLE) /
       |    sqrt(CAST(c.nrm AS DOUBLE) * CAST(c.qnrm AS DOUBLE)) AS ac
       |  FROM approx ap JOIN cand c
       |  ON c.id = ap.id AND c.query_id = ap.query_id),
       |short AS (SELECT id, query_id FROM (SELECT id, query_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY ac DESC, id ASC) AS rn FROM acos)
       |  WHERE rn <= ${k * refine}),
       |sc AS (SELECT s2.id, s2.query_id,
       |  round(${cosE("x.q", "qv.q", "x.nrm", "qv.nrm")}, 6) AS cosine
       |  FROM short s2 JOIN n x ON x.id = s2.id
       |  JOIN n qv ON qv.id = s2.query_id),
       |r AS (SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, id ASC) AS rank,
       |  id AS neighbor_id, cosine FROM sc)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
       |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** IVF-PQ with PROJECTION-RESIDUAL encoding (graft.operators
    * .SimilarityPq.IvfPqTopK `residual = true`) — the IVFADC
    * decomposition adapted to cosine assignment: per member,
    * α̂ = round(S·dot(x,c)/‖c‖²) and r = x − round(α̂·c/S) (both
    * roundings half-away-from-zero in truncating integer division),
    * codes quantize r against codebooks sliced from the PROJECTION
    * RESIDUALS of the ksub hash-pick rows AFTER the nlist centroid
    * pick (OFFSET — a centroid's own residual is zero), and the ADC
    * score is (α̂·dot(q,c) + S·Σtable) / (S·√(‖x‖²‖q‖²)) — exact
    * integers through the one final divide. Replays assignment, α̂,
    * residuals, codebook pick, argmin codes, the decomposed ADC and
    * the exact re-rank end-to-end.
    */
  def annIvfPqRes(dim: Int, nlist: Int, nprobe: Int, m: Int, ksub: Int,
                  k: Int, refine: Int, maxQueryId: Long): String = {
    require(dim % m == 0, s"annIvfPqRes: dim=$dim not divisible by m=$m")
    val dsub = dim / m
    val S = 10000L
    val vec = new VecSql(dim); import vec._
    s"""$QuantizedVecs,
       |hh AS (SELECT id,
       |  CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8) AS BIGINT)
       |    AS h FROM n),
       |sel AS (SELECT id, h FROM hh ORDER BY h, id LIMIT $nlist),
       |cents AS (SELECT row_number() OVER (ORDER BY s.h, s.id) AS cid,
       |  n.q AS cq, n.nrm AS cnrm FROM sel s JOIN n ON n.id = s.id),
       |asgn0 AS (SELECT n.id, n.q, n.nrm, c.cid,
       |  row_number() OVER (PARTITION BY n.id ORDER BY
       |    ${cosE("n.q", "c.cq", "n.nrm", "c.cnrm")} DESC, c.cid ASC)
       |    AS rn
       |  FROM n CROSS JOIN cents c),
       |asgn AS (SELECT id, nrm, cid FROM asgn0 WHERE rn = 1),
       |am0 AS (SELECT a.id, a.cid, n.q, n.nrm, c.cq, c.cnrm,
       |  ${dotE("n.q", "c.cq")} AS dxc
       |  FROM asgn a JOIN n ON n.id = a.id JOIN cents c ON c.cid = a.cid),
       |am AS (SELECT id, cid, q, nrm, cq,
       |  CASE WHEN cnrm = 0 THEN 0
       |    ELSE (2 * $S * dxc + CASE WHEN dxc < 0 THEN -cnrm
       |      WHEN dxc > 0 THEN cnrm ELSE 0 END) // (2 * cnrm)
       |  END AS alpha FROM am0),
       |resid AS (SELECT id, cid, nrm, alpha,
       |  list_transform(range(1, ${dim + 1}),
       |    i -> q[i] - (2 * alpha * cq[i] +
       |      CASE WHEN alpha * cq[i] < 0 THEN -$S
       |        WHEN alpha * cq[i] > 0 THEN $S ELSE 0 END) // ${2 * S})
       |    AS rq
       |  FROM am),
       |probes0 AS (SELECT id AS query_id, q AS qq, qnrm, cid
       |  FROM (SELECT id, q, nrm AS qnrm, cid, rn FROM asgn0)
       |  WHERE id < $maxQueryId AND rn <= $nprobe),
       |probes AS (SELECT p.query_id, p.qq, p.qnrm, p.cid,
       |  ${dotE("p.qq", "c.cq")} AS cdot
       |  FROM probes0 p JOIN cents c ON c.cid = p.cid),
       |cbsel AS (SELECT id, h FROM hh ORDER BY h, id
       |  LIMIT $ksub OFFSET $nlist),
       |cb AS (SELECT row_number() OVER (ORDER BY s.h, s.id) AS j,
       |  r.rq AS cq FROM cbsel s JOIN resid r ON r.id = s.id),
       |subs AS (SELECT unnest(range(0, $m)) AS s),
       |codes0 AS (SELECT r.id, ss.s, c.j,
       |  list_reduce(list_transform(range(1, ${dsub + 1}),
       |    i -> (r.rq[ss.s * $dsub + i] - c.cq[ss.s * $dsub + i]) *
       |         (r.rq[ss.s * $dsub + i] - c.cq[ss.s * $dsub + i])),
       |    (x, y) -> x + y) AS d2
       |  FROM resid r CROSS JOIN subs ss CROSS JOIN cb c),
       |codes AS (SELECT id, s, j FROM (
       |  SELECT id, s, j, row_number() OVER (PARTITION BY id, s
       |    ORDER BY d2 ASC, j ASC) AS rn FROM codes0) WHERE rn = 1),
       |cand AS (SELECT a.id, a.alpha, p.query_id, p.qq, p.qnrm, a.nrm,
       |  p.cdot
       |  FROM resid a JOIN probes p ON a.cid = p.cid
       |  WHERE a.id <> p.query_id),
       |parts AS (SELECT cd.id, c2.query_id,
       |  list_reduce(list_transform(range(1, ${dsub + 1}),
       |    i -> cb.cq[cd.s * $dsub + i] * c2.qq[cd.s * $dsub + i]),
       |    (x, y) -> x + y) AS dp
       |  FROM cand c2 JOIN codes cd ON cd.id = c2.id
       |  JOIN cb ON cb.j = cd.j),
       |approx AS (SELECT id, query_id, sum(dp) AS adot FROM parts
       |  GROUP BY id, query_id),
       |acos AS (SELECT ap.id, ap.query_id,
       |  CAST(c.alpha * c.cdot + $S * ap.adot AS DOUBLE) /
       |    ($S * sqrt(CAST(c.nrm AS DOUBLE) * CAST(c.qnrm AS DOUBLE)))
       |    AS ac
       |  FROM approx ap JOIN cand c
       |  ON c.id = ap.id AND c.query_id = ap.query_id),
       |short AS (SELECT id, query_id FROM (SELECT id, query_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY ac DESC, id ASC) AS rn FROM acos)
       |  WHERE rn <= ${k * refine}),
       |sc AS (SELECT s2.id, s2.query_id,
       |  round(${cosE("x.q", "qv.q", "x.nrm", "qv.nrm")}, 6) AS cosine
       |  FROM short s2 JOIN n x ON x.id = s2.id
       |  JOIN n qv ON qv.id = s2.query_id),
       |r AS (SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, id ASC) AS rank,
       |  id AS neighbor_id, cosine FROM sc)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
       |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** IVF-PQ with Lloyd-TRAINED codebooks (graft.operators.SimilarityPq
    * .IvfPqTopK `train > 0`): the TRAINING replays round by round —
    * init = the trainless hash-pick slices, each round an argmin-L2
    * assignment (ties → smallest entry) and a rounded-mean recompute
    * (half away from zero in truncating integer division, the SemDedup
    * lattice convention; an empty cell keeps its previous entry) —
    * then the usual ADC scan + shortlist + exact refine against the
    * FINAL codebooks. Integer-exact end to end.
    */
  def annIvfPqTrained(dim: Int, nlist: Int, nprobe: Int, m: Int,
                      ksub: Int, k: Int, refine: Int, maxQueryId: Long,
                      iters: Int): String = {
    require(dim % m == 0, s"annIvfPqTrained: dim=$dim not divisible by m=$m")
    require(iters >= 1, "annIvfPqTrained: iters must be >= 1")
    val dsub = dim / m
    val vec = new VecSql(dim); import vec._
    // assignment of every corpus sub-vector to its argmin-L2 entry of
    // codebook relation `cbN(s, j, e)`
    def asgCte(name: String, cbN: String): String =
      s"""$name AS (SELECT id, s, j FROM (
         |  SELECT n.id, cb.s, cb.j, row_number() OVER (
         |    PARTITION BY n.id, cb.s ORDER BY
         |    list_reduce(list_transform(range(1, ${dsub + 1}),
         |      i -> (n.q[cb.s * $dsub + i] - cb.e[i]) *
         |           (n.q[cb.s * $dsub + i] - cb.e[i])),
         |      (x, y) -> x + y) ASC, cb.j ASC) AS rn
         |  FROM n CROSS JOIN $cbN cb) WHERE rn = 1)""".stripMargin
    val rounds = (0 until iters).map { r =>
      s"""${asgCte(s"asg$r", s"cb$r")},
         |sm$r AS (SELECT a.s, a.j, t.i,
         |  SUM(n.q[a.s * $dsub + t.i]) AS sv, COUNT(*) AS cnt
         |  FROM asg$r a JOIN n ON n.id = a.id
         |  CROSS JOIN (SELECT unnest(range(1, ${dsub + 1})) AS i) t
         |  GROUP BY a.s, a.j, t.i),
         |cb${r + 1} AS (SELECT c.s, c.j,
         |  CASE WHEN g.ne IS NULL THEN c.e ELSE g.ne END AS e
         |  FROM cb$r c LEFT JOIN (
         |    SELECT s, j, list((2 * sv + CASE WHEN sv < 0 THEN -cnt
         |        WHEN sv > 0 THEN cnt ELSE 0 END) // (2 * cnt)
         |        ORDER BY i) AS ne
         |    FROM sm$r GROUP BY s, j) g
         |  ON g.s = c.s AND g.j = c.j)""".stripMargin
    }.mkString(",\n")
    s"""$QuantizedVecs,
       |hh AS (SELECT id,
       |  CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8) AS BIGINT)
       |    AS h FROM n),
       |sel AS (SELECT id, h FROM hh ORDER BY h, id LIMIT $nlist),
       |cents AS (SELECT row_number() OVER (ORDER BY s.h, s.id) AS cid,
       |  n.q AS cq, n.nrm AS cnrm FROM sel s JOIN n ON n.id = s.id),
       |asgn0 AS (SELECT n.id, n.nrm, c.cid,
       |  row_number() OVER (PARTITION BY n.id ORDER BY
       |    ${cosE("n.q", "c.cq", "n.nrm", "c.cnrm")} DESC, c.cid ASC)
       |    AS rn
       |  FROM n CROSS JOIN cents c),
       |asgn AS (SELECT id, nrm, cid FROM asgn0 WHERE rn = 1),
       |probes AS (SELECT a0.id AS query_id, n.q AS qq, n.nrm AS qnrm,
       |  a0.cid FROM asgn0 a0 JOIN n ON n.id = a0.id
       |  WHERE a0.id < $maxQueryId AND a0.rn <= $nprobe),
       |cbsel AS (SELECT id, h FROM hh ORDER BY h, id LIMIT $ksub),
       |subs AS (SELECT unnest(range(0, $m)) AS s),
       |cb0 AS (SELECT ss.s, c.j,
       |  list_transform(range(1, ${dsub + 1}),
       |    i -> c.cq[ss.s * $dsub + i]) AS e
       |  FROM (SELECT row_number() OVER (ORDER BY s2.h, s2.id) AS j,
       |        n.q AS cq FROM cbsel s2 JOIN n ON n.id = s2.id) c
       |  CROSS JOIN subs ss),
       |$rounds,
       |${asgCte("codes", s"cb$iters")},
       |cand AS (SELECT a.id, p.query_id, p.qq, p.qnrm, a.nrm
       |  FROM asgn a JOIN probes p ON a.cid = p.cid
       |  WHERE a.id <> p.query_id),
       |parts AS (SELECT cd.id, c2.query_id,
       |  list_reduce(list_transform(range(1, ${dsub + 1}),
       |    i -> cb.e[i] * c2.qq[cd.s * $dsub + i]),
       |    (x, y) -> x + y) AS dp
       |  FROM cand c2 JOIN codes cd ON cd.id = c2.id
       |  JOIN cb$iters cb ON cb.s = cd.s AND cb.j = cd.j),
       |approx AS (SELECT id, query_id, sum(dp) AS adot FROM parts
       |  GROUP BY id, query_id),
       |acos AS (SELECT ap.id, ap.query_id,
       |  CAST(ap.adot AS DOUBLE) /
       |    sqrt(CAST(c.nrm AS DOUBLE) * CAST(c.qnrm AS DOUBLE)) AS ac
       |  FROM approx ap JOIN cand c
       |  ON c.id = ap.id AND c.query_id = ap.query_id),
       |short AS (SELECT id, query_id FROM (SELECT id, query_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY ac DESC, id ASC) AS rn FROM acos)
       |  WHERE rn <= ${k * refine}),
       |sc AS (SELECT s2.id, s2.query_id,
       |  round(${cosE("x.q", "qv.q", "x.nrm", "qv.nrm")}, 6) AS cosine
       |  FROM short s2 JOIN n x ON x.id = s2.id
       |  JOIN n qv ON qv.id = s2.query_id),
       |r AS (SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, id ASC) AS rank,
       |  id AS neighbor_id, cosine FROM sc)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
       |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Incremental IVF-PQ probe (graft.operators.SimilarityPq
    * .IncrementalIvfPqTopK): the corpus (ids >= `splitId`) is fitted
    * into the compressed member index — centroids AND codebooks derive
    * from the `max(nlist, ksub)` hash-smallest corpus vectors, every
    * corpus vector PQ-encoded — and the query batch (ids < `splitId`)
    * probes it with ADC scoring and exact re-rank against the
    * full-vector corpus (`refineWith`). Mirrors fit + probe + refine
    * end-to-end.
    */
  def annIvfPqIncr(dim: Int, nlist: Int, nprobe: Int, m: Int, ksub: Int,
                   k: Int, refine: Int, splitId: Long): String = {
    require(dim % m == 0, s"annIvfPqIncr: dim=$dim not divisible by m=$m")
    val dsub = dim / m
    val vec = new VecSql(dim); import vec._
    s"""$QuantizedVecs,
       |nc AS (SELECT * FROM n WHERE id >= $splitId),
       |nq AS (SELECT * FROM n WHERE id < $splitId),
       |hh AS (SELECT id,
       |  CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8) AS BIGINT)
       |    AS h FROM nc),
       |sel AS (SELECT id, h FROM hh ORDER BY h, id LIMIT $nlist),
       |cents AS (SELECT row_number() OVER (ORDER BY s.h, s.id) AS cid,
       |  nc.q AS cq, nc.nrm AS cnrm FROM sel s JOIN nc ON nc.id = s.id),
       |asgn0 AS (SELECT nc.id, nc.nrm, c.cid,
       |  row_number() OVER (PARTITION BY nc.id ORDER BY
       |    ${cosE("nc.q", "c.cq", "nc.nrm", "c.cnrm")} DESC, c.cid ASC)
       |    AS rn
       |  FROM nc CROSS JOIN cents c),
       |asgn AS (SELECT id, nrm, cid FROM asgn0 WHERE rn = 1),
       |probes0 AS (SELECT nq.id AS query_id, nq.q AS qq, nq.nrm AS qnrm,
       |  c.cid,
       |  row_number() OVER (PARTITION BY nq.id ORDER BY
       |    ${cosE("nq.q", "c.cq", "nq.nrm", "c.cnrm")} DESC, c.cid ASC)
       |    AS rn
       |  FROM nq CROSS JOIN cents c),
       |probes AS (SELECT query_id, qq, qnrm, cid FROM probes0
       |  WHERE rn <= $nprobe),
       |cbsel AS (SELECT id, h FROM hh ORDER BY h, id LIMIT $ksub),
       |cb AS (SELECT row_number() OVER (ORDER BY s.h, s.id) AS j,
       |  nc.q AS cq FROM cbsel s JOIN nc ON nc.id = s.id),
       |subs AS (SELECT unnest(range(0, $m)) AS s),
       |codes0 AS (SELECT nc.id, ss.s, c.j,
       |  list_reduce(list_transform(range(1, ${dsub + 1}),
       |    i -> (nc.q[ss.s * $dsub + i] - c.cq[ss.s * $dsub + i]) *
       |         (nc.q[ss.s * $dsub + i] - c.cq[ss.s * $dsub + i])),
       |    (x, y) -> x + y) AS d2
       |  FROM nc CROSS JOIN subs ss CROSS JOIN cb c),
       |codes AS (SELECT id, s, j FROM (
       |  SELECT id, s, j, row_number() OVER (PARTITION BY id, s
       |    ORDER BY d2 ASC, j ASC) AS rn FROM codes0) WHERE rn = 1),
       |cand AS (SELECT a.id, p.query_id, p.qq, p.qnrm, a.nrm
       |  FROM asgn a JOIN probes p ON a.cid = p.cid
       |  WHERE a.id <> p.query_id),
       |parts AS (SELECT cd.id, c2.query_id,
       |  list_reduce(list_transform(range(1, ${dsub + 1}),
       |    i -> cb.cq[cd.s * $dsub + i] * c2.qq[cd.s * $dsub + i]),
       |    (x, y) -> x + y) AS dp
       |  FROM cand c2 JOIN codes cd ON cd.id = c2.id
       |  JOIN cb ON cb.j = cd.j),
       |approx AS (SELECT id, query_id, sum(dp) AS adot FROM parts
       |  GROUP BY id, query_id),
       |acos AS (SELECT ap.id, ap.query_id,
       |  CAST(ap.adot AS DOUBLE) /
       |    sqrt(CAST(c.nrm AS DOUBLE) * CAST(c.qnrm AS DOUBLE)) AS ac
       |  FROM approx ap JOIN cand c
       |  ON c.id = ap.id AND c.query_id = ap.query_id),
       |short AS (SELECT id, query_id FROM (SELECT id, query_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY ac DESC, id ASC) AS rn FROM acos)
       |  WHERE rn <= ${k * refine}),
       |sc AS (SELECT s2.id, s2.query_id,
       |  round(${cosE("x.q", "qv.q", "x.nrm", "qv.nrm")}, 6) AS cosine
       |  FROM short s2 JOIN nc x ON x.id = s2.id
       |  JOIN nq qv ON qv.id = s2.query_id),
       |r AS (SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, id ASC) AS rank,
       |  id AS neighbor_id, cosine FROM sc)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
       |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** IVF-PQ with PROJECTION-RESIDUAL encoding AND Lloyd-TRAINED
    * residual-space codebooks (`IvfPqTopK(residual = true, train > 0)`
    * — the best-recall config measured, 0.450 at refine=4): the
    * [[annIvfPqRes]] residual derivation, with codebooks initialized
    * from the OFFSET pick's residual slices and each Lloyd round an
    * argmin-L2 assignment + rounded-mean recompute over RESIDUAL
    * vectors, then the decomposed ADC and exact refine.
    */
  def annIvfPqResTrained(dim: Int, nlist: Int, nprobe: Int, m: Int,
                         ksub: Int, k: Int, refine: Int,
                         maxQueryId: Long, iters: Int): String = {
    require(dim % m == 0,
      s"annIvfPqResTrained: dim=$dim not divisible by m=$m")
    require(iters >= 1, "annIvfPqResTrained: iters must be >= 1")
    val dsub = dim / m
    val S = 10000L
    val vec = new VecSql(dim); import vec._
    // assignment of every corpus RESIDUAL sub-vector to its argmin-L2
    // entry of codebook relation `cbN(s, j, e)`
    def asgCte(name: String, cbN: String): String =
      s"""$name AS (SELECT id, s, j FROM (
         |  SELECT r.id, cb.s, cb.j, row_number() OVER (
         |    PARTITION BY r.id, cb.s ORDER BY
         |    list_reduce(list_transform(range(1, ${dsub + 1}),
         |      i -> (r.rq[cb.s * $dsub + i] - cb.e[i]) *
         |           (r.rq[cb.s * $dsub + i] - cb.e[i])),
         |      (x, y) -> x + y) ASC, cb.j ASC) AS rn
         |  FROM resid r CROSS JOIN $cbN cb) WHERE rn = 1)""".stripMargin
    val rounds = (0 until iters).map { r =>
      s"""${asgCte(s"asg$r", s"cb$r")},
         |sm$r AS (SELECT a.s, a.j, t.i,
         |  SUM(r2.rq[a.s * $dsub + t.i]) AS sv, COUNT(*) AS cnt
         |  FROM asg$r a JOIN resid r2 ON r2.id = a.id
         |  CROSS JOIN (SELECT unnest(range(1, ${dsub + 1})) AS i) t
         |  GROUP BY a.s, a.j, t.i),
         |cb${r + 1} AS (SELECT c.s, c.j,
         |  CASE WHEN g.ne IS NULL THEN c.e ELSE g.ne END AS e
         |  FROM cb$r c LEFT JOIN (
         |    SELECT s, j, list((2 * sv + CASE WHEN sv < 0 THEN -cnt
         |        WHEN sv > 0 THEN cnt ELSE 0 END) // (2 * cnt)
         |        ORDER BY i) AS ne
         |    FROM sm$r GROUP BY s, j) g
         |  ON g.s = c.s AND g.j = c.j)""".stripMargin
    }.mkString(",\n")
    s"""$QuantizedVecs,
       |hh AS (SELECT id,
       |  CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8) AS BIGINT)
       |    AS h FROM n),
       |sel AS (SELECT id, h FROM hh ORDER BY h, id LIMIT $nlist),
       |cents AS (SELECT row_number() OVER (ORDER BY s.h, s.id) AS cid,
       |  n.q AS cq, n.nrm AS cnrm FROM sel s JOIN n ON n.id = s.id),
       |asgn0 AS (SELECT n.id, n.q, n.nrm, c.cid,
       |  row_number() OVER (PARTITION BY n.id ORDER BY
       |    ${cosE("n.q", "c.cq", "n.nrm", "c.cnrm")} DESC, c.cid ASC)
       |    AS rn
       |  FROM n CROSS JOIN cents c),
       |asgn AS (SELECT id, nrm, cid FROM asgn0 WHERE rn = 1),
       |am0 AS (SELECT a.id, a.cid, n.q, n.nrm, c.cq, c.cnrm,
       |  ${dotE("n.q", "c.cq")} AS dxc
       |  FROM asgn a JOIN n ON n.id = a.id
       |  JOIN cents c ON c.cid = a.cid),
       |am AS (SELECT id, cid, q, nrm, cq,
       |  CASE WHEN cnrm = 0 THEN 0
       |    ELSE (2 * $S * dxc + CASE WHEN dxc < 0 THEN -cnrm
       |      WHEN dxc > 0 THEN cnrm ELSE 0 END) // (2 * cnrm)
       |  END AS alpha FROM am0),
       |resid AS (SELECT id, cid, nrm, alpha,
       |  list_transform(range(1, ${dim + 1}),
       |    i -> q[i] - (2 * alpha * cq[i] +
       |      CASE WHEN alpha * cq[i] < 0 THEN -$S
       |        WHEN alpha * cq[i] > 0 THEN $S ELSE 0 END) // ${2 * S})
       |    AS rq
       |  FROM am),
       |probes0 AS (SELECT id AS query_id, q AS qq, qnrm, cid
       |  FROM (SELECT id, q, nrm AS qnrm, cid, rn FROM asgn0)
       |  WHERE id < $maxQueryId AND rn <= $nprobe),
       |probes AS (SELECT p.query_id, p.qq, p.qnrm, p.cid,
       |  ${dotE("p.qq", "c.cq")} AS cdot
       |  FROM probes0 p JOIN cents c ON c.cid = p.cid),
       |cbsel AS (SELECT id, h FROM hh ORDER BY h, id
       |  LIMIT $ksub OFFSET $nlist),
       |subs AS (SELECT unnest(range(0, $m)) AS s),
       |cb0 AS (SELECT ss.s, c.j,
       |  list_transform(range(1, ${dsub + 1}),
       |    i -> c.rq[ss.s * $dsub + i]) AS e
       |  FROM (SELECT row_number() OVER (ORDER BY s2.h, s2.id) AS j,
       |        r.rq FROM cbsel s2 JOIN resid r ON r.id = s2.id) c
       |  CROSS JOIN subs ss),
       |$rounds,
       |${asgCte("codes", s"cb$iters")},
       |cand AS (SELECT a.id, a.alpha, p.query_id, p.qq, p.qnrm, a.nrm,
       |  p.cdot
       |  FROM resid a JOIN probes p ON a.cid = p.cid
       |  WHERE a.id <> p.query_id),
       |parts AS (SELECT cd.id, c2.query_id,
       |  list_reduce(list_transform(range(1, ${dsub + 1}),
       |    i -> cb.e[i] * c2.qq[cd.s * $dsub + i]),
       |    (x, y) -> x + y) AS dp
       |  FROM cand c2 JOIN codes cd ON cd.id = c2.id
       |  JOIN cb$iters cb ON cb.s = cd.s AND cb.j = cd.j),
       |approx AS (SELECT id, query_id, sum(dp) AS adot FROM parts
       |  GROUP BY id, query_id),
       |acos AS (SELECT ap.id, ap.query_id,
       |  CAST(c.alpha * c.cdot + $S * ap.adot AS DOUBLE) /
       |    ($S * sqrt(CAST(c.nrm AS DOUBLE) * CAST(c.qnrm AS DOUBLE)))
       |    AS ac
       |  FROM approx ap JOIN cand c
       |  ON c.id = ap.id AND c.query_id = ap.query_id),
       |short AS (SELECT id, query_id FROM (SELECT id, query_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY ac DESC, id ASC) AS rn FROM acos)
       |  WHERE rn <= ${k * refine}),
       |sc AS (SELECT s2.id, s2.query_id,
       |  round(${cosE("x.q", "qv.q", "x.nrm", "qv.nrm")}, 6) AS cosine
       |  FROM short s2 JOIN n x ON x.id = s2.id
       |  JOIN n qv ON qv.id = s2.query_id),
       |r AS (SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, id ASC) AS rank,
       |  id AS neighbor_id, cosine FROM sc)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
       |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Incremental IVF-PQ probe with PROJECTION-RESIDUAL encoding
    * (`IncrementalIvfPq.memberIndex(residual = true)` +
    * `IncrementalIvfPqTopK(residual = true)`): the corpus
    * (ids >= `splitId`) fits the compressed residual index — per
    * member α̂ and residual codes against codebooks sliced from the
    * residuals of pick rows `nlist+1 .. nlist+ksub` (OFFSET — the
    * residual index's widened self-description) — and the query batch
    * probes it with the decomposed ADC and exact re-rank.
    */
  def annIvfPqIncrRes(dim: Int, nlist: Int, nprobe: Int, m: Int,
                      ksub: Int, k: Int, refine: Int,
                      splitId: Long): String = {
    require(dim % m == 0,
      s"annIvfPqIncrRes: dim=$dim not divisible by m=$m")
    val dsub = dim / m
    val S = 10000L
    val vec = new VecSql(dim); import vec._
    s"""$QuantizedVecs,
       |nc AS (SELECT * FROM n WHERE id >= $splitId),
       |nq AS (SELECT * FROM n WHERE id < $splitId),
       |hh AS (SELECT id,
       |  CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8) AS BIGINT)
       |    AS h FROM nc),
       |sel AS (SELECT id, h FROM hh ORDER BY h, id LIMIT $nlist),
       |cents AS (SELECT row_number() OVER (ORDER BY s.h, s.id) AS cid,
       |  nc.q AS cq, nc.nrm AS cnrm FROM sel s JOIN nc ON nc.id = s.id),
       |asgn0 AS (SELECT nc.id, nc.nrm, c.cid,
       |  row_number() OVER (PARTITION BY nc.id ORDER BY
       |    ${cosE("nc.q", "c.cq", "nc.nrm", "c.cnrm")} DESC, c.cid ASC)
       |    AS rn
       |  FROM nc CROSS JOIN cents c),
       |asgn AS (SELECT id, nrm, cid FROM asgn0 WHERE rn = 1),
       |am0 AS (SELECT a.id, a.cid, nc.q, nc.nrm, c.cq, c.cnrm,
       |  ${dotE("nc.q", "c.cq")} AS dxc
       |  FROM asgn a JOIN nc ON nc.id = a.id
       |  JOIN cents c ON c.cid = a.cid),
       |am AS (SELECT id, cid, q, nrm, cq,
       |  CASE WHEN cnrm = 0 THEN 0
       |    ELSE (2 * $S * dxc + CASE WHEN dxc < 0 THEN -cnrm
       |      WHEN dxc > 0 THEN cnrm ELSE 0 END) // (2 * cnrm)
       |  END AS alpha FROM am0),
       |resid AS (SELECT id, cid, nrm, alpha,
       |  list_transform(range(1, ${dim + 1}),
       |    i -> q[i] - (2 * alpha * cq[i] +
       |      CASE WHEN alpha * cq[i] < 0 THEN -$S
       |        WHEN alpha * cq[i] > 0 THEN $S ELSE 0 END) // ${2 * S})
       |    AS rq
       |  FROM am),
       |probes0 AS (SELECT nq.id AS query_id, nq.q AS qq, nq.nrm AS qnrm,
       |  c.cid, c.cq,
       |  row_number() OVER (PARTITION BY nq.id ORDER BY
       |    ${cosE("nq.q", "c.cq", "nq.nrm", "c.cnrm")} DESC, c.cid ASC)
       |    AS rn
       |  FROM nq CROSS JOIN cents c),
       |probes AS (SELECT query_id, qq, qnrm, cid,
       |  ${dotE("qq", "cq")} AS cdot
       |  FROM probes0 WHERE rn <= $nprobe),
       |cbsel AS (SELECT id, h FROM hh ORDER BY h, id
       |  LIMIT $ksub OFFSET $nlist),
       |cb AS (SELECT row_number() OVER (ORDER BY s.h, s.id) AS j,
       |  r.rq AS cq FROM cbsel s JOIN resid r ON r.id = s.id),
       |subs AS (SELECT unnest(range(0, $m)) AS s),
       |codes0 AS (SELECT r.id, ss.s, c.j,
       |  list_reduce(list_transform(range(1, ${dsub + 1}),
       |    i -> (r.rq[ss.s * $dsub + i] - c.cq[ss.s * $dsub + i]) *
       |         (r.rq[ss.s * $dsub + i] - c.cq[ss.s * $dsub + i])),
       |    (x, y) -> x + y) AS d2
       |  FROM resid r CROSS JOIN subs ss CROSS JOIN cb c),
       |codes AS (SELECT id, s, j FROM (
       |  SELECT id, s, j, row_number() OVER (PARTITION BY id, s
       |    ORDER BY d2 ASC, j ASC) AS rn FROM codes0) WHERE rn = 1),
       |cand AS (SELECT a.id, a.alpha, p.query_id, p.qq, p.qnrm, a.nrm,
       |  p.cdot
       |  FROM resid a JOIN probes p ON a.cid = p.cid
       |  WHERE a.id <> p.query_id),
       |parts AS (SELECT cd.id, c2.query_id,
       |  list_reduce(list_transform(range(1, ${dsub + 1}),
       |    i -> cb.cq[cd.s * $dsub + i] * c2.qq[cd.s * $dsub + i]),
       |    (x, y) -> x + y) AS dp
       |  FROM cand c2 JOIN codes cd ON cd.id = c2.id
       |  JOIN cb ON cb.j = cd.j),
       |approx AS (SELECT id, query_id, sum(dp) AS adot FROM parts
       |  GROUP BY id, query_id),
       |acos AS (SELECT ap.id, ap.query_id,
       |  CAST(c.alpha * c.cdot + $S * ap.adot AS DOUBLE) /
       |    ($S * sqrt(CAST(c.nrm AS DOUBLE) * CAST(c.qnrm AS DOUBLE)))
       |    AS ac
       |  FROM approx ap JOIN cand c
       |  ON c.id = ap.id AND c.query_id = ap.query_id),
       |short AS (SELECT id, query_id FROM (SELECT id, query_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY ac DESC, id ASC) AS rn FROM acos)
       |  WHERE rn <= ${k * refine}),
       |sc AS (SELECT s2.id, s2.query_id,
       |  round(${cosE("x.q", "qv.q", "x.nrm", "qv.nrm")}, 6) AS cosine
       |  FROM short s2 JOIN nc x ON x.id = s2.id
       |  JOIN nq qv ON qv.id = s2.query_id),
       |r AS (SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, id ASC) AS rank,
       |  id AS neighbor_id, cosine FROM sc)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
       |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** SRP top-k with exact refine (graft.operators.Projection.SrpTopK):
    * deterministic ±1 projection (the sign of the shared hyperplane
    * constant family, embedded as literals), brute-force shortlist in
    * projected space, exact full-vector re-rank. Integer-exact up to
    * the two single divide/sqrt steps.
    */
  def annSrp(dim: Int, rdim: Int, k: Int, refine: Int,
             maxQueryId: Long): String = {
    def signLit(j: Int): String =
      (0 until dim).map(i =>
        if (Portable.hyperplane(j, i) >= 0) "1" else "-1")
        .mkString("[", ", ", "]")
    val rpList = (0 until rdim).map { j =>
      s"list_reduce(list_transform(range(1, ${dim + 1}), " +
        s"i -> q[i] * (${signLit(j)})[i]), (x, y) -> x + y)"
    }.mkString("[", ",\n    ", "]")
    def dotE(a: String, b: String, n: Int) =
      s"list_reduce(list_transform(range(1, ${n + 1}), " +
        s"i -> $a[i] * $b[i]), (x, y) -> x + y)"
    s"""$QuantizedVecs,
       |proj AS (SELECT id, $rpList AS rp FROM n),
       |p2 AS (SELECT id, rp,
       |  list_reduce(list_transform(rp, x -> x * x), (a, b) -> a + b)
       |    AS rpnrm FROM proj),
       |qs AS (SELECT id AS query_id, rp AS qrp, rpnrm AS qrpnrm
       |  FROM p2 WHERE id < $maxQueryId),
       |sc0 AS (SELECT x.id, qs.query_id,
       |  CAST(${dotE("x.rp", "qs.qrp", rdim)} AS DOUBLE) /
       |    sqrt(CAST(x.rpnrm AS DOUBLE) * CAST(qs.qrpnrm AS DOUBLE))
       |    AS ac
       |  FROM p2 x CROSS JOIN qs WHERE x.id <> qs.query_id),
       |short AS (SELECT id, query_id FROM (SELECT id, query_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY ac DESC, id ASC) AS rn FROM sc0)
       |  WHERE rn <= ${k * refine}),
       |sc AS (SELECT s2.id, s2.query_id,
       |  round(CAST(${dotE("x.q", "qv.q", dim)} AS DOUBLE) /
       |    sqrt(CAST(x.nrm AS DOUBLE) * CAST(qv.nrm AS DOUBLE)), 6)
       |    AS cosine
       |  FROM short s2 JOIN n x ON x.id = s2.id
       |  JOIN n qv ON qv.id = s2.query_id),
       |r AS (SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, id ASC) AS rank,
       |  id AS neighbor_id, cosine FROM sc)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
       |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** The per-doc realized epoch count (`m(doc_id, lang, sample_bucket,
    * n_epochs)`) — the shared head of the epoch-upsample replays. */
  private def epochCountCtes(epochs: Seq[(String, Double)],
                             defaultEpochs: Double,
                             salt: String): String = {
    def whole(w: Double) = math.floor(w).toLong
    def fracHex(w: Double) = Sampling.thresholdHex(w - math.floor(w))
    val baseCases = epochs.map { case (s, w) =>
      s"WHEN '$s' THEN ${whole(w)}" }.mkString(" ")
    val fracCases = epochs.map { case (s, w) =>
      s"WHEN '$s' THEN '${fracHex(w)}'" }.mkString(" ")
    s"""s AS (SELECT doc_id, lang,
       |  substr(md5('$salt:' || CAST(doc_id AS VARCHAR)), 1, 8)
       |    AS sample_bucket
       |  FROM documents),
       |m AS (SELECT doc_id, lang, sample_bucket,
       |  CAST((CASE lang $baseCases ELSE ${whole(defaultEpochs)} END) +
       |    (CASE WHEN sample_bucket <
       |       CASE lang $fracCases ELSE '${fracHex(defaultEpochs)}' END
       |     THEN 1 ELSE 0 END) AS BIGINT) AS n_epochs
       |  FROM s)""".stripMargin
  }

  /** Epoch-aware upsampling (graft.operators.Sampling.EpochUpsample):
    * floor(w) copies per row plus one iff the md5 bucket is below the
    * fractional threshold, exploded to one row per copy. */
  def mixEpochs(epochs: Seq[(String, Double)], defaultEpochs: Double,
                salt: String): String =
    s"""WITH ${epochCountCtes(epochs, defaultEpochs, salt)}
       |SELECT doc_id, lang, sample_bucket, n_epochs,
       |  CAST(unnest(generate_series(1, n_epochs)) AS BIGINT) AS epoch
       |FROM m WHERE n_epochs >= 1
       |ORDER BY doc_id, epoch""".stripMargin

  /** Epoch upsample composed into the deterministic training-order
    * interleave: every COPY gets its own md5 permutation position (via
    * the collision-free `copy_id = doc_id * 100 + epoch` key), so the
    * repeats of an upsampled document land at independent points of the
    * training order instead of clustering — the property the
    * composition exists for. Mirrors EpochUpsample →
    * InterleaveShuffle(idColumn = "copy_id").
    */
  def mixEpochsInterleave(epochs: Seq[(String, Double)],
                          defaultEpochs: Double, saltE: String,
                          numShards: Int, saltI: String): String =
    s"""WITH ${epochCountCtes(epochs, defaultEpochs, saltE)},
       |e AS (SELECT doc_id, lang,
       |  CAST(unnest(generate_series(1, n_epochs)) AS BIGINT) AS epoch
       |  FROM m WHERE n_epochs >= 1),
       |t AS (SELECT doc_id, lang, epoch,
       |  doc_id * 100 + epoch AS copy_id,
       |  substr(md5('$saltI:' ||
       |    CAST(doc_id * 100 + epoch AS VARCHAR)), 1, 8)
       |    AS shuffle_key FROM e),
       |r AS (SELECT doc_id, lang, epoch, copy_id, shuffle_key,
       |  CAST(row_number() OVER (ORDER BY shuffle_key, copy_id) - 1
       |    AS BIGINT) AS global_pos FROM t)
       |SELECT doc_id, epoch, copy_id, shuffle_key, global_pos,
       |  CAST(global_pos % $numShards AS BIGINT) AS shard,
       |  CAST(global_pos // $numShards AS BIGINT) AS pos_in_shard
       |FROM r ORDER BY copy_id""".stripMargin

  /** SemDeDup (graft.operators.SemDedup): full spherical-k-means replay —
    * init = the `k` vectors with the smallest (md5-hash, id), then
    * `iterations` rounds of {max-cosine-to-center assignment (ties →
    * smallest cluster, zero-norm centers never selected), rounded-mean
    * center recompute in truncating integer division (DuckDB `//` ==
    * Scala Long `/`)} — then within-cluster pairwise cosine >= threshold,
    * keep-smallest-id. Every arithmetic step is 64-bit-integer exact up
    * to single IEEE div/sqrt ops, so the replay is bit-identical.
    */
  /** Spherical-assignment CTE: each vec of `src` to its argmax center
    * in `cName` (score = dot / sqrt(|c|^2); the 1/sqrt(|x|^2) factor is
    * constant per row, so dropping it cannot change the per-id argmax).
    */
  private def semAssignCte(dim: Int)(aName: String, cName: String,
                                     src: String): String = {
    def dotE(a: String, b: String) =
      s"list_reduce(list_transform(range(1, ${dim + 1}), " +
        s"i -> $a[i] * $b[i]), (x, y) -> x + y)"
    s"""$aName AS (SELECT id, j FROM (
       |  SELECT x.id, t.j, row_number() OVER (PARTITION BY x.id ORDER BY
       |    CASE WHEN t.cnrm = 0 THEN NULL ELSE
       |      CAST(${dotE("x.q", "t.c")} AS DOUBLE) /
       |      sqrt(CAST(t.cnrm AS DOUBLE)) END DESC NULLS LAST, t.j ASC
       |    ) AS rn
       |  FROM $src x CROSS JOIN $cName t) WHERE rn = 1)""".stripMargin
  }

  /** Rounded-mean center recompute over assignment `aName` of `src`
    * members: c_i = (2*s + sign(s)*cnt) // (2*cnt) — half away from
    * zero in truncating integer division.
    */
  private def semRecomputeCtes(dim: Int)(cName: String, aName: String,
                                         src: String): String =
    s"""${cName}s AS (SELECT a.j, t.i, SUM(x.q[t.i]) AS s, COUNT(*) AS cnt
       |  FROM $aName a JOIN $src x ON x.id = a.id
       |  CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS i) t
       |  GROUP BY a.j, t.i),
       |$cName AS (SELECT j, c,
       |  list_reduce(list_transform(c, v -> v * v), (x, y) -> x + y)
       |    AS cnrm
       |  FROM (SELECT j, list((2 * s + CASE WHEN s < 0 THEN -cnt
       |      WHEN s > 0 THEN cnt ELSE 0 END) // (2 * cnt)
       |      ORDER BY i) AS c
       |    FROM ${cName}s GROUP BY j))""".stripMargin

  /** Hash-picked-init + `iterations` Lloyd rounds over `src`, ending in
    * assignment `a<iterations>` — the clustering replay shared by the
    * batch and incremental semantic-dedup oracles.
    */
  private def semClusteringCtes(dim: Int, k: Int, iterations: Int,
                                src: String): String = {
    val rounds = (0 until iterations).map { r =>
      semRecomputeCtes(dim)(s"c${r + 1}", s"a$r", src) + ",\n" +
        semAssignCte(dim)(s"a${r + 1}", s"c${r + 1}", src)
    }
    s"""hh AS (SELECT id,
       |  CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8) AS BIGINT)
       |    AS h FROM $src),
       |sel AS (SELECT id, h FROM hh ORDER BY h, id LIMIT $k),
       |c0 AS (SELECT row_number() OVER (ORDER BY s.h, s.id) - 1 AS j,
       |  $src.q AS c, $src.nrm AS cnrm
       |  FROM sel s JOIN $src ON $src.id = s.id),
       |${(semAssignCte(dim)("a0", "c0", src) +: rounds).mkString(",\n")}"""
      .stripMargin
  }

  def dedupSemantic(dim: Int, k: Int, iterations: Int,
                    threshold: Double): String =
    s"""$QuantizedVecs,
       |${semClusteringCtes(dim, k, iterations, "n")},
       |p AS (SELECT b.id AS id, MIN(a.id) AS dup_of
       |  FROM a$iterations a JOIN a$iterations b
       |    ON a.j = b.j AND a.id < b.id
       |  JOIN n x ON x.id = a.id JOIN n y ON y.id = b.id
       |  WHERE ${pairCosine(dim)} >= $threshold GROUP BY b.id)
       |SELECT x.id AS vec_id, CAST(a.j AS BIGINT) AS cluster,
       |  p.dup_of IS NOT NULL AS is_dup, p.dup_of
       |FROM n x JOIN a$iterations a ON a.id = x.id
       |LEFT JOIN p ON p.id = x.id
       |ORDER BY vec_id""".stripMargin

  /** Incremental SemDeDup: replay the CORPUS clustering (vec_id %
    * `modulus` <> 0), derive the centers as the rounded-mean of the
    * final corpus assignment — exactly how the Spark side re-derives
    * them from the member index — assign the batch (vec_id % `modulus`
    * = 0) to those centers, then score batch × corpus-members and
    * batch × batch within clusters. Mirrors
    * [[graft.operators.IncrementalSemDedup]].
    */
  def dedupIncrementalSemantic(dim: Int, k: Int, iterations: Int,
                               threshold: Double,
                               modulus: Long): String = {
    val cF = s"c${iterations + 1}"
    s"""$QuantizedVecs,
       |nc AS (SELECT * FROM n WHERE id % $modulus <> 0),
       |nb AS (SELECT * FROM n WHERE id % $modulus = 0),
       |${semClusteringCtes(dim, k, iterations, "nc")},
       |${semRecomputeCtes(dim)(cF, s"a$iterations", "nc")},
       |${semAssignCte(dim)("ab", cF, "nb")},
       |mc AS (SELECT b.id AS id, MIN(a.id) AS mc
       |  FROM a$iterations a JOIN ab b ON a.j = b.j
       |  JOIN nc x ON x.id = a.id JOIN nb y ON y.id = b.id
       |  WHERE ${pairCosine(dim)} >= $threshold GROUP BY b.id),
       |mb AS (SELECT b.id AS id, MIN(a.id) AS mb
       |  FROM ab a JOIN ab b ON a.j = b.j AND a.id < b.id
       |  JOIN nb x ON x.id = a.id JOIN nb y ON y.id = b.id
       |  WHERE ${pairCosine(dim)} >= $threshold GROUP BY b.id)
       |SELECT x.id AS vec_id, CAST(ab.j AS BIGINT) AS cluster,
       |  mc.mc IS NOT NULL AS is_known,
       |  (mc.mc IS NOT NULL OR mb.mb IS NOT NULL) AS is_dup,
       |  least(mc.mc, mb.mb) AS dup_of
       |FROM nb x JOIN ab ON ab.id = x.id
       |LEFT JOIN mc ON mc.id = x.id
       |LEFT JOIN mb ON mb.id = x.id
       |ORDER BY vec_id""".stripMargin
  }

  // --------------------------------------------------------- streaming

  /** Batch replay of the streaming windowed-quantile query
    * (`win_quantiles`): tumbling epoch-aligned 1-day windows on the
    * raw epoch-ns lattice, exact discrete quantiles at 1-based rank
    * `ceil(q*n)` — valid as the oracle because every window holds far
    * fewer rows than the GK sketch accuracy, where
    * `percentile_approx` degenerates to the exact discrete quantile.
    */
  def winQuantiles: String =
    s"""WITH e AS (SELECT epoch_ns(ts) AS tns, event_type, value
       |  FROM events),
       |w AS (SELECT tns - tns % 86400000000000 AS w_start, event_type,
       |  value FROM e),
       |r AS (SELECT w_start, event_type, value,
       |  row_number() OVER (PARTITION BY w_start, event_type
       |    ORDER BY value) AS rn,
       |  count(*) OVER (PARTITION BY w_start, event_type) AS n FROM w),
       |q AS (SELECT w_start, event_type, max(n) AS n,
       |  max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
       |    THEN value END) AS p50,
       |  max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
       |    THEN value END) AS p90
       |  FROM r GROUP BY w_start, event_type)
       |SELECT CAST(w_start AS BIGINT) AS w_start, event_type,
       |  CAST(n AS BIGINT) AS n, p50, p90
       |FROM q ORDER BY w_start, event_type""".stripMargin

  /** Batch replay of the stream-static quantile gate (`win_gate`):
    * per-(day-window, event_type) exact p90 (the `winQuantiles` rank
    * algebra — the streaming sketch is exact in this regime), then
    * every event joins the PREVIOUS window's threshold for its type
    * (q.w_start + 1 day = event's w_start) and survives iff
    * value <= p90. First-window events have no threshold and drop —
    * the same conservative admission rule as the Spark composition.
    */
  def winGate: String =
    s"""WITH e AS (SELECT event_id, epoch_ns(ts) AS tns, event_type,
       |  value FROM events),
       |w AS (SELECT event_id, tns - tns % 86400000000000 AS w_start,
       |  event_type, value FROM e),
       |r AS (SELECT w_start, event_type, value,
       |  row_number() OVER (PARTITION BY w_start, event_type
       |    ORDER BY value) AS rn,
       |  count(*) OVER (PARTITION BY w_start, event_type) AS n FROM w),
       |q AS (SELECT w_start, event_type,
       |  max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
       |    THEN value END) AS p90
       |  FROM r GROUP BY w_start, event_type)
       |SELECT CAST(w.event_id AS BIGINT) AS event_id,
       |  CAST(w.w_start AS BIGINT) AS w_start,
       |  w.event_type, w.value, q.p90
       |FROM w JOIN q ON q.w_start + 86400000000000 = w.w_start
       |  AND q.event_type = w.event_type
       |WHERE w.value <= q.p90
       |ORDER BY w.event_id""".stripMargin

  /** Batch replay of the sliding-window streaming stats
    * (`win_stats`): duration 2 days, slide 1 day — every event
    * attributes to exactly the two epoch-aligned day-start windows
    * covering it; counts/sums/maxes over integer cents are exact.
    */
  def winStats: String =
    s"""WITH e AS (SELECT epoch_ns(ts) AS tns, event_type,
       |  CAST(round(value * 100) AS BIGINT) AS vc FROM events),
       |w AS (SELECT event_type, vc,
       |  unnest([tns - tns % 86400000000000 - 86400000000000,
       |          tns - tns % 86400000000000]) AS w_start FROM e)
       |SELECT CAST(w_start AS BIGINT) AS w_start, event_type,
       |  CAST(count(*) AS BIGINT) AS n_events,
       |  CAST(sum(vc) AS BIGINT) AS sum_value,
       |  CAST(max(vc) AS BIGINT) AS max_value
       |FROM w GROUP BY w_start, event_type
       |ORDER BY w_start, event_type""".stripMargin

  /** Host-level gate composition (`host_filter`): the messy-url fixture
    * canonicalized, per-host SourceStats over the documents' text, the
    * gate thresholds applied host-level, survivors joined back
    * null-safely (the malformed-url null host is a real class). Mirrors
    * `SourceQuality.SourceFilter(sourceColumn = "host")` over
    * `Web.UrlCanonicalize`.
    */
  def hostFilter(minMeanChars: Double): String =
    s"""WITH $webCanonCtes,
       |doc AS (SELECT d.doc_id, d.text, d.n_chars, d.lang, c.host
       |  FROM documents d JOIN canon c USING (doc_id)),
       |st AS (SELECT host, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_chars,
       |  count(DISTINCT md5(regexp_replace(trim(lower(text)), '\\s+',
       |    ' ', 'g'))) +
       |    (CASE WHEN count(*) > count(text) THEN 1 ELSE 0 END)
       |    AS classes
       |  FROM doc GROUP BY host),
       |g AS (SELECT host, mean_chars,
       |  CAST(n_docs - classes AS DOUBLE) / CAST(n_docs AS DOUBLE)
       |    AS dup_ratio
       |  FROM st WHERE mean_chars >= $minMeanChars
       |    AND CAST(n_docs - classes AS DOUBLE) / CAST(n_docs AS DOUBLE)
       |      <= 1.0 AND n_docs >= 1)
       |SELECT doc.doc_id, doc.host,
       |  g.mean_chars AS source_mean_chars,
       |  g.dup_ratio AS source_dup_ratio
       |FROM doc JOIN g ON doc.host IS NOT DISTINCT FROM g.host
       |ORDER BY doc.doc_id""".stripMargin

  // --------------------------------------------------------------- web

  /** The messy-URL fixture (`SparkEntry.webUrls`) rebuilt in SQL —
    * byte-identical strings from the same doc_id arithmetic. */
  // NOTE: concatenation `||`s sit at line ENDS — this literal is
  // interpolated into webCanonCtes' stripMargin string, where a
  // line-leading `||` would be eaten as a margin character
  private val WebUrl =
    """CASE WHEN doc_id % 7 = 6 THEN 'not a url ' || CAST(doc_id AS VARCHAR)
      |ELSE
      |  (CASE doc_id % 7 WHEN 2 THEN 'HTTP://' WHEN 4 THEN 'HTTPS://'
      |        WHEN 3 THEN 'https://' ELSE 'http://' END) ||
      |  (CASE WHEN doc_id % 7 = 4 THEN 'www.www.'
      |        WHEN (doc_id % 7) % 2 = 0 THEN 'www.' ELSE '' END) ||
      |  'site' || CAST(doc_id % 5 AS VARCHAR) || '.example.com' ||
      |  (CASE doc_id % 7 WHEN 2 THEN ':80' WHEN 3 THEN ':443'
      |        WHEN 5 THEN ':8080' ELSE '' END) ||
      |  (CASE WHEN doc_id % 7 = 1 THEN '/a//b%zz' ELSE '' END) ||
      |  (CASE WHEN doc_id % 7 = 5 THEN '/e%41%2f%7e' ELSE '' END) ||
      |  '/p' || CAST(doc_id % 11 AS VARCHAR) ||
      |  (CASE WHEN doc_id % 7 IN (0, 4) THEN '/' ELSE '' END) ||
      |  (CASE WHEN doc_id % 7 IN (0, 2, 4) THEN '?utm_source=x&b=2&a=1'
      |        WHEN doc_id % 7 = 1 THEN '?b=2&a=1'
      |        WHEN doc_id % 7 = 3 THEN '?gclid=99' ELSE '' END) ||
      |  (CASE WHEN doc_id % 7 IN (0, 3) THEN '#frag' ELSE '' END)
      |END""".stripMargin

  /** The canonicalization algebra of [[graft.operators.Web]] replayed
    * step-for-step (DuckDB deltas are syntax only: `\\1` backrefs and
    * the explicit `'g'` flag). Produces per-row
    * `(doc_id, url, url_canonical, host)` CTE `${p}canon`. The `p`
    * name-prefix lets composed queries (the curation recipe's
    * `urlColumn` leg) embed these CTEs next to the bpe chain, whose
    * `w` CTE would otherwise collide.
    */
  private def webCanonCtes: String = webCanonCtes("")

  private def webCanonCtes(p: String): String =
    s"""${p}t AS (SELECT doc_id, $WebUrl AS url FROM documents),
       |${p}w0 AS (SELECT doc_id, url, trim(url) AS u FROM ${p}t),
       |${p}w1 AS (SELECT doc_id, url, u,
       |  regexp_matches(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://') AS ok,
       |  lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))
       |    AS scheme,
       |  regexp_replace(regexp_replace(u,
       |    '^[a-zA-Z][a-zA-Z0-9+.-]*://', '', 'g'), '#.*$$', '', 'g')
       |    AS rest0 FROM ${p}w0),
       |${p}w AS (SELECT doc_id, url, u, ok, scheme,
       |  array_to_string(list_transform(string_split(rest0, '%'),
       |    (p, i) -> CASE
       |      WHEN i = 1 THEN p
       |      WHEN regexp_matches(p, '^[0-9A-Fa-f]{2}') AND
       |           regexp_matches(upper(p[1:2]),
       |             '^(4[1-9A-F]|5[0-9A]|5F|6[1-9A-F]|7[0-9A]|7E|3[0-9]|2[DE])$$')
       |        THEN decode(unhex(upper(p[1:2]))) || p[3:]
       |      WHEN regexp_matches(p, '^[0-9A-Fa-f]{2}')
       |        THEN '%' || upper(p[1:2]) || p[3:]
       |      ELSE '%' || p END), '') AS rest FROM ${p}w1),
       |${p}a AS (SELECT *,
       |  regexp_replace(regexp_extract(rest, '^([^/?#]*)', 1),
       |    '^[^@]*@', '', 'g') AS hostport,
       |  regexp_replace(rest, '^[^/?#]*', '') AS pathq FROM ${p}w),
       |${p}b AS (SELECT *,
       |  regexp_extract(hostport, ':([0-9]+)$$', 1) AS port,
       |  regexp_replace(lower(regexp_replace(hostport, ':[0-9]+$$', '',
       |    'g')), '^(www\\.)+', '', 'g') AS host0,
       |  regexp_replace(regexp_replace(
       |    regexp_extract(pathq, '^([^?]*)', 1), '/{2,}', '/', 'g'),
       |    '/+$$', '', 'g') AS path,
       |  regexp_extract(pathq, '[?](.*)$$', 1) AS query0 FROM ${p}a),
       |${p}c AS (SELECT *, list_filter(string_split(query0, '&'),
       |    p -> NOT regexp_matches(p,
       |      '^(utm_[^&=]*|fbclid|gclid)(=.*)?$$') AND p <> '')
       |    AS plist FROM ${p}b),
       |${p}d AS (SELECT *, array_to_string(list_sort(plist), '&') AS sq
       |  FROM ${p}c),
       |${p}canon AS (SELECT doc_id, url,
       |  CASE WHEN ok THEN scheme || '://' || host0 ||
       |    (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
       |          OR (scheme = 'https' AND port = '443') THEN ''
       |          ELSE ':' || port END) ||
       |    path ||
       |    (CASE WHEN len(sq) > 0 THEN '?' || sq ELSE '' END)
       |  ELSE NULL END AS url_canonical,
       |  CASE WHEN ok THEN host0 ELSE NULL END AS host FROM ${p}d)""".stripMargin

  def urlCanonical: String =
    s"""WITH $webCanonCtes
       |SELECT doc_id, url, url_canonical, host FROM canon
       |ORDER BY doc_id""".stripMargin

  def hostStats: String =
    s"""WITH $webCanonCtes,
       |g AS (SELECT host, count(*) AS n_docs,
       |  count(DISTINCT url_canonical) +
       |    (CASE WHEN count(*) > count(url_canonical) THEN 1 ELSE 0 END)
       |    AS distinct_urls
       |  FROM canon GROUP BY host)
       |SELECT host, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(distinct_urls AS BIGINT) AS distinct_urls,
       |  CAST(n_docs - distinct_urls AS DOUBLE) / CAST(n_docs AS DOUBLE)
       |    AS dup_url_ratio
       |FROM g ORDER BY host""".stripMargin

  // ---------------------------------------------------------- tokenize

  /** `Tokenize.BpeEncode` replayed in SQL — the ENCODE itself, not a
    * fixture of expected ids. The vocab CTEs rebuild the query's
    * corpus-derived vocab (top-10 words, all single chars in both
    * forms, top-10 3-char suffixes; ids = rank of piece). The encode is
    * a STEP TABLE (for every distinct word and cursor position, the
    * longest matching piece — first-form at pos 1, continuation-form
    * after) plus a recursive CTE doing the pure pointer walk
    * pos → pos + consumed; aggregates stay OUT of the recursive term,
    * which DuckDB (like most engines) disallows. Greedy MaxMatch is
    * exactly one step per position, so the walk is deterministic and
    * the completed rows are the ones where pos ran off the word end.
    */
  def bpeEncode: String =
    s"""WITH RECURSIVE
      |$bpeCtes
      |SELECT d.doc_id,
      |  CAST(coalesce(len(dt.ids), 0) AS BIGINT) AS n_bpe_tokens,
      |  coalesce(array_to_string(dt.ids, ' '), '') AS ids_str
      |FROM documents d LEFT JOIN dt USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** `Tokenize.UnigramScores`' score derivation (ends in
    * `uscore(piece, id, score)`): piece frequencies under the greedy
    * MaxMatch segmentation ([[bpeEncodeCtes]]' `dt.pcs`), add-one
    * smoothed, `round(1e6 * ln((cnt+1)/(total+V)))` — the DSIR ln
    * lattice, exact integers in both engines. */
  private def unigramScoreCtes: String =
    s"""upc AS (SELECT unnest(pcs) AS piece FROM dt),
      |ucnt AS (SELECT piece, CAST(count(*) AS BIGINT) AS cnt
      |  FROM upc GROUP BY piece),
      |utot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM ucnt),
      |uvn AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
      |uscore AS (SELECT vc.piece, vc.id,
      |    CAST(round(ln((COALESCE(c.cnt, 0) + 1.0) / (t + v)) * 1000000)
      |      AS BIGINT) AS score
      |  FROM vocab vc LEFT JOIN ucnt c USING (piece)
      |  CROSS JOIN utot CROSS JOIN uvn)""".stripMargin

  /** `Tokenize.UnigramEncode`'s Viterbi DP replayed CELL-FOR-CELL
    * (ends in `udt(doc_id, ids)`): each word's whole DP state rides
    * ONE row of a recursive CTE (the bpeLearn state-row pattern) as a
    * list of cells `struct(ok, sc, nt, ids)` — cell k = the best
    * (total score, token count, ids) over the word's first k chars.
    * Round r appends cell r+1 as the argmax over pieces ending there;
    * the sort key `(−total, count, −plen)` IS the engine's tie-break
    * lattice (max score → fewer tokens → longer final piece; further
    * ties impossible — same end and length pin the piece). */
  private def unigramEncodeCtes: String = unigramEncodeCtes("u", "uscore")

  /** The `p` name-prefix and `scoreRel` parameters let the hard-EM
    * query chain TWO full DP replays (round-0 scores, then the
    * rescored table) in one statement. */
  private def unigramEncodeCtes(p: String, scoreRel: String): String = {
    // the per-candidate evaluation against the carried state — written
    // once here, interpolated at each use site (the recursive term is
    // ONE select; SQL has no lets)
    val ev =
      """list_filter(list_transform(COALESCE(c.cands, []),
        |      x -> CASE WHEN COALESCE(
        |            list_extract(r.best, r.r + 2 - x.plen).ok, false)
        |        THEN struct_pack(
        |          k1 := -(list_extract(r.best, r.r + 2 - x.plen).sc
        |                  + x.sc),
        |          k2 := list_extract(r.best, r.r + 2 - x.plen).nt + 1,
        |          k3 := -x.plen, id := x.id, stx := r.r + 2 - x.plen)
        |        ELSE NULL END), y -> y IS NOT NULL)"""
        .stripMargin
    s"""${p}cand0 AS (SELECT p.word, p.e, v.id, v.score,
      |    CASE WHEN v.piece NOT LIKE '##%' THEN len(v.piece)
      |         ELSE len(v.piece) - 2 END AS plen
      |  FROM (SELECT word, unnest(generate_series(1, len(word))) AS e
      |        FROM dw) p
      |  JOIN $scoreRel v ON
      |    (v.piece NOT LIKE '##%' AND p.e = len(v.piece)
      |      AND substr(p.word, 1, len(v.piece)) = v.piece)
      |    OR (v.piece LIKE '##%' AND len(v.piece) > 2
      |      AND p.e >= len(v.piece) - 1
      |      AND substr(p.word, p.e - (len(v.piece) - 2) + 1,
      |                 len(v.piece) - 2) = substr(v.piece, 3))),
      |${p}cand AS (SELECT word, e,
      |    list(struct_pack(id := id, plen := plen, sc := score)
      |         ORDER BY plen, id) AS cands
      |  FROM ${p}cand0 GROUP BY word, e),
      |${p}rec AS (
      |  SELECT word, 0 AS r,
      |    [struct_pack(ok := true, sc := CAST(0 AS BIGINT),
      |                 nt := CAST(0 AS BIGINT),
      |                 ids := CAST([] AS BIGINT[]))] AS best
      |  FROM dw
      |  UNION ALL
      |  SELECT r.word, r.r + 1, list_append(r.best,
      |    CASE WHEN len($ev) = 0
      |    THEN struct_pack(ok := false, sc := CAST(0 AS BIGINT),
      |                     nt := CAST(0 AS BIGINT),
      |                     ids := CAST([] AS BIGINT[]))
      |    ELSE struct_pack(ok := true,
      |      sc := -(list_sort($ev)[1].k1),
      |      nt := list_sort($ev)[1].k2,
      |      ids := list_append(
      |        list_extract(r.best, list_sort($ev)[1].stx).ids,
      |        list_sort($ev)[1].id))
      |    END)
      |  FROM ${p}rec r LEFT JOIN ${p}cand c
      |    ON c.word = r.word AND c.e = r.r + 1
      |  WHERE r.r < len(r.word)),
      |${p}enc AS (SELECT word, struct_extract(
      |    list_extract(best, len(word) + 1), 'ids') AS ids
      |  FROM ${p}rec WHERE r = len(word)),
      |${p}dt AS (SELECT wr.doc_id,
      |    flatten(list(${p}enc.ids ORDER BY wr.pos)) AS ids
      |  FROM w wr JOIN ${p}enc USING (word)
      |  GROUP BY wr.doc_id)""".stripMargin
  }

  /** `Tokenize.UnigramScores` end to end: the corpus-derived vocab,
    * one MaxMatch counting pass, the smoothed integer ln scores. */
  def unigramScores: String =
    s"""WITH RECURSIVE
      |$bpeCtes,
      |$unigramScoreCtes
      |SELECT piece, id, score FROM uscore ORDER BY id""".stripMargin

  /** `Tokenize.UnigramEncode` end to end — scores derivation + the
    * Viterbi DP itself, replayed in SQL. */
  def unigramEncode: String =
    s"""WITH RECURSIVE
      |$bpeCtes,
      |$unigramScoreCtes,
      |$unigramEncodeCtes
      |SELECT d.doc_id,
      |  CAST(coalesce(len(udt.ids), 0) AS BIGINT) AS n_bpe_tokens,
      |  coalesce(array_to_string(udt.ids, ' '), '') AS ids_str
      |FROM documents d LEFT JOIN udt USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** `Tokenize.UnigramScores(emRounds = 1)` + the encode under the
    * refined table — ONE HARD-EM ROUND replayed end to end: round-0
    * scores (MaxMatch counts), the full Viterbi re-segmentation of
    * the corpus (the E step, udt), integer recount by id + the same
    * smoothed lattice (the M step, uscore2), then the SECOND full DP
    * under the refined scores (vdt) — two complete cell-for-cell DP
    * replays chained in one statement. */
  def unigramEm: String =
    s"""WITH RECURSIVE
      |$bpeCtes,
      |$unigramScoreCtes,
      |${unigramEncodeCtes("u", "uscore")},
      |u2cnt AS (SELECT id, CAST(count(*) AS BIGINT) AS cnt
      |  FROM (SELECT unnest(ids) AS id FROM udt) GROUP BY id),
      |u2tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM u2cnt),
      |uscore2 AS (SELECT vc.piece, vc.id,
      |    CAST(round(ln((COALESCE(c.cnt, 0) + 1.0) / (t + v)) * 1000000)
      |      AS BIGINT) AS score
      |  FROM vocab vc LEFT JOIN u2cnt c USING (id)
      |  CROSS JOIN u2tot CROSS JOIN uvn),
      |${unigramEncodeCtes("v", "uscore2")}
      |SELECT d.doc_id,
      |  CAST(coalesce(len(vdt.ids), 0) AS BIGINT) AS n_bpe_tokens,
      |  coalesce(array_to_string(vdt.ids, ' '), '') AS ids_str
      |FROM documents d LEFT JOIN vdt USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** `Tokenize.UnigramScores(pruneTo = ...)`'s pruning round replayed
    * end to end (one round reaches the query's derived target by
    * construction): round-0 scores, the full Viterbi E-step (`udt`),
    * integer recount by id, the DROP PICK itself — removable = pieces
    * that are not single-codepoint (first-form len 1 / continuation
    * len 3 in the ASCII fixture), ranked `(cnt ASC, id DESC)`, the
    * first `max(1, removable // 5)` dropped — then the survivors
    * rescored through the same smoothed lattice with `T' = Σ kept
    * counts, V' = kept size`. Output is the pruned score artifact. */
  def unigramPrune: String =
    s"""WITH RECURSIVE
      |$bpeCtes,
      |$unigramScoreCtes,
      |${unigramEncodeCtes("u", "uscore")},
      |u2cnt AS (SELECT id, CAST(count(*) AS BIGINT) AS cnt
      |  FROM (SELECT unnest(ids) AS id FROM udt) GROUP BY id),
      |uvx AS (SELECT vc.piece, vc.id, COALESCE(c.cnt, 0) AS cnt,
      |    (CASE WHEN vc.piece NOT LIKE '##%' THEN len(vc.piece) = 1
      |          ELSE len(vc.piece) = 3 END) AS prot
      |  FROM vocab vc LEFT JOIN u2cnt c USING (id)),
      |urem AS (SELECT count(*) AS r FROM uvx WHERE NOT prot),
      |udrop AS (SELECT q.id FROM (SELECT id,
      |    row_number() OVER (ORDER BY cnt ASC, id DESC) AS rk
      |  FROM uvx WHERE NOT prot) q CROSS JOIN urem
      |  WHERE q.rk <= greatest(1, urem.r // 5)),
      |ukept AS (SELECT piece, id, cnt FROM uvx
      |  WHERE id NOT IN (SELECT id FROM udrop)),
      |uktot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t,
      |  CAST(count(*) AS BIGINT) AS v FROM ukept)
      |SELECT piece, id,
      |  CAST(round(ln((cnt + 1.0) / (t + v)) * 1000000) AS BIGINT)
      |    AS score
      |FROM ukept CROSS JOIN uktot ORDER BY id""".stripMargin

  /** The shared encode CTE chain (ends in `dt(doc_id, ids, pcs)`):
    * corpus-derived vocab, step table and recursive pointer walk —
    * carrying BOTH the token ids and the piece STRINGS so the composed
    * queries (`chunk_bpe`, `mix_bpe`) replay exactly one encode.
    * Callers prefix `WITH RECURSIVE`.
    */
  private def bpeCtes: String =
    s"""${bpeWordCtes()},
      |${bpeVocabCtes()},
      |${bpeEncodeCtes()}""".stripMargin

  /** The byte → visible-char alphabet of `Tokenize.byteChar` as a SQL
    * VARCHAR list literal (entry b+1 = mapped char of byte b). */
  private lazy val byteMapLit: String =
    graft.operators.Tokenize.byteAlphabet
      .map(c => "'" + c.replace("'", "''") + "'")
      .mkString("[", ", ", "]")

  /** One word through the byte alphabet: UTF-8 bytes via hex pairs →
    * table lookup → concatenation (mirrors `Tokenize.byteMapCol`). */
  private def byteMapSql(w: String): String =
    s"list_reduce(list_transform(" +
      s"generate_series(1, octet_length(encode($w))), " +
      s"i -> ($byteMapLit)[CAST('0x' || " +
      s"substr(hex(encode($w)), 2 * i - 1, 2) AS INT) + 1]), " +
      "(a, b) -> a || b)"

  /** Corpus → per-doc word stream + word-frequency table (the shared
    * head of both vocab constructions); `from` is the doc source
    * relation (a CTE for synthetic-text variants); `byteMap` replays
    * the byte-level word mapping so everything downstream (learn,
    * encode) runs unchanged over byte symbols. */
  private def bpeWordCtes(from: String = "documents",
                          byteMap: Boolean = false): String = {
    val wordExpr = if (byteMap) s"${byteMapSql("word")} AS word"
      else "word"
    s"""words AS (
      |  SELECT doc_id, unnest(generate_series(1, len(l))) AS pos,
      |         unnest(l) AS word
      |  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS l
      |        FROM $from)),
      |w AS (SELECT doc_id, pos, $wordExpr FROM words WHERE word <> ''),
      |freq AS (SELECT word, count(*) AS cnt FROM w GROUP BY word)""".stripMargin
  }

  /** The `VocabBuild` frequency-heuristic derivation, ending in
    * `vocab(piece, id)`. */
  private def bpeVocabCtes(topWords: Int = 10): String =
    s"""tw AS (SELECT word AS piece FROM freq
      |  WHERE word NOT LIKE '##%'
      |  ORDER BY cnt DESC, word ASC LIMIT $topWords),
      |chars AS (SELECT DISTINCT substr(word, i, 1) AS c
      |  FROM (SELECT word, unnest(generate_series(1, len(word))) AS i
      |        FROM (SELECT DISTINCT word FROM w))),
      |charp AS (SELECT c AS piece FROM chars
      |  UNION SELECT '##' || c FROM chars),
      |suff AS (SELECT piece FROM (
      |    SELECT '##' || substr(word, len(word) - 2, 3) AS piece,
      |           count(*) AS cnt
      |    FROM w WHERE len(word) >= 5 GROUP BY 1)
      |  ORDER BY cnt DESC, piece ASC LIMIT 10),
      |vp AS (SELECT DISTINCT piece FROM (SELECT piece FROM tw
      |  UNION ALL SELECT piece FROM charp
      |  UNION ALL SELECT piece FROM suff)),
      |vocab AS (SELECT piece,
      |  CAST(row_number() OVER (ORDER BY piece) AS BIGINT) AS id FROM vp)""".stripMargin

  /** `Tokenize.BpeLearn` replayed in SQL — the MERGE ROUNDS themselves,
    * not a fixture of expected pieces: the whole learn state (per-word
    * symbolization + merges so far) rides ONE ROW of a recursive CTE as
    * list-of-struct values, and each round's pair counting, hazard
    * filter, deterministic argmax (count desc, pair asc — encoded as a
    * `(negcount, a, b)` struct sort) and greedy left-to-right merge
    * apply are pure scalar list-lambda algebra, which is what DuckDB's
    * recursive term permits (no aggregates over the recursive
    * relation). Every adjacent occurrence scores (duplicates share the
    * argmax, so no struct-distinct is needed — DuckDB cannot
    * `list_distinct` structs). `list_slice(acc, 1, len-1)`, NOT
    * `acc[:-1]`: DuckDB slice bounds are INCLUSIVE (`[:-1]` keeps the
    * whole list — Python intuition silently breaks the merge).
    * Ends in `vlearn(piece, merge_rank)` + `vocab(piece, id)` — the
    * same `vocab` contract [[bpeEncodeCtes]] consumes, so the learned
    * vocab drives the SAME oracle encode replay.
    */
  private def bpeLearnCtes(nMerges: Int,
                           withByteAlphabet: Boolean = false): String = {
    // byte-level totality: the full byte alphabet enters the base
    // symbol set at rank 0 in both forms (BpeLearn's baseAlphabet)
    val alphaUnion = if (!withByteAlphabet) ""
      else s"""
        |  UNION SELECT unnest($byteMapLit) AS piece
        |  UNION SELECT '##' || unnest($byteMapLit) AS piece""".stripMargin
    s"""init AS (SELECT list({w: word, cnt: cnt, syms:
      |    list_transform(generate_series(1, len(word)),
      |      i -> CASE WHEN i = 1 THEN substr(word, 1, 1)
      |           ELSE '##' || substr(word, i, 1) END)} ORDER BY word) AS ws
      |  FROM freq),
      |lrn AS (
      |  SELECT 0 AS r, ws, CAST([] AS VARCHAR[]) AS merges FROM init
      |  UNION ALL
      |  SELECT r + 1,
      |    list_transform(ws, wd -> {w: wd.w, cnt: wd.cnt,
      |      syms: list_reduce(
      |        list_prepend(CAST([] AS VARCHAR[]),
      |          list_transform(wd.syms, s -> [s])),
      |        (acc, x) -> CASE
      |          WHEN len(acc) > 0 AND acc[-1] = bp.a AND x[1] = bp.b
      |          THEN list_append(list_slice(acc, 1, len(acc) - 1),
      |            bp.a || CASE WHEN bp.b LIKE '##%' THEN bp.b[3:]
      |                    ELSE bp.b END)
      |          ELSE list_concat(acc, x) END)}),
      |    list_append(merges,
      |      bp.a || CASE WHEN bp.b LIKE '##%' THEN bp.b[3:] ELSE bp.b END)
      |  FROM (
      |    SELECT r, ws, merges,
      |      list_sort(list_transform(
      |        list_filter(cand,
      |          p -> NOT (p.a NOT LIKE '##%' AND
      |            (p.a || CASE WHEN p.b LIKE '##%' THEN p.b[3:]
      |                    ELSE p.b END) LIKE '##%')),
      |        p -> {negc: -list_sum(list_transform(cand, c ->
      |                CASE WHEN c.a = p.a AND c.b = p.b THEN c.cnt
      |                     ELSE 0 END)),
      |              a: p.a, b: p.b}))[1] AS bp
      |    FROM (
      |      SELECT r, ws, merges,
      |        flatten(list_transform(ws, wd ->
      |          list_transform(generate_series(1, len(wd.syms) - 1),
      |            i -> {a: wd.syms[i], b: wd.syms[i + 1], cnt: wd.cnt})))
      |          AS cand
      |      FROM lrn WHERE r < $nMerges)
      |  ) WHERE bp IS NOT NULL
      |),
      |lfinal AS (SELECT ws, merges FROM lrn ORDER BY r DESC LIMIT 1),
      |basep AS (SELECT DISTINCT piece FROM (SELECT
      |    unnest(list_transform(generate_series(1, len(word)),
      |      i -> CASE WHEN i = 1 THEN substr(word, 1, 1)
      |           ELSE '##' || substr(word, i, 1) END)) AS piece
      |  FROM freq$alphaUnion)),
      |mrg AS (SELECT u.piece AS piece, u.rank AS rank FROM (
      |    SELECT unnest(list_transform(merges,
      |      (m, i) -> {piece: m, rank: i})) AS u FROM lfinal)),
      |allp AS (SELECT piece, 0 AS merge_rank FROM basep
      |  UNION ALL SELECT piece, rank FROM mrg),
      |vlearn AS (SELECT piece, min(merge_rank) AS merge_rank FROM allp
      |  GROUP BY piece),
      |vocab AS (SELECT piece,
      |  CAST(row_number() OVER (ORDER BY piece) AS BIGINT) AS id
      |  FROM vlearn)""".stripMargin
  }

  /** The greedy-MaxMatch encode replay (step table + recursive pointer
    * walk), parameterized by whichever `vocab(piece, id)` CTE precedes
    * it AND by the word-stream relation (`doc_id, pos, word` — default
    * the shared `w`; the curation recipe passes its clean-text words);
    * ends in `dt(doc_id, ids, pcs)`. */
  private def bpeEncodeCtes(wordsRel: String = "w"): String =
    s"""dw AS (SELECT DISTINCT word FROM $wordsRel),
      |positions AS (SELECT word,
      |  unnest(generate_series(1, len(word))) AS pos FROM dw),
      |step AS (SELECT p.word, p.pos,
      |    max_by(v.id, CASE WHEN p.pos = 1 THEN len(v.piece)
      |                      ELSE len(v.piece) - 2 END) AS id,
      |    max_by(v.piece, CASE WHEN p.pos = 1 THEN len(v.piece)
      |                         ELSE len(v.piece) - 2 END) AS piece,
      |    max(CASE WHEN p.pos = 1 THEN len(v.piece)
      |             ELSE len(v.piece) - 2 END) AS plen
      |  FROM positions p JOIN vocab v ON
      |    (p.pos = 1 AND v.piece NOT LIKE '##%'
      |     AND substr(p.word, 1, len(v.piece)) = v.piece)
      |    OR (p.pos > 1 AND v.piece LIKE '##%' AND len(v.piece) > 2
      |        AND substr(p.word, p.pos, len(v.piece) - 2)
      |            = substr(v.piece, 3))
      |  GROUP BY p.word, p.pos),
      |rec AS (
      |  SELECT word, 1 AS pos, CAST([] AS BIGINT[]) AS ids,
      |         CAST([] AS VARCHAR[]) AS pcs FROM dw
      |  UNION ALL
      |  SELECT r.word, r.pos + s.plen, list_append(r.ids, s.id),
      |         list_append(r.pcs, s.piece)
      |  FROM rec r JOIN step s ON s.word = r.word AND s.pos = r.pos
      |  WHERE r.pos <= len(r.word)),
      |enc AS (SELECT word, ids, pcs FROM rec WHERE pos = len(word) + 1),
      |dt AS (SELECT wr.doc_id,
      |  flatten(list(e.ids ORDER BY wr.pos)) AS ids,
      |  flatten(list(e.pcs ORDER BY wr.pos)) AS pcs
      |  FROM $wordsRel wr JOIN enc e USING (word)
      |  GROUP BY wr.doc_id)""".stripMargin

  /** The composed curation recipe replay
    * (`graft.operators.Curation.Recipe` — the streaming ingest loop's
    * batch face): gate (the DSIR ratio-table score over the RAW text),
    * strip (corpus-hot lines by document frequency), and the greedy
    * MaxMatch encode of the CLEAN text against the corpus-derived
    * vocab — all four derivations (counts, hot set, vocab, encode)
    * re-derived in ONE SQL query over the same banner-augmented
    * corpus the engine query builds. Only admitted docs
    * (score >= minScore) survive.
    */
  def curationRecipe(targetValue: String, minScore: Long,
                     numFeatures: Int, maxDocFreq: Long,
                     clfRounds: Int = 0,
                     clfNumFeatures: Int = 1024,
                     withUrl: Boolean = false): String = {
    // the OPTIONAL trained-gate leg (clfRounds > 0): the
    // qualityClassifier GD-round replay over the SAME ml corpus,
    // k-prefixed CTE names; admission then requires margin > 0 in
    // addition to the DSIR threshold, and quality_margin rides the
    // output (Curation.Recipe's classifierWeights contract)
    val clfCtes =
      if (clfRounds == 0) ""
      else {
        val roundCtes = (1 to clfRounds).map { r =>
          s"""km$r AS (SELECT kfx.doc_id, kfx.tgt,
             |    sum(kfx.x * w.wt) AS mg
             |  FROM kfx JOIN kw${r - 1} w USING (f) GROUP BY 1, 2),
             |kg$r AS (SELECT kfx.f,
             |    sum(CASE WHEN kfx.tgt THEN kfx.x * c.nn
             |        ELSE -kfx.x * c.np END) AS gr
             |  FROM kfx JOIN km$r m ON m.doc_id = kfx.doc_id
             |  CROSS JOIN kcls c
             |  WHERE (CASE WHEN m.tgt THEN 1 ELSE -1 END) * m.mg <= 0
             |  GROUP BY kfx.f),
             |kw$r AS (SELECT w.f, w.wt + COALESCE(g.gr, 0) AS wt
             |  FROM kw${r - 1} w LEFT JOIN kg$r g USING (f))"""
            .stripMargin
        }.mkString(",\n")
        s"""kp AS (SELECT doc_id,
           |    COALESCE(source = '$targetValue', FALSE) AS tgt,
           |    unnest($Toks) AS tok FROM ml),
           |kf0 AS (SELECT doc_id, tgt,
           |    CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT)
           |      % $clfNumFeatures AS f FROM kp),
           |kfx AS (SELECT doc_id, tgt, f, CAST(count(*) AS BIGINT) AS x
           |  FROM kf0 GROUP BY 1, 2, 3),
           |kcls AS (SELECT
           |  sum(CASE WHEN COALESCE(source = '$targetValue', FALSE)
           |      THEN 1 ELSE 0 END) AS np,
           |  sum(CASE WHEN COALESCE(source = '$targetValue', FALSE)
           |      THEN 0 ELSE 1 END) AS nn FROM ml),
           |kw0 AS (SELECT DISTINCT f, CAST(0 AS BIGINT) AS wt FROM kfx),
           |$roundCtes,
           |ks AS (SELECT kfx.doc_id, sum(kfx.x * w.wt) AS margin
           |  FROM kfx JOIN kw$clfRounds w USING (f) GROUP BY 1),"""
          .stripMargin
      }
    val admClf =
      if (clfRounds == 0) ""
      else " AND COALESCE(k.margin, 0) > 0"
    val admJoin =
      if (clfRounds == 0) "" else " LEFT JOIN ks k USING (doc_id)"
    val marginSel =
      if (clfRounds == 0) ""
      else ", COALESCE(k.margin, 0) AS quality_margin"
    val stripMarginCol =
      if (clfRounds == 0) "" else ", a.quality_margin"
    val marginOut =
      if (clfRounds == 0) ""
      else ", CAST(s.quality_margin AS BIGINT) AS quality_margin"
    // the clf variant appends the per-source tag token to line 1 (the
    // fixture corpus has no separable source signal of its own — the
    // qualityClassifier `tagged` convention); the tag rides the
    // DSIR/vocab/strip derivations like any other token
    val mlText =
      if (clfRounds == 0) "text"
      else "text || repeat(' tag_' || source, 8)"
    // the urlColumn leg (Curation.Recipe's canonicalize-first wiring):
    // the u-prefixed webCanonCtes replay UrlCanonicalize, and the
    // canonical url threads to every ADMITTED row's output
    val urlCtes =
      if (!withUrl) "" else s"${webCanonCtes("u")},\n"
    val urlSel = if (!withUrl) "" else " uc.url_canonical,"
    val urlJoin =
      if (!withUrl) "" else " LEFT JOIN ucanon uc ON uc.doc_id = s.doc_id"
    s"""WITH RECURSIVE
       |${urlCtes}ml AS (SELECT doc_id, source,
       |  $mlText || chr(10) || 'Cookie notice: accept all cookies' ||
       |  chr(10) || lang || ' footer' AS text FROM documents),
       |${bpeWordCtes("ml")},
       |${bpeVocabCtes()},
       |gp AS (SELECT doc_id,
       |    COALESCE(source = '$targetValue', FALSE) AS tgt,
       |    unnest($Toks) AS tok FROM ml),
       |gf AS (SELECT doc_id, tgt,
       |    CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % $numFeatures
       |      AS f FROM gp),
       |gc AS (SELECT f, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
       |    sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS cr
       |  FROM gf GROUP BY f),
       |gt AS (SELECT sum(ct) AS tt, sum(cr) AS tr, count(*) AS v
       |  FROM gc),
       |glr AS (SELECT f, CAST(round((ln((ct + 1.0) / (tt + v)) -
       |    ln((cr + 1.0) / (tr + v))) * 1000000) AS BIGINT) AS lr
       |  FROM gc CROSS JOIN gt),
       |gsc AS (SELECT gf.doc_id, sum(lr) AS sc
       |  FROM gf JOIN glr USING (f) GROUP BY gf.doc_id),
       |${clfCtes}adm AS (SELECT m.doc_id,
       |  COALESCE(g.sc, 0) AS dsir_score$marginSel
       |  FROM ml m LEFT JOIN gsc g USING (doc_id)$admJoin
       |  WHERE COALESCE(g.sc, 0) >= $minScore$admClf),
       |l AS (SELECT doc_id,
       |  unnest(generate_series(1, len(sl))) AS pos, unnest(sl) AS line
       |  FROM (SELECT doc_id, string_split(text, chr(10)) AS sl
       |        FROM ml)),
       |hot AS (SELECT line FROM (
       |  SELECT line, count(DISTINCT doc_id) AS df FROM l GROUP BY line)
       |  WHERE df > $maxDocFreq),
       |kept AS (SELECT l.doc_id, l.pos, l.line FROM l
       |  ANTI JOIN hot USING (line)),
       |reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept_lines,
       |  string_agg(line, chr(10) ORDER BY pos) AS clean_text
       |  FROM kept GROUP BY doc_id),
       |stripd AS (SELECT a.doc_id, a.dsir_score$stripMarginCol,
       |  CAST(coalesce(len(string_split(m.text, chr(10))), 0) AS BIGINT)
       |    AS n_lines,
       |  coalesce(r.n_kept_lines, 0) AS n_kept_lines,
       |  coalesce(r.clean_text, '') AS clean_text
       |  FROM adm a JOIN ml m USING (doc_id)
       |  LEFT JOIN reb r USING (doc_id)),
       |cw0 AS (SELECT doc_id,
       |  unnest(generate_series(1, len(cl))) AS pos, unnest(cl) AS word
       |  FROM (SELECT doc_id,
       |    string_split_regex(trim(lower(clean_text)), '\\s+') AS cl
       |    FROM stripd)),
       |cw AS (SELECT doc_id, pos, word FROM cw0 WHERE word <> ''),
       |${bpeEncodeCtes("cw")}
       |SELECT s.doc_id,$urlSel
       |  CAST(s.dsir_score AS BIGINT) AS dsir_score$marginOut, s.n_lines,
       |  s.n_kept_lines, s.clean_text,
       |  CAST(coalesce(len(dt.ids), 0) AS BIGINT) AS n_bpe_tokens,
       |  coalesce(array_to_string(dt.ids, ' '), '') AS ids_str
       |FROM stripd s LEFT JOIN dt USING (doc_id)$urlJoin
       |ORDER BY s.doc_id""".stripMargin
  }

  /** Trained quality classifier replay
    * (`graft.operators.Classifier.QualityClassifier`) — the
    * full-batch perceptron GD rounds THEMSELVES, unrolled (the
    * annIvfPqTrained convention): per round, every doc's integer
    * margin against the previous weights, the misclassified docs'
    * `y·x` summed per feature into one gradient, weights += gradient;
    * then the final scoring pass. Features are the DSIR hashed-token
    * cells; weights exist only for features present in the corpus
    * (absent cells are identically zero on both engines). Everything
    * is exact 64-bit integer arithmetic.
    */
  def qualityClassifier(positiveValue: String, numFeatures: Int,
                        rounds: Int, ngram: Int = 1,
                        finalSelect: String = null,
                        tagged: Boolean = false): String = {
    // tagged: the fixture corpus draws every source from ONE word pool
    // (no separable signal anywhere), so the classifier queries append
    // a per-source tag token — the classifier must still FIND it among
    // the hash cells, and the GD rounds replay unchanged
    val textExpr =
      if (tagged) "text || repeat(' tag_' || source, 8) AS text"
      else "text"
    val finalSel = Option(finalSelect).getOrElse(
      """SELECT d.doc_id,
        |  CAST(COALESCE(s.margin, 0) AS BIGINT) AS quality_margin,
        |  COALESCE(s.margin, 0) > 0 AS quality_keep
        |FROM d LEFT JOIN s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)
    val roundCtes = (1 to rounds).map { r =>
      s"""m$r AS (SELECT fx.doc_id, fx.tgt, sum(fx.x * w.wt) AS mg
         |  FROM fx JOIN w${r - 1} w USING (f) GROUP BY 1, 2),
         |g$r AS (SELECT fx.f,
         |    sum(CASE WHEN fx.tgt THEN fx.x * c.nn
         |        ELSE -fx.x * c.np END) AS gr
         |  FROM fx JOIN m$r m ON m.doc_id = fx.doc_id
         |  CROSS JOIN cls c
         |  WHERE (CASE WHEN m.tgt THEN 1 ELSE -1 END) * m.mg <= 0
         |  GROUP BY fx.f),
         |w$r AS (SELECT w.f, w.wt + COALESCE(g.gr, 0) AS wt
         |  FROM w${r - 1} w LEFT JOIN g$r g USING (f))""".stripMargin
    }.mkString(",\n")
    val posting =
      if (ngram == 1)
        s"""p AS (SELECT doc_id,
           |    COALESCE(source = '$positiveValue', FALSE) AS tgt,
           |    unnest($Toks) AS tok FROM d),""".stripMargin
      else
        s"""p0 AS (SELECT doc_id,
           |    COALESCE(source = '$positiveValue', FALSE) AS tgt,
           |    $Toks AS tk FROM d),
           |p AS (SELECT doc_id, tgt,
           |    unnest(list_transform(range(1, len(tk)),
           |      i -> tk[i] || ' ' || tk[i + 1])) AS tok FROM p0),""".stripMargin
    s"""WITH d AS (SELECT doc_id, $textExpr, source FROM documents),
       |$posting
       |f0 AS (SELECT doc_id, tgt,
       |    CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % $numFeatures
       |      AS f FROM p),
       |fx AS (SELECT doc_id, tgt, f, CAST(count(*) AS BIGINT) AS x
       |  FROM f0 GROUP BY 1, 2, 3),
       |cls AS (SELECT
       |  sum(CASE WHEN COALESCE(source = '$positiveValue', FALSE)
       |      THEN 1 ELSE 0 END) AS np,
       |  sum(CASE WHEN COALESCE(source = '$positiveValue', FALSE)
       |      THEN 0 ELSE 1 END) AS nn FROM d),
       |w0 AS (SELECT DISTINCT f, CAST(0 AS BIGINT) AS wt FROM fx),
       |$roundCtes,
       |s AS (SELECT fx.doc_id, sum(fx.x * w.wt) AS margin
       |  FROM fx JOIN w$rounds w USING (f) GROUP BY 1)
       |$finalSel""".stripMargin
  }

  /** The PERSISTED weights artifact (`Classifier.weightsTable`):
    * the same unrolled GD rounds, final weights out — nonzero cells
    * only (sparse), ordered by feature. */
  def qualityWeights(positiveValue: String, numFeatures: Int,
                     rounds: Int, ngram: Int = 1,
                     tagged: Boolean = false): String =
    qualityClassifier(positiveValue, numFeatures, rounds, ngram,
      finalSelect = s"""SELECT CAST(w.f AS BIGINT) AS feature,
         |  CAST(w.wt AS BIGINT) AS weight
         |FROM w$rounds w WHERE w.wt <> 0
         |ORDER BY feature""".stripMargin,
      tagged = tagged)

  /** DEEP-VOCAB batched BPE learning replay (`Tokenize.BpeLearn`
    * `batchMerges > 1`) — the batched rounds themselves: per round,
    * the candidate pairs sort by (count desc, pair asc), DEDUP to
    * distinct pairs (adjacent-filter after the sort — the engine's
    * window is over distinct pairs; DuckDB cannot list_distinct
    * structs), slice to the `batch * 8` window, then a list_reduce
    * greedily selects up to `batch` NON-INTERACTING pairs (no symbol
    * shared with — and no merged-string collision against — an
    * earlier selection), and ONE left-to-right fold applies them all.
    * Merges append in selection order; the vocab tail (base symbols,
    * ranks, ids) is the [[bpeLearnCtes]] contract. Ends in
    * `vlearn(piece, merge_rank)` + `vocab(piece, id)`.
    */
  private def bpeLearnDeepCtes(nMerges: Int, batch: Int): String = {
    val window = batch * 8
    s"""init AS (SELECT list({w: word, cnt: cnt, syms:
      |    list_transform(generate_series(1, len(word)),
      |      i -> CASE WHEN i = 1 THEN substr(word, 1, 1)
      |           ELSE '##' || substr(word, i, 1) END)} ORDER BY word) AS ws
      |  FROM freq),
      |lrn AS (
      |  SELECT 0 AS r, ws, CAST([] AS VARCHAR[]) AS merges FROM init
      |  UNION ALL
      |  SELECT r + 1,
      |    list_transform(ws, wd -> {w: wd.w, cnt: wd.cnt,
      |      syms: list_reduce(
      |        list_prepend(CAST([] AS VARCHAR[]),
      |          list_transform(wd.syms, s -> [s])),
      |        (acc, x) -> CASE
      |          WHEN len(acc) > 0 AND len(list_filter(sel,
      |              p -> p.a = acc[-1] AND p.b = x[1])) > 0
      |          THEN list_append(list_slice(acc, 1, len(acc) - 1),
      |            list_filter(sel,
      |              p -> p.a = acc[-1] AND p.b = x[1])[1].m)
      |          ELSE list_concat(acc, x) END)}),
      |    list_concat(merges, list_transform(sel, p -> p.m))
      |  FROM (
      |    SELECT r, ws, merges,
      |      -- plain list-of-struct accumulator: DuckDB 1.0 drops all
      |      -- but the last element of a LIST nested INSIDE a struct
      |      -- accumulator in list_reduce (scalar fields thread fine),
      |      -- so `used` membership derives from the selections
      |      -- themselves — a pair interacts iff one of its symbols or
      |      -- its merged string collides with any field of an earlier
      |      -- selection. The reject branch must COPY the accumulator
      |      -- (list_slice) — a pass-through `ELSE acc` after a prior
      |      -- list_concat corrupts it in DuckDB 1.0 (verified
      |      -- minimally: accept/reject/accept loses the first accept)
      |      list_reduce(
      |        list_prepend(
      |          CAST([] AS STRUCT(a VARCHAR, b VARCHAR, m VARCHAR)[]),
      |          list_transform(scanp, p -> [p])),
      |        (acc, x) -> CASE
      |          WHEN len(acc) < LEAST($batch, $nMerges - mlen)
      |            AND len(list_filter(acc, q ->
      |              q.a IN (x[1].a, x[1].b, x[1].m) OR
      |              q.b IN (x[1].a, x[1].b, x[1].m) OR
      |              q.m IN (x[1].a, x[1].b, x[1].m))) = 0
      |          THEN list_concat(acc, x)
      |          ELSE list_slice(acc, 1, len(acc)) END) AS sel
      |    FROM (
      |      SELECT r, ws, merges, mlen,
      |        list_transform(
      |          list_slice(
      |            list_filter(srt, (p, i) -> i = 1 OR NOT
      |              (srt[i - 1].a = p.a AND srt[i - 1].b = p.b)),
      |            1, $window),
      |          q -> {a: q.a, b: q.b,
      |                m: q.a || CASE WHEN q.b LIKE '##%' THEN q.b[3:]
      |                          ELSE q.b END})
      |          AS scanp
      |      FROM (
      |        SELECT r, ws, merges, len(merges) AS mlen,
      |          list_sort(list_transform(
      |            list_filter(cand,
      |              p -> NOT (p.a NOT LIKE '##%' AND
      |                (p.a || CASE WHEN p.b LIKE '##%' THEN p.b[3:]
      |                        ELSE p.b END) LIKE '##%')),
      |            p -> {negc: -list_sum(list_transform(cand, c ->
      |                    CASE WHEN c.a = p.a AND c.b = p.b THEN c.cnt
      |                         ELSE 0 END)),
      |                  a: p.a, b: p.b})) AS srt
      |        FROM (
      |          SELECT r, ws, merges,
      |            flatten(list_transform(ws, wd ->
      |              list_transform(generate_series(1, len(wd.syms) - 1),
      |                i -> {a: wd.syms[i], b: wd.syms[i + 1],
      |                      cnt: wd.cnt})))
      |              AS cand
      |          FROM lrn WHERE len(merges) < $nMerges)))
      |  ) WHERE len(sel) > 0
      |),
      |lfinal AS (SELECT ws, merges FROM lrn ORDER BY r DESC LIMIT 1),
      |basep AS (SELECT DISTINCT piece FROM (SELECT
      |    unnest(list_transform(generate_series(1, len(word)),
      |      i -> CASE WHEN i = 1 THEN substr(word, 1, 1)
      |           ELSE '##' || substr(word, i, 1) END)) AS piece
      |  FROM freq)),
      |mrg AS (SELECT u.piece AS piece, u.rank AS rank FROM (
      |    SELECT unnest(list_transform(merges,
      |      (m, i) -> {piece: m, rank: i})) AS u FROM lfinal)),
      |allp AS (SELECT piece, 0 AS merge_rank FROM basep
      |  UNION ALL SELECT piece, rank FROM mrg),
      |vlearn AS (SELECT piece, min(merge_rank) AS merge_rank FROM allp
      |  GROUP BY piece),
      |vocab AS (SELECT piece,
      |  CAST(row_number() OVER (ORDER BY piece) AS BIGINT) AS id
      |  FROM vlearn)""".stripMargin
  }

  /** `bpe_learn_deep`: the batched deep-vocab learning rounds replayed
    * end-to-end ([[bpeLearnDeepCtes]]). */
  def bpeLearnDeep(nMerges: Int, batch: Int): String =
    s"""WITH RECURSIVE
       |${bpeWordCtes()},
       |${bpeLearnDeepCtes(nMerges, batch)}
       |SELECT v.piece, v.id,
       |  CAST(l.merge_rank AS BIGINT) AS merge_rank
       |FROM vocab v JOIN vlearn l USING (piece)
       |ORDER BY v.id""".stripMargin

  /** Merge-RANK-ORDER inference replay (`Tokenize.BpeEncodeRanked`) —
    * the rank-order application ITSELF, not a fixture: per distinct
    * word, a recursive CTE carries the symbol list; each step builds
    * the adjacent-pair candidate list, looks every merged string up in
    * the learned rank map (rank >= 1 only — base symbols are not
    * merges), takes the minimum-rank piece via a struct sort (ranks
    * are unique per piece, so the argmin is total), and applies it to
    * every adjacent occurrence with the learn-side greedy
    * left-to-right fold; the walk stops when no pair merges. The rank
    * and id maps ride one-row CTEs cross-joined into the recursive
    * term (the `bpeLearnCtes` single-state convention). Consumes
    * whatever `vlearn(piece, merge_rank)` / `vocab(piece, id)` precede
    * it; ends in `rdt(doc_id, ids)`.
    */
  private def bpeRankedCtes: String =
    """rmapc AS (SELECT map(
      |    coalesce(list(piece ORDER BY piece), []),
      |    coalesce(list(merge_rank ORDER BY piece), [])) AS rm
      |  FROM vlearn WHERE merge_rank >= 1),
      |imapc AS (SELECT map(list(piece ORDER BY piece),
      |    list(id ORDER BY piece)) AS im FROM vocab),
      |rdw AS (SELECT DISTINCT word FROM w),
      |rrk AS (
      |  SELECT word, 0 AS it,
      |    list_transform(generate_series(1, len(word)),
      |      i -> CASE WHEN i = 1 THEN substr(word, 1, 1)
      |           ELSE '##' || substr(word, i, 1) END) AS syms
      |  FROM rdw
      |  UNION ALL
      |  SELECT word, it + 1,
      |    list_reduce(
      |      list_prepend(CAST([] AS VARCHAR[]),
      |        list_transform(syms, s -> [s])),
      |      (acc, x) -> CASE
      |        WHEN len(acc) > 0 AND acc[-1] ||
      |            CASE WHEN x[1] LIKE '##%' THEN x[1][3:] ELSE x[1] END
      |            = bp.p
      |        THEN list_append(list_slice(acc, 1, len(acc) - 1), bp.p)
      |        ELSE list_concat(acc, x) END) AS syms
      |  FROM (
      |    SELECT word, it, syms,
      |      list_sort(list_filter(
      |        list_transform(generate_series(1, len(syms) - 1),
      |          i -> {r: map_extract(m.rm, syms[i] ||
      |                  CASE WHEN syms[i + 1] LIKE '##%'
      |                       THEN syms[i + 1][3:]
      |                       ELSE syms[i + 1] END)[1],
      |                p: syms[i] ||
      |                  CASE WHEN syms[i + 1] LIKE '##%'
      |                       THEN syms[i + 1][3:]
      |                       ELSE syms[i + 1] END}),
      |        c -> c.r IS NOT NULL))[1] AS bp
      |    FROM rrk, rmapc m)
      |  WHERE bp IS NOT NULL
      |),
      |rfin AS (SELECT word, max_by(syms, it) AS syms FROM rrk
      |  GROUP BY word),
      |rdt AS (SELECT w.doc_id,
      |  flatten(list(
      |    list_transform(f.syms, s -> map_extract(i.im, s)[1])
      |    ORDER BY w.pos)) AS ids,
      |  flatten(list(f.syms ORDER BY w.pos)) AS pcs
      |  FROM w JOIN rfin f USING (word), imapc i
      |  GROUP BY w.doc_id)""".stripMargin

  /** `bpe_enc_ranked`: BPE merge learning ([[bpeLearnCtes]]) followed
    * by the rank-order inference replay ([[bpeRankedCtes]]) — the
    * learn AND the inference both re-derived in SQL, no fixtures. */
  def bpeEncRanked(nMerges: Int): String =
    s"""WITH RECURSIVE
       |${bpeWordCtes()},
       |${bpeLearnCtes(nMerges)},
       |$bpeRankedCtes
       |SELECT d.doc_id,
       |  CAST(coalesce(len(rdt.ids), 0) AS BIGINT) AS n_bpe_tokens,
       |  coalesce(array_to_string(rdt.ids, ' '), '') AS ids_str
       |FROM documents d LEFT JOIN rdt USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** `bpe_ranked_byte`: the same rank-order inference over BYTE-LEVEL
    * learning — byte mapping, merge rounds and rank-order application
    * all independently re-derived in SQL. */
  def bpeRankedByte(nMerges: Int): String =
    s"""WITH RECURSIVE
       |${bpeWordCtes("documents", byteMap = true)},
       |${bpeLearnCtes(nMerges, withByteAlphabet = true)},
       |$bpeRankedCtes
       |SELECT d.doc_id,
       |  CAST(coalesce(len(rdt.ids), 0) AS BIGINT) AS n_bpe_tokens,
       |  coalesce(array_to_string(rdt.ids, ' '), '') AS ids_str
       |FROM documents d LEFT JOIN rdt USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** The non-ASCII synthetic corpus of `bpe_enc_uni` (shared with
    * `SparkEntry.withUniText`): CJK, surrogate-pair emoji / musical
    * symbols, a combining mark, and one case-folding ASCII word — the
    * JVM walks these as UTF-16 units while DuckDB counts codepoints,
    * which is exactly the seam the query pins.
    */
  private def uniTextCase(col: String): String =
    s"""CASE $col WHEN 0 THEN '日本語' WHEN 1 THEN 'データ処理'
       |  WHEN 2 THEN '🚀🚀go' WHEN 3 THEN 'école'
       |  WHEN 4 THEN '𝄞clef' ELSE 'Bits' END""".stripMargin

  /** `bpe_enc_uni`: the encode replay over NON-BMP text — vocab built
    * at topWords=2 so most words genuinely SPLIT into char pieces
    * (surrogate-pair chars in BOTH forms, combining marks as their own
    * codepoints) and suffix continuation pieces crossing CJK. Agreement
    * with the UTF-16-walking engine is the well-formed-pieces
    * prefix-chain argument of `Tokenize.BpeEncode`, here made an
    * oracle-gated fact.
    */
  def bpeEncUni: String =
    s"""WITH RECURSIVE
      |ut AS (SELECT doc_id,
      |  ${uniTextCase("doc_id % 6")} || ' ' ||
      |  ${uniTextCase("(doc_id + 1) % 6")} || ' ' ||
      |  ${uniTextCase("doc_id % 3")} AS text FROM documents),
      |${bpeWordCtes("ut")},
      |${bpeVocabCtes(2)},
      |${bpeEncodeCtes()}
      |SELECT u.doc_id,
      |  CAST(coalesce(len(dt.ids), 0) AS BIGINT) AS n_bpe_tokens,
      |  coalesce(array_to_string(dt.ids, ' '), '') AS ids_str
      |FROM ut u LEFT JOIN dt USING (doc_id)
      |ORDER BY u.doc_id""".stripMargin

  /** `bpe_learn`: the real BPE merge learning replayed round by round
    * ([[bpeLearnCtes]]) — base symbols at rank 0, merged pieces at
    * their 1-based merge round, ids = piece rank. */
  def bpeLearn(nMerges: Int): String =
    s"""WITH RECURSIVE
       |${bpeWordCtes()},
       |${bpeLearnCtes(nMerges)}
       |SELECT v.piece, v.id,
       |  CAST(l.merge_rank AS BIGINT) AS merge_rank
       |FROM vocab v JOIN vlearn l USING (piece)
       |ORDER BY v.id""".stripMargin

  /** `bpe_roundtrip`: the decode identity — `decode(encode(text))`
    * must equal the canonical whitespace-normalized case-folded text.
    * The oracle computes that closed form DIRECTLY from the raw text
    * (split, drop empties, rejoin — no encode replay at all), so the
    * engine's learn → encode → decode chain and this one-liner must
    * meet at the same string through completely different paths: any
    * segmentation, id-assignment, byte-mapping or reassembly defect
    * shows as a mismatch.
    */
  def bpeRoundtrip: String =
    s"""SELECT doc_id,
       |  coalesce(array_to_string(list_filter(
       |    string_split_regex(lower(text), '\\s+'), w -> w <> ''), ' '),
       |    '') AS text
       |FROM documents ORDER BY doc_id""".stripMargin

  /** `bpe_byte`: BYTE-LEVEL BPE end-to-end — every word's UTF-8 bytes
    * through the visible byte alphabet ([[byteMapSql]], mirroring
    * `Tokenize.byteMapCol` bit-for-bit), merge learning over byte
    * symbols with the full 256-symbol alphabet at rank 0
    * ([[bpeLearnCtes]] `withByteAlphabet`), then the same greedy
    * MaxMatch encode replay. The learn, the mapping AND the encode are
    * all independently re-derived in SQL — no fixtures.
    */
  def bpeByte(nMerges: Int): String =
    s"""WITH RECURSIVE
       |${bpeWordCtes("documents", byteMap = true)},
       |${bpeLearnCtes(nMerges, withByteAlphabet = true)},
       |${bpeEncodeCtes()}
       |SELECT d.doc_id,
       |  CAST(coalesce(len(dt.ids), 0) AS BIGINT) AS n_bpe_tokens,
       |  coalesce(array_to_string(dt.ids, ' '), '') AS ids_str
       |FROM documents d LEFT JOIN dt USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** `seq_pack_learn` — the full chain with the LEARNED vocab: BPE
    * merge learning ([[bpeLearnCtes]]) → the same greedy-MaxMatch
    * encode replay ([[bpeEncodeCtes]] rides whatever `vocab` precedes
    * it) → chunk windows → exact prefix-sum pack. */
  def seqPackBpeLearned(nMerges: Int, chunkTokens: Int,
                        overlapTokens: Int, budgetTokens: Long): String = {
    val stride = chunkTokens - overlapTokens
    s"""WITH RECURSIVE
       |${bpeWordCtes()},
       |${bpeLearnCtes(nMerges)},
       |${bpeEncodeCtes()},
       |t AS (SELECT d.doc_id,
       |  coalesce(dt.pcs, CAST([] AS VARCHAR[])) AS tk
       |  FROM documents d LEFT JOIN dt USING (doc_id)),
       |s AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n FROM t),
       |c AS (SELECT doc_id, n,
       |  unnest(range(0, greatest(n - $overlapTokens, 1), $stride))
       |    AS cs FROM s),
       |c2 AS (SELECT doc_id, cs // $stride AS chunk_idx,
       |  least($chunkTokens, n - cs) AS sz,
       |  doc_id * 100000 + cs // $stride AS ck FROM c),
       |r AS (SELECT *, SUM(sz) OVER (ORDER BY ck
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM c2)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(sz AS BIGINT) AS n_chunk_tokens,
       |  CAST(cum AS BIGINT) AS cum_tokens,
       |  CAST((cum - sz) // $budgetTokens AS BIGINT) AS pack_id
       |FROM r ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** `seq_pack_ranked` — the full pretraining chain with REAL BPE
    * inference: merge learning ([[bpeLearnCtes]]) → the rank-order
    * application replay ([[bpeRankedCtes]] — pieces ride `rdt.pcs`) →
    * chunk windows → exact prefix-sum pack. The [[seqPackBpeLearned]]
    * tail over the ranked encode's pieces. */
  def seqPackRanked(nMerges: Int, chunkTokens: Int,
                    overlapTokens: Int, budgetTokens: Long): String = {
    val stride = chunkTokens - overlapTokens
    s"""WITH RECURSIVE
       |${bpeWordCtes()},
       |${bpeLearnCtes(nMerges)},
       |$bpeRankedCtes,
       |t AS (SELECT d.doc_id,
       |  coalesce(rdt.pcs, CAST([] AS VARCHAR[])) AS tk
       |  FROM documents d LEFT JOIN rdt USING (doc_id)),
       |s AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n FROM t),
       |c AS (SELECT doc_id, n,
       |  unnest(range(0, greatest(n - $overlapTokens, 1), $stride))
       |    AS cs FROM s),
       |c2 AS (SELECT doc_id, cs // $stride AS chunk_idx,
       |  least($chunkTokens, n - cs) AS sz,
       |  doc_id * 100000 + cs // $stride AS ck FROM c),
       |r AS (SELECT *, SUM(sz) OVER (ORDER BY ck
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM c2)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(sz AS BIGINT) AS n_chunk_tokens,
       |  CAST(cum AS BIGINT) AS cum_tokens,
       |  CAST((cum - sz) // $budgetTokens AS BIGINT) AS pack_id
       |FROM r ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** The vocab derivation of [[bpeCtes]] alone (`bpe_vocab` — mirrors
    * `Tokenize.VocabBuild` at the fixture defaults): frequency ranks,
    * char coverage in both forms, suffix pieces, piece-rank ids. */
  def bpeVocab: String =
    s"""WITH RECURSIVE
       |$bpeCtes
       |SELECT piece, id FROM vocab ORDER BY id""".stripMargin

  /** [[chunkSplit]]'s window/stride algebra over the REAL subword
    * pieces of [[bpeCtes]] — the end-to-end composition `chunk_bpe`:
    * the engine's own encode drives the chunker, no external token
    * column. */
  def chunkBpe(chunkTokens: Int, overlapTokens: Int): String = {
    val stride = chunkTokens - overlapTokens
    s"""WITH RECURSIVE
       |$bpeCtes,
       |t AS (SELECT d.doc_id,
       |  coalesce(dt.pcs, CAST([] AS VARCHAR[])) AS tk
       |  FROM documents d LEFT JOIN dt USING (doc_id)),
       |s AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n FROM t),
       |c AS (SELECT doc_id, tk, n,
       |  unnest(range(0, greatest(n - $overlapTokens, 1), $stride))
       |    AS cs FROM s)
       |SELECT doc_id,
       |  CAST(cs // $stride AS BIGINT) AS chunk_idx,
       |  CAST(cs AS BIGINT) AS chunk_start,
       |  CAST(least($chunkTokens, n - cs) AS BIGINT) AS n_chunk_tokens,
       |  array_to_string(list_slice(tk, cs + 1, cs + $chunkTokens), ' ')
       |    AS chunk_text
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** [[sequencePack]]'s chunk+pack algebra over the REAL subword pieces
    * of [[bpeCtes]] — the full pretraining-prep chain `seq_pack_bpe`:
    * learn → encode → chunk → pack, all in the engine's own units. */
  def seqPackBpeNative(chunkTokens: Int, overlapTokens: Int,
                       budgetTokens: Long): String = {
    val stride = chunkTokens - overlapTokens
    s"""WITH RECURSIVE
       |$bpeCtes,
       |t AS (SELECT d.doc_id,
       |  coalesce(dt.pcs, CAST([] AS VARCHAR[])) AS tk
       |  FROM documents d LEFT JOIN dt USING (doc_id)),
       |s AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n FROM t),
       |c AS (SELECT doc_id, n,
       |  unnest(range(0, greatest(n - $overlapTokens, 1), $stride))
       |    AS cs FROM s),
       |c2 AS (SELECT doc_id, cs // $stride AS chunk_idx,
       |  least($chunkTokens, n - cs) AS sz,
       |  doc_id * 100000 + cs // $stride AS ck FROM c),
       |r AS (SELECT *, SUM(sz) OVER (ORDER BY ck
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM c2)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(sz AS BIGINT) AS n_chunk_tokens,
       |  CAST(cum AS BIGINT) AS cum_tokens,
       |  CAST((cum - sz) // $budgetTokens AS BIGINT) AS pack_id
       |FROM r ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** [[seqPackBpeNative]]'s chunk+pack algebra over the UNIGRAM
    * Viterbi segmentation — the full chain `seq_pack_unigram`:
    * vocab → MaxMatch-counted scores → max-likelihood encode →
    * chunk → exact pack (the chunk/pack algebra needs only the
    * per-doc token COUNT, so the replay rides `udt.ids`). */
  def seqPackUnigram(chunkTokens: Int, overlapTokens: Int,
                     budgetTokens: Long): String = {
    val stride = chunkTokens - overlapTokens
    s"""WITH RECURSIVE
       |$bpeCtes,
       |$unigramScoreCtes,
       |${unigramEncodeCtes("u", "uscore")},
       |t AS (SELECT d.doc_id,
       |  CAST(coalesce(len(udt.ids), 0) AS BIGINT) AS n
       |  FROM documents d LEFT JOIN udt USING (doc_id)),
       |c AS (SELECT doc_id, n,
       |  unnest(range(0, greatest(n - $overlapTokens, 1), $stride))
       |    AS cs FROM t),
       |c2 AS (SELECT doc_id, cs // $stride AS chunk_idx,
       |  least($chunkTokens, n - cs) AS sz,
       |  doc_id * 100000 + cs // $stride AS ck FROM c),
       |r AS (SELECT *, SUM(sz) OVER (ORDER BY ck
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM c2)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(sz AS BIGINT) AS n_chunk_tokens,
       |  CAST(cum AS BIGINT) AS cum_tokens,
       |  CAST((cum - sz) // $budgetTokens AS BIGINT) AS pack_id
       |FROM r ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** [[mixBudget]]'s exact prefix-sum admission driven by the REAL
    * subword token counts of [[bpeCtes]] — the composition `mix_bpe`:
    * budgets measured in the engine's own tokenizer units. */
  def mixBudgetBpe(budgets: Seq[(String, Long)], defaultBudget: Long,
                   salt: String): String = {
    val cases = budgets.map { case (s, b) => s"WHEN '$s' THEN $b" }
      .mkString(" ")
    s"""WITH RECURSIVE
       |$bpeCtes,
       |t AS (SELECT d.doc_id, d.lang,
       |  CAST(coalesce(len(dt.ids), 0) AS BIGINT) AS n_tokens
       |  FROM documents d LEFT JOIN dt USING (doc_id)),
       |s AS (SELECT *,
       |  substr(md5('$salt:' || CAST(doc_id AS VARCHAR)), 1, 8)
       |    AS sample_bucket FROM t),
       |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY lang
       |    ORDER BY sample_bucket, doc_id ROWS UNBOUNDED PRECEDING)
       |    AS cum_tokens FROM s)
       |SELECT doc_id, lang, n_tokens, CAST(cum_tokens AS BIGINT)
       |    AS cum_tokens, sample_bucket
       |FROM c WHERE cum_tokens <= CASE lang $cases ELSE $defaultBudget END
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------- multimodal

  /** The MediaGen fixture generator's closed forms (graft.sources
    * .MediaGen): even doc_id → PNG still, odd → animated GIF; dims,
    * frame count and the frame-0 corner pixel are pure integer functions
    * of doc_id. The Spark side routes REAL encoded payloads through
    * `javax.imageio`, so agreement here proves the actual decode
    * (header fields AND pixel data) round-trips the generator's truth —
    * DuckDB never decodes an image, it recomputes the ground truth.
    */
  private def mmGen: String =
    s"""WITH m AS (SELECT doc_id,
       |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'gif' END AS fmt,
       |  16 + (doc_id * 37) % 97 AS width,
       |  16 + (doc_id * 59) % 53 AS height,
       |  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 1 + doc_id % 7 END
       |    AS n_frames,
       |  CASE WHEN doc_id % 2 = 0 THEN doc_id % 256
       |       ELSE 85 * (doc_id % 4) END AS corner_px
       |  FROM documents)""".stripMargin

  def mmFeatures: String =
    s"""$mmGen
       |SELECT doc_id, fmt, CAST(width AS BIGINT) AS width,
       |  CAST(height AS BIGINT) AS height,
       |  CAST(n_frames AS BIGINT) AS n_frames,
       |  CAST((n_frames + 3) // 4 AS BIGINT) AS frame_stride,
       |  CAST(corner_px AS BIGINT) AS corner_px
       |FROM m ORDER BY doc_id""".stripMargin

  /** The AudioGen fixture generator's closed forms (graft.sources
    * .AudioGen): sample rate, channel count, frame count and EVERY
    * 16-bit PCM sample are pure integer functions of doc_id. The Spark
    * side routes real WAV payloads through `javax.sound.sampled`, so
    * agreement here — `sample_sum` folds over the full decoded sample
    * stream — proves the actual codec round-trips the generator's
    * truth; DuckDB never decodes audio, it recomputes the ground truth
    * (the lateral `range` regenerates each document's flat sample
    * index space).
    */
  def mmAudio: String =
    s"""WITH p AS (SELECT doc_id,
       |  8000 + (doc_id % 5) * 2000 AS sample_rate,
       |  1 + doc_id % 2 AS channels,
       |  200 + (doc_id * 31) % 800 AS n_frames
       |  FROM documents),
       |u AS (SELECT doc_id,
       |  unnest(range(0, n_frames * channels)) AS j FROM p),
       |s AS (SELECT doc_id,
       |  sum((doc_id * 7 + j * 13) % 65536 - 32768) AS sample_sum
       |  FROM u GROUP BY doc_id)
       |SELECT p.doc_id, 'wav' AS fmt,
       |  CAST(p.sample_rate AS BIGINT) AS sample_rate,
       |  CAST(p.channels AS BIGINT) AS channels,
       |  CAST(p.n_frames AS BIGINT) AS n_frames,
       |  CAST(p.n_frames * 1000 // p.sample_rate AS BIGINT)
       |    AS duration_ms,
       |  CAST((p.doc_id * 7) % 65536 - 32768 AS BIGINT) AS first_sample,
       |  CAST(s.sample_sum AS BIGINT) AS sample_sum
       |FROM p JOIN s USING (doc_id) ORDER BY doc_id""".stripMargin

  /** The VideoGen generator's closed forms (graft.sources.VideoGen):
    * MJPEG-in-AVI container fields and the per-frame uniform pixel
    * probes — frames are uniform gray precisely so the lossy JPEG
    * codec round-trips bit-exactly (DC-only blocks) and the corner
    * sum over EVERY decoded frame has a pure integer closed form.
    * The Spark side walks the REAL RIFF container and decodes every
    * frame with `javax.imageio`; agreement proves container parse AND
    * pixel decode. `generate_series` cannot take a correlated bound in
    * DuckDB, so frames unnest to the generator's max (7) and filter.
    */
  def mmVideo: String =
    s"""WITH fr AS (SELECT doc_id,
       |  unnest(generate_series(0, 6)) AS f FROM documents),
       |cs AS (SELECT doc_id,
       |  sum((doc_id * 31 + f * 17) % 256) AS corner_sum
       |  FROM fr WHERE f < 2 + doc_id % 6 GROUP BY doc_id),
       |rs AS (SELECT doc_id,
       |  CASE WHEN doc_id % 5 = 4 THEN 30000 ELSE 10 + doc_id % 20 END
       |    AS fps_num,
       |  CASE WHEN doc_id % 5 = 4 THEN 1001 ELSE 1 END AS fps_den
       |  FROM documents)
       |SELECT d.doc_id, 'mjpeg_avi' AS fmt,
       |  CAST(16 + (d.doc_id * 41) % 89 AS BIGINT) AS width,
       |  CAST(16 + (d.doc_id * 53) % 47 AS BIGINT) AS height,
       |  CAST(2 + d.doc_id % 6 AS BIGINT) AS n_frames,
       |  CAST(rs.fps_num AS BIGINT) AS fps_num,
       |  CAST(rs.fps_den AS BIGINT) AS fps_den,
       |  CAST((2 + d.doc_id % 6) * 1000 * rs.fps_den // rs.fps_num
       |    AS BIGINT) AS duration_ms,
       |  CAST((d.doc_id * 31) % 256 AS BIGINT) AS corner_px,
       |  CAST(cs.corner_sum AS BIGINT) AS corner_sum
       |FROM documents d JOIN cs USING (doc_id) JOIN rs USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** AVI audio demux over the VideoGen closed forms: audio containers
    * (doc_id % 3 = 1) interleave one 4-byte PCM chunk per frame with
    * sample i = (doc_id*7 + i) % 256; silent containers are the
    * explicit empty class. Mirrors
    * [[graft.operators.Multimodal.VideoAudioDemux]].
    */
  def mmDemux: String =
    s"""WITH b AS (SELECT doc_id, doc_id % 3 = 1 AS has_audio,
       |  2 + doc_id % 6 AS nf FROM documents),
       |s AS (SELECT doc_id, sum((doc_id * 7 + i) % 256) AS bs
       |  FROM (SELECT doc_id, unnest(generate_series(0,
       |    CAST(4 * (2 + doc_id % 6) - 1 AS BIGINT))) AS i
       |    FROM documents WHERE doc_id % 3 = 1)
       |  GROUP BY doc_id)
       |SELECT b.doc_id, b.has_audio,
       |  CAST(CASE WHEN b.has_audio THEN b.nf ELSE 0 END AS BIGINT)
       |    AS n_audio_chunks,
       |  CAST(CASE WHEN b.has_audio THEN 4 * b.nf ELSE 0 END AS BIGINT)
       |    AS n_audio_bytes,
       |  CAST(coalesce(s.bs, 0) AS BIGINT) AS byte_sum,
       |  CAST(CASE WHEN b.has_audio THEN (b.doc_id * 7) % 256 ELSE -1 END
       |    AS BIGINT) AS first_byte,
       |  CAST(CASE WHEN b.has_audio THEN 8000 ELSE 0 END AS BIGINT)
       |    AS sample_rate,
       |  CAST(CASE WHEN b.has_audio THEN 1 ELSE 0 END AS BIGINT)
       |    AS channels
       |FROM b LEFT JOIN s USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin

  /** Fit-in-box resize over the generator dims; integer scale algebra,
    * nearest-neighbor corner preservation (out(0,0) = in(0,0)). Mirrors
    * [[graft.operators.Multimodal.Resize]].
    */
  def mmResize(maxW: Long, maxH: Long): String =
    s"""$mmGen,
       |k AS (SELECT *, greatest(1, (width + $maxW - 1) // $maxW,
       |  (height + $maxH - 1) // $maxH) AS scale_den FROM m),
       |o AS (SELECT *, greatest(1, width // scale_den) AS out_w,
       |  greatest(1, height // scale_den) AS out_h FROM k)
       |SELECT doc_id, fmt, CAST(width AS BIGINT) AS width,
       |  CAST(height AS BIGINT) AS height,
       |  CAST(scale_den AS BIGINT) AS scale_den,
       |  CAST(out_w AS BIGINT) AS out_w, CAST(out_h AS BIGINT) AS out_h,
       |  CAST(corner_px AS BIGINT) AS corner_px
       |FROM o ORDER BY doc_id""".stripMargin

  def mmFrameSample: String =
    s"""$mmGen
       |SELECT doc_id,
       |  CAST(unnest(range(0, n_frames, (n_frames + 3) // 4)) AS BIGINT)
       |    AS frame_idx
       |FROM m ORDER BY doc_id, frame_idx""".stripMargin

  // ----------------------------------------------------- sessionization

  def sessionize(maxGapNs: Long): String =
    s"""WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS tsn
       |  FROM events),
       |d AS (SELECT user_id, event_id, tsn,
       |  CASE WHEN tsn - lag(tsn) OVER w IS NULL
       |         OR tsn - lag(tsn) OVER w > $maxGapNs
       |       THEN 1 ELSE 0 END AS nw
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id))
       |SELECT user_id, event_id,
       |  CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY tsn, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS session_id
       |FROM d ORDER BY user_id, event_id""".stripMargin

  /** Per-session rollup over the same gap sessionization. Mirrors
    * [[graft.operators.SessionStats]].
    */
  def sessionStats(maxGapNs: Long): String =
    s"""WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS tsn
       |  FROM events),
       |d AS (SELECT user_id, event_id, tsn,
       |  CASE WHEN tsn - lag(tsn) OVER w IS NULL
       |         OR tsn - lag(tsn) OVER w > $maxGapNs
       |       THEN 1 ELSE 0 END AS nw
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id)),
       |s AS (SELECT user_id, event_id, tsn,
       |  CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY tsn, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS session_id
       |  FROM d)
       |SELECT user_id, session_id,
       |  CAST(count(*) AS BIGINT) AS n_events,
       |  min(tsn) AS session_start, max(tsn) AS session_end,
       |  max(tsn) - min(tsn) AS duration
       |FROM s GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin

  /** Clicks inside the [purchase - windowNs, purchase] interval per
    * user, rolled up per purchase. The plain range predicate IS the
    * spec; mirrors the `range_join` query's binned formulation.
    */
  def rangeJoin(windowNs: Long): String =
    s"""WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS tsn,
       |  event_type FROM events),
       |p AS (SELECT user_id, event_id AS purchase_id,
       |  tsn - $windowNs AS lo, tsn AS hi FROM e
       |  WHERE event_type = 'purchase'),
       |c AS (SELECT user_id, event_id AS click_id, tsn FROM e
       |  WHERE event_type = 'click'),
       |j AS (SELECT p.user_id, p.purchase_id, c.click_id
       |  FROM p JOIN c ON p.user_id = c.user_id
       |    AND c.tsn >= p.lo AND c.tsn <= p.hi),
       |a AS (SELECT user_id, purchase_id, count(*) AS n_clicks,
       |  min(click_id) AS first_click_id FROM j GROUP BY 1, 2)
       |SELECT p.user_id, p.purchase_id,
       |  CAST(COALESCE(a.n_clicks, 0) AS BIGINT) AS n_clicks,
       |  a.first_click_id
       |FROM p LEFT JOIN a USING (user_id, purchase_id)
       |ORDER BY user_id, purchase_id""".stripMargin

  /** Ordered funnel per user: earliest signup, first view at-or-after
    * it, first purchase at-or-after that (closed-interval ties chain).
    * Mirrors [[graft.operators.Funnel]].
    */
  def funnelSteps: String =
    s"""WITH e AS (SELECT user_id, epoch_ns(ts) AS tsn, event_type
       |  FROM events),
       |s1 AS (SELECT user_id, min(tsn) AS t_signup FROM e
       |  WHERE event_type = 'signup' GROUP BY 1),
       |s2 AS (SELECT e.user_id, min(e.tsn) AS t_view FROM e
       |  JOIN s1 USING (user_id)
       |  WHERE e.event_type = 'view' AND e.tsn >= s1.t_signup
       |  GROUP BY 1),
       |s3 AS (SELECT e.user_id, min(e.tsn) AS t_purchase FROM e
       |  JOIN s2 USING (user_id)
       |  WHERE e.event_type = 'purchase' AND e.tsn >= s2.t_view
       |  GROUP BY 1),
       |u AS (SELECT DISTINCT user_id FROM e)
       |SELECT u.user_id, s1.t_signup, s2.t_view, s3.t_purchase,
       |  CAST(CASE WHEN s3.t_purchase IS NOT NULL THEN 3
       |    WHEN s2.t_view IS NOT NULL THEN 2
       |    WHEN s1.t_signup IS NOT NULL THEN 1
       |    ELSE 0 END AS BIGINT) AS steps_completed
       |FROM u LEFT JOIN s1 USING (user_id)
       |  LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
       |ORDER BY user_id""".stripMargin

  /** Aggregate funnel conversion report over the same funnel core as
    * [[funnelSteps]]: per step, keys reaching it and the conversion
    * rate from the previous step (step 1 from the universe of keys).
    * Mirrors [[graft.operators.FunnelReport]].
    */
  def funnelReport: String =
    s"""WITH e AS (SELECT user_id, epoch_ns(ts) AS tsn, event_type
       |  FROM events),
       |s1 AS (SELECT user_id, min(tsn) AS t_signup FROM e
       |  WHERE event_type = 'signup' GROUP BY 1),
       |s2 AS (SELECT e.user_id, min(e.tsn) AS t_view FROM e
       |  JOIN s1 USING (user_id)
       |  WHERE e.event_type = 'view' AND e.tsn >= s1.t_signup
       |  GROUP BY 1),
       |s3 AS (SELECT e.user_id, min(e.tsn) AS t_purchase FROM e
       |  JOIN s2 USING (user_id)
       |  WHERE e.event_type = 'purchase' AND e.tsn >= s2.t_view
       |  GROUP BY 1),
       |u AS (SELECT DISTINCT user_id FROM e),
       |c AS (SELECT CAST(count(*) AS BIGINT) AS n0,
       |  CAST(count(s1.user_id) AS BIGINT) AS n1,
       |  CAST(count(s2.user_id) AS BIGINT) AS n2,
       |  CAST(count(s3.user_id) AS BIGINT) AS n3
       |  FROM u LEFT JOIN s1 USING (user_id)
       |    LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id))
       |SELECT step_index, step, n_reached,
       |  CASE WHEN n_prev > 0
       |    THEN round(CAST(n_reached AS DOUBLE) / n_prev, 6) END
       |    AS conversion
       |FROM (
       |  SELECT CAST(1 AS BIGINT) AS step_index, 'signup' AS step,
       |    n1 AS n_reached, n0 AS n_prev FROM c
       |  UNION ALL SELECT CAST(2 AS BIGINT), 'view', n2, n1 FROM c
       |  UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', n3, n2 FROM c)
       |ORDER BY step_index""".stripMargin

  /** Interval-overlap join (range x range): per purchase attribution
    * window `[ts - attributionNs, ts]`, the count of view influence
    * windows `[ts, ts + influenceNs]` it overlaps (closed intervals)
    * within the same user. Mirrors the `overlap_join` query built on
    * [[graft.operators.RangeJoin.overlapJoin]].
    */
  def overlapJoin(attributionNs: Long, influenceNs: Long): String =
    s"""WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS tsn,
       |  event_type FROM events),
       |p AS (SELECT user_id, event_id AS purchase_id,
       |  tsn - $attributionNs AS p_lo, tsn AS p_hi FROM e
       |  WHERE event_type = 'purchase'),
       |v AS (SELECT user_id, event_id AS view_id,
       |  tsn AS v_lo, tsn + $influenceNs AS v_hi FROM e
       |  WHERE event_type = 'view'),
       |j AS (SELECT p.user_id, p.purchase_id, v.view_id
       |  FROM p JOIN v ON p.user_id = v.user_id
       |    AND p.p_lo <= v.v_hi AND v.v_lo <= p.p_hi),
       |a AS (SELECT user_id, purchase_id, count(*) AS n_views,
       |  min(view_id) AS first_view_id FROM j GROUP BY 1, 2)
       |SELECT p.user_id, p.purchase_id,
       |  CAST(COALESCE(a.n_views, 0) AS BIGINT) AS n_views,
       |  a.first_view_id
       |FROM p LEFT JOIN a USING (user_id, purchase_id)
       |ORDER BY user_id, purchase_id""".stripMargin

  // -------------------------------------------------------- relational

  def q1Pricing: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_qty_c,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_price_c,
      |  CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100)
      |    AS BIGINT)) AS BIGINT) AS sum_disc_c,
      |  count(*) AS cnt
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  def revenueByNation: String =
    """SELECT n_name,
      |  CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100)
      |    AS BIGINT)) AS BIGINT) AS revenue_c,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  def topCustomers(k: Int): String =
    s"""SELECT c_custkey, c_name,
       |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |    AS total_c,
       |  count(*) AS n_orders
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_custkey, c_name
       |ORDER BY total_c DESC, c_custkey LIMIT $k""".stripMargin
}
