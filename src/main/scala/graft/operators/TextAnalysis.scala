package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}

import graft.core.Wrangler
import graft.functions.Portable._
import graft.util.SparkUtil

/** Text-analysis wranglers for large-scale document pipelines: token
  * counting, quality scoring, stopword-based language identification and
  * document fingerprinting. All are pure narrow map-side column
  * expressions (no shuffle, full whole-stage codegen), so they scale
  * linearly with input splits — the right shape for a 100 TB corpus.
  *
  * Framework shape follows the reference wrangler contract
  * (reference: src/pywrangler/base.py:12-131); the text operators
  * themselves extend the reference's surface for training-data pipelines.
  */
object TextAnalysis {

  /** Row-preserving typed mapPartitions appending computed columns from
    * the text column: the compiled-JVM escape from Spark's INTERPRETED
    * higher-order array lambdas (transform/filter/aggregate), which
    * dominate wall time for per-token analysis (text_repetition measured
    * 23.8 s -> 0.4 s at sf0.1 under honest forcing). Stays in Tungsten
    * via Deserialize/SerializeFromObject; all appended values must
    * replicate the exact Spark expression semantics (round-HALF_UP via
    * [[round6]], null-in/null-out, division-by-zero -> null) so the
    * DuckDB oracles keep hash-matching.
    *
    * `compute` is a per-partition factory so per-thread helpers
    * (MessageDigest) are allocated once per partition, not per row.
    */
  private def appendFromText(df: DataFrame, textColumn: String,
                             fields: Seq[(String, org.apache.spark.sql.types.DataType)])
                            (compute: () => String => Seq[Any]): DataFrame = {
    val idx = df.schema.fieldIndex(textColumn)
    val outSchema = fields.foldLeft(df.schema) {
      case (s, (n, t)) => s.add(n, t)
    }
    df.mapPartitions { it =>
      val f = compute()
      it.map { row =>
        val text = if (row.isNullAt(idx)) null else row.getString(idx)
        org.apache.spark.sql.Row.fromSeq(row.toSeq ++ f(text))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Spark's `round(_, 6)` on doubles: HALF_UP over BigDecimal.valueOf. */
  private[operators] def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Spark double division semantics: divisor 0 yields NULL (non-ANSI),
    * not IEEE Inf/NaN.
    */
  private[operators] def divOrNull(num: Double, den: Double): Any =
    if (den == 0.0) null else round6(num / den)

  private val LongT = org.apache.spark.sql.types.LongType
  private val DoubleT = org.apache.spark.sql.types.DoubleType
  private val StringT = org.apache.spark.sql.types.StringType
  private val BooleanT = org.apache.spark.sql.types.BooleanType

  /** Whitespace + distinct token counts and raw char length. */
  final case class TokenCount(textColumn: String = "text")
      extends Wrangler {
    override def preservesSampleSize: Boolean = true
    def transform(df: DataFrame): DataFrame = {
      SparkUtil.validateColumns(df, Seq(textColumn))
      val toks = tokens(col(textColumn))
      df.withColumn("n_tokens", size(toks).cast("long"))
        .withColumn("n_distinct_tokens", size(array_distinct(toks)).cast("long"))
        .withColumn("n_chars", length(col(textColumn)).cast("long"))
        // BPE-ish regex tokenization: letter runs, digit runs, and single
        // non-space symbols each count as one token
        .withColumn("n_regex_tokens", size(regexp_extract_all(
          lower(col(textColumn)), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
          .cast("long"))
    }
  }

  /** Per-document unigram Shannon entropy over whitespace tokens, in
    * bits: `H = log2(T) − Σ c·log2(c) / T` over the distinct-token
    * counts `c` (T = total tokens). A repetitiveness / lexical-diversity
    * quality signal — boilerplate and template pages score low, natural
    * prose high — used alongside [[QualityScore]] and
    * [[RepetitionScore]] as a gate input; per-group comparability comes
    * from composing with [[Corpus.RobustScale]].
    *
    * Scale shape: per-doc state is doc-bounded (one token-count map),
    * computed in one compiled map pass via [[appendFromText]] — NO
    * shuffle, unlike the equivalent explode + (doc, token) aggregation,
    * whose keyed shuffle of the full token stream buys nothing the
    * per-doc map doesn't already have. Row-preserving; null text yields
    * a null entropy; `round(_, 6)` for a cross-engine-stable surface.
    */
  final case class TokenEntropy(textColumn: String = "text")
      extends Wrangler {
    override def preservesSampleSize: Boolean = true
    def transform(df: DataFrame): DataFrame = {
      SparkUtil.validateColumns(df, Seq(textColumn))
      require(!df.columns.exists(_.equalsIgnoreCase("entropy")),
        "input must not carry `entropy` (an output column)")
      val ln2 = Math.log(2.0)
      appendFromText(df, textColumn, Seq("entropy" -> DoubleT)) { () => text =>
        if (text == null) Seq(null)
        else {
          val toks = graft.functions.Portable.tokensLocal(text)
          val counts = new java.util.HashMap[String, Array[Int]]()
          var i = 0
          while (i < toks.length) {
            val slot = counts.get(toks(i))
            if (slot == null) counts.put(toks(i), Array(1))
            else slot(0) += 1
            i += 1
          }
          val t = toks.length.toDouble
          var s = 0.0
          val it = counts.values().iterator()
          while (it.hasNext) {
            val c = it.next()(0).toDouble
            s += c * (Math.log(c) / ln2)
          }
          Seq(round6(Math.log(t) / ln2 - s / t))
        }
      }
    }
  }

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "in", "to")

  /** Heuristic quality signals: token counts, average token length,
    * stopword ratio and a composite score in [0, 1]. All ratios derive
    * from exact integer counts, so they are engine-deterministic.
    *
    * Compiled per-token loop via [[appendFromText]] (the expression
    * formulation's aggregate/filter lambdas run interpreted); value
    * semantics replicate the expression version exactly — `length()`
    * counts code points, ratios are single IEEE divisions of exact
    * integer counts, division by zero yields null, `round(_, 6)` is
    * HALF_UP.
    */
  final case class QualityScore(textColumn: String = "text")
      extends Wrangler {
    override def preservesSampleSize: Boolean = true
    def transform(df: DataFrame): DataFrame = {
      SparkUtil.validateColumns(df, Seq(textColumn))
      val stops = Stopwords.toSet
      appendFromText(df, textColumn, Seq(
        "n_tokens" -> LongT, "avg_token_len" -> DoubleT,
        "stopword_ratio" -> DoubleT, "punct_ratio" -> DoubleT,
        "quality_score" -> DoubleT)) { () => text =>
        if (text == null)
          // expression-path fidelity: size(null) = -1, so n_tokens = -1,
          // stopword_ratio = (-1)/(-1) = 1.0, the null-propagating
          // columns stay null, and quality = round6(-0.01 * 0) = 0.0
          Seq[Any](-1L, null, 1.0, null, 0.0)
        else {
          val toks = tokensLocal(text)
          val nTok = toks.length.toLong
          var charSum = 0L
          var nStop = 0L
          toks.foreach { t =>
            charSum += t.codePointCount(0, t.length)
            if (stops.contains(t)) nStop += 1
          }
          val nChars = text.codePointCount(0, text.length).toLong
          val stripped = text.replaceAll("[^a-zA-Z0-9\\s]", "")
          val nPunct = nChars - stripped.codePointCount(0, stripped.length)
          // quality multiplies the UNROUNDED stop ratio (like the
          // expression did); only the emitted columns are rounded
          val stopRatioRaw = nStop.toDouble / nTok.toDouble
          val quality = round6(
            math.min(nTok.toDouble / 100.0, 1.0) * (1.0 - stopRatioRaw))
          Seq[Any](nTok, divOrNull(charSum.toDouble, nTok.toDouble),
            round6(stopRatioRaw),
            divOrNull(nPunct.toDouble, nChars.toDouble), quality)
        }
      }
    }
  }

  /** The Gopher rule-filter stopword octet (MassiveText's "must contain
    * >= 2 of" list) — distinct from the scoring [[Stopwords]] list.
    */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style per-document HARD rule filter (the MassiveText /
    * RefinedWeb / FineWeb quality-rule gate) — the standard first-pass
    * web-corpus cut that [[QualityScore]]'s soft score does not give:
    * each document gets its rule COUNTERS, each rule's boolean verdict,
    * and the conjunction `admit`. Row-preserving and auditable — a
    * curator reads WHICH rule killed a document, not just that one did.
    *
    * Rules (Gopher defaults; word-count bounds parameterized):
    *   - `r_word_count`:  minWords <= n_words <= maxWords
    *   - `r_mean_word_len`: mean word length in [3, 10] codepoints —
    *     exact integers: `3*n_words <= word_chars <= 10*n_words`
    *   - `r_symbol_ratio`: (# + "..." + U+2026 marks) / words <= 0.1 —
    *     `10*symbol_marks <= n_words`
    *   - `r_bullet`: lines starting with a bullet (-, *, U+2022) <= 90%
    *     — `10*bullet_lines <= 9*n_lines`
    *   - `r_ellipsis`: lines ending with "..."/U+2026 <= 30% —
    *     `10*ellipsis_lines <= 3*n_lines`
    *   - `r_alpha`: words containing an [a-z] char >= 80% —
    *     `5*alpha_words >= 4*n_words`
    *   - `r_stopwords`: >= 2 DISTINCT `stopwords` present (default
    *     [[GopherStops]]; parameterized because the rule is meaningful
    *     only against the corpus's own function words — a non-English
    *     or synthetic corpus swaps the list, not the rule)
    *
    * Every ratio threshold is applied by integer cross-multiplication —
    * no float ever materializes, so the DuckDB oracle hash-matches by
    * construction (the r15 HUGEINT lesson: emitted columns are plain
    * BIGINT counters and BOOLEANs).
    *
    * Mirror semantics (pinned by the oracle): words are the house
    * token convention (space-trim, lower, `\s+` split); lines split on
    * `\n` KEEPING trailing empties (DuckDB `string_split`); bullet /
    * ellipsis tests trim SPACES only (DuckDB ltrim/rtrim default);
    * word lengths count codepoints (DuckDB `len`). Null text yields
    * counters -1, all rules false, admit false.
    *
    * Scale shape: pure narrow map-side typed pass ([[appendFromText]],
    * the compiled-JVM escape from interpreted array HOFs) — zero
    * shuffle, scales with input splits; compose with
    * [[Corpus.MixBudget]] / packing downstream of the gate.
    */
  final case class GopherRules(textColumn: String = "text",
                               minWords: Long = 50L,
                               maxWords: Long = 100000L,
                               stopwords: Seq[String] = GopherStops)
      extends Wrangler {
    require(minWords >= 0 && maxWords >= minWords,
      "need 0 <= minWords <= maxWords")
    require(stopwords.nonEmpty && stopwords.distinct == stopwords,
      "`stopwords` must be non-empty and duplicate-free")
    require(stopwords.forall(s => s.nonEmpty && s == s.trim &&
        s == s.toLowerCase(java.util.Locale.ROOT)),
      "`stopwords` must be lower-case and trimmed — tokens are " +
        "lower-cased before matching, so `Seq(\"The\")` could never " +
        "hit and r_stopwords would silently reject every document")
    override def preservesSampleSize: Boolean = true

    def transform(df: DataFrame): DataFrame = {
      SparkUtil.validateColumns(df, Seq(textColumn))
      val stops = stopwords.toSet
      val (lo, hi) = (minWords, maxWords)
      appendFromText(df, textColumn, Seq(
        "n_words" -> LongT, "word_chars" -> LongT, "n_lines" -> LongT,
        "bullet_lines" -> LongT, "ellipsis_lines" -> LongT,
        "alpha_words" -> LongT, "symbol_marks" -> LongT,
        "stopword_hits" -> LongT,
        "r_word_count" -> BooleanT, "r_mean_word_len" -> BooleanT,
        "r_symbol_ratio" -> BooleanT, "r_bullet" -> BooleanT,
        "r_ellipsis" -> BooleanT, "r_alpha" -> BooleanT,
        "r_stopwords" -> BooleanT, "admit" -> BooleanT)) { () => text =>
        if (text == null)
          Seq.fill[Any](8)(-1L) ++ Seq.fill[Any](8)(false)
        else {
          val toks = tokensLocal(text)
          val nWords = toks.length.toLong
          var wordChars = 0L
          var alphaWords = 0L
          val stopsSeen = new scala.collection.mutable.HashSet[String]
          toks.foreach { t =>
            wordChars += t.codePointCount(0, t.length)
            var hasAlpha = false
            var i = 0
            while (!hasAlpha && i < t.length) {
              val c = t.charAt(i)
              if (c >= 'a' && c <= 'z') hasAlpha = true
              i += 1
            }
            if (hasAlpha) alphaWords += 1
            if (stops.contains(t)) stopsSeen += t
          }
          // lines on raw text, trailing empties KEPT (string_split)
          val lines = text.split("\n", -1)
          var bulletLines = 0L
          var ellipsisLines = 0L
          lines.foreach { l =>
            var from = 0
            while (from < l.length && l.charAt(from) == ' ') from += 1
            if (from < l.length) {
              val c = l.charAt(from)
              if (c == '-' || c == '*' || c == '•') bulletLines += 1
            }
            var until = l.length
            while (until > 0 && l.charAt(until - 1) == ' ') until -= 1
            if ((until >= 3 && l.charAt(until - 1) == '.' &&
                l.charAt(until - 2) == '.' && l.charAt(until - 3) == '.') ||
              (until >= 1 && l.charAt(until - 1) == '…'))
              ellipsisLines += 1
          }
          // symbol marks: '#' chars + non-overlapping "..." runs +
          // U+2026 chars (the replace-length-diff arithmetic, exactly
          // the oracle's)
          var hashes = 0L
          var uniEll = 0L
          var i = 0
          while (i < text.length) {
            val c = text.charAt(i)
            if (c == '#') hashes += 1
            else if (c == '…') uniEll += 1
            i += 1
          }
          val dots = (text.length - text.replace("...", "").length) / 3
          val symbolMarks = hashes + dots + uniEll
          val nLines = lines.length.toLong
          val stopHits = stopsSeen.size.toLong
          val rWc = nWords >= lo && nWords <= hi
          val rMwl = 3L * nWords <= wordChars && wordChars <= 10L * nWords
          val rSym = 10L * symbolMarks <= nWords
          val rBul = 10L * bulletLines <= 9L * nLines
          val rEll = 10L * ellipsisLines <= 3L * nLines
          val rAlp = 5L * alphaWords >= 4L * nWords
          val rStp = stopHits >= 2L
          Seq[Any](nWords, wordChars, nLines, bulletLines, ellipsisLines,
            alphaWords, symbolMarks, stopHits,
            rWc, rMwl, rSym, rBul, rEll, rAlp, rStp,
            rWc && rMwl && rSym && rBul && rEll && rAlp && rStp)
        }
      }
    }
  }

  /** The OTHER half of the Gopher filter: within-document REPETITION
    * rules — the structural duplicate-line/paragraph family plus the
    * published n-gram character-fraction family (Rae et al. 2021,
    * Table A1; public knowledge). Boilerplate walls, chat logs and
    * templated pages repeat whole lines and paragraphs; keyword-stuffed
    * and degenerate generative text repeats short phrases that the
    * structural rules underweight — both halves are needed for the
    * complete MassiveText repetition gate.
    *
    * Line/paragraph counters (all exact integers): text is first
    * CRLF-normalized (`\r\n` → `\n` — real web text mixes line-ending
    * conventions); lines split on `\n` keeping trailing empties;
    * paragraphs split on `\n[ \t\r]*\n` (a blank line that carries
    * only horizontal whitespace still separates paragraphs). Over
    * space-trimmed NON-EMPTY units: occurrences `n_*`, duplicate
    * occurrences `dup_* = Σ_v (count_v − 1)` (a value seen k times
    * contributes k−1), codepoint totals `*_chars` and duplicate
    * codepoints `dup_*_chars = Σ_v (count_v − 1)·len_v`.
    *
    * n-gram counters, over the house word convention
    * ([[graft.functions.Portable.tokensLocal]], raw text): with
    * `rep_chars` the raw text's codepoint count as denominator
    * (named to avoid colliding with a corpus's own `n_chars` column),
    *   - `top{2,3,4}_chars`: the duplicate-char mass of the heaviest
    *     REPEATED word n-gram — max over distinct n-grams with
    *     count ≥ 2 of `count × codepoints(space-joined gram)`. (A
    *     deterministic total-order variant of the paper's "most common
    *     n-gram": max-of-product needs no tie-break between
    *     equal-count grams, and the ≥ 2 floor — shared with the dup
    *     family — keeps a unique long 2-gram in a short document from
    *     reading as repetition.)
    *   - `dup{5..10}_chars`: the codepoint total of WORDS covered by
    *     at least one n-gram occurring ≥ 2 times, each word position
    *     counted once (set-semantics coverage — order-free and
    *     declaratively replayable, unlike a greedy scan).
    *
    * Rules (Gopher thresholds, integer cross-multiplication — no float
    * ever materializes):
    *   - `r_dup_lines`:      dup_lines / n_lines <= 0.30
    *   - `r_dup_line_chars`: dup_line_chars / line_chars <= 0.20
    *   - `r_dup_paras`:      dup_paras / n_paras <= 0.30
    *   - `r_dup_para_chars`: dup_para_chars / para_chars <= 0.20
    *   - `r_top{2,3,4}_gram`: top-gram fraction <= 0.20 / 0.18 / 0.16
    *   - `r_dup{5..10}_gram`: dup-gram coverage <= 0.15 / 0.14 / 0.13
    *     / 0.12 / 0.11 / 0.10
    * plus the conjunction `admit`. Zero-total docs pass vacuously
    * (0 <= 0). Null text: counters −1, rules false.
    *
    * Scale shape: one compiled zero-shuffle map pass (per-doc hash
    * counting, doc-bounded state — the n-gram passes reuse one token
    * array and one coverage buffer) — composes with [[GopherRules]] as
    * the full Gopher gate. The corpus-LEVEL line story (hot lines
    * across documents) is [[Corpus.HotLineStrip]]; this is the
    * within-doc signal.
    */
  final case class GopherRepetition(textColumn: String = "text")
      extends Wrangler {
    override def preservesSampleSize: Boolean = true

    def transform(df: DataFrame): DataFrame = {
      SparkUtil.validateColumns(df, Seq(textColumn))
      import GopherRepetition._
      val outCols = Seq("n_lines", "dup_lines", "line_chars",
        "dup_line_chars", "n_paras", "dup_paras", "para_chars",
        "dup_para_chars", "rep_chars", "admit") ++
        TopGramThresholds.flatMap { case (n, _, _) =>
          Seq(s"top${n}_chars", s"r_top${n}_gram") } ++
        DupGramThresholds.flatMap { case (n, _, _) =>
          Seq(s"dup${n}_chars", s"r_dup${n}_gram") } ++
        Seq("r_dup_lines", "r_dup_line_chars", "r_dup_paras",
          "r_dup_para_chars")
      val clash = df.columns.filter(c =>
        outCols.exists(_.equalsIgnoreCase(c)))
      require(clash.isEmpty,
        s"input must not carry output columns ${clash.mkString(", ")} " +
          "— rename or drop them before the repetition gate")
      appendFromText(df, textColumn, Seq(
        "n_lines" -> LongT, "dup_lines" -> LongT,
        "line_chars" -> LongT, "dup_line_chars" -> LongT,
        "n_paras" -> LongT, "dup_paras" -> LongT,
        "para_chars" -> LongT, "dup_para_chars" -> LongT,
        "rep_chars" -> LongT,
        "top2_chars" -> LongT, "top3_chars" -> LongT,
        "top4_chars" -> LongT,
        "dup5_chars" -> LongT, "dup6_chars" -> LongT,
        "dup7_chars" -> LongT, "dup8_chars" -> LongT,
        "dup9_chars" -> LongT, "dup10_chars" -> LongT,
        "r_dup_lines" -> BooleanT, "r_dup_line_chars" -> BooleanT,
        "r_dup_paras" -> BooleanT, "r_dup_para_chars" -> BooleanT,
        "r_top2_gram" -> BooleanT, "r_top3_gram" -> BooleanT,
        "r_top4_gram" -> BooleanT,
        "r_dup5_gram" -> BooleanT, "r_dup6_gram" -> BooleanT,
        "r_dup7_gram" -> BooleanT, "r_dup8_gram" -> BooleanT,
        "r_dup9_gram" -> BooleanT, "r_dup10_gram" -> BooleanT,
        "admit" -> BooleanT)) { () => text =>
        if (text == null)
          Seq.fill[Any](18)(-1L) ++ Seq.fill[Any](14)(false)
        else {
          // (occurrences, dups, chars, dupChars) over space-trimmed
          // non-empty units
          def stats(units: Array[String]): (Long, Long, Long, Long) = {
            val counts = new java.util.HashMap[String, Array[Long]]()
            var total = 0L
            units.foreach { u =>
              var from = 0
              var until = u.length
              while (from < until && u.charAt(from) == ' ') from += 1
              while (until > from && u.charAt(until - 1) == ' ') until -= 1
              if (until > from) {
                val t = u.substring(from, until)
                total += 1
                val slot = counts.get(t)
                if (slot == null) counts.put(t, Array(1L))
                else slot(0) += 1L
              }
            }
            var dup = 0L
            var chars = 0L
            var dupChars = 0L
            val it = counts.entrySet().iterator()
            while (it.hasNext) {
              val e = it.next()
              val v = e.getKey
              val c = e.getValue()(0)
              val w = v.codePointCount(0, v.length).toLong
              dup += c - 1L
              chars += c * w
              dupChars += (c - 1L) * w
            }
            (total, dup, chars, dupChars)
          }
          val t2 = text.replace("\r\n", "\n")
          val (nl, dl, lc, dlc) = stats(t2.split("\n", -1))
          val (np, dp, pc, dpc) = stats(t2.split("\n[ \t\r]*\n", -1))
          val rl = 10L * dl <= 3L * nl
          val rlc = 5L * dlc <= lc
          val rp = 10L * dp <= 3L * np
          val rpc = 5L * dpc <= pc
          // n-gram family: one token array, one interned-id array, one
          // prefix-sum table and one coverage buffer — shared by every
          // n (string-free counting, see [[Gram]])
          val toks = tokensLocal(text)
          val nc = text.codePointCount(0, text.length).toLong
          val wlen = new Array[Long](toks.length)
          var wi = 0
          while (wi < toks.length) {
            wlen(wi) = toks(wi).codePointCount(0, toks(wi).length).toLong
            wi += 1
          }
          val ids = internTokens(toks)
          val plen = prefixLens(wlen)
          val covered = new Array[Boolean](toks.length)
          val tops = TopGramThresholds.map { case (n, _, _) =>
            topGramChars(ids, plen, n)
          }
          val dups = DupGramThresholds.map { case (n, _, _) =>
            dupGramChars(ids, wlen, n, covered)
          }
          val topRules = TopGramThresholds.zip(tops).map {
            case ((_, num, den), cov) => cov * den <= num * nc
          }
          val dupRules = DupGramThresholds.zip(dups).map {
            case ((_, num, den), cov) => cov * den <= num * nc
          }
          val allRules = Seq(rl, rlc, rp, rpc) ++ topRules ++ dupRules
          (Seq[Any](nl, dl, lc, dlc, np, dp, pc, dpc, nc) ++
            tops.map(identity[Any]) ++ dups.map(identity[Any]) ++
            allRules.map(identity[Any])) :+ allRules.forall(identity)
        }
      }
    }
  }

  object GopherRepetition {
    /** (n, threshold numerator, threshold denominator): the rule is
      * `covered / n_chars <= num / den`, applied as
      * `covered * den <= num * n_chars`. Gopher's published constants:
      * top-{2,3,4}-gram at 0.20 / 0.18 / 0.16. */
    val TopGramThresholds: Seq[(Int, Long, Long)] =
      Seq((2, 1L, 5L), (3, 9L, 50L), (4, 4L, 25L))

    /** dup-{5..10}-gram coverage at 0.15 / 0.14 / 0.13 / 0.12 / 0.11 /
      * 0.10, same cross-multiplied form. */
    val DupGramThresholds: Seq[(Int, Long, Long)] =
      Seq((5, 3L, 20L), (6, 7L, 50L), (7, 13L, 100L), (8, 3L, 25L),
        (9, 11L, 100L), (10, 1L, 10L))

    /** An n-gram key over an INTERNED token-id array — a view
      * (array, offset, n) with window hash/equality, so counting
      * n-grams allocates one small object per position instead of
      * building a space-joined string per position per n (r17
      * optimization: the 9-order n-gram loop measured 2.46-2.48x
      * faster than the string-keyed r16 formulation at both 30- and
      * 600-token documents, with result equality asserted per
      * document — OPTIMIZATION_r17.md change #7; the 2M-doc
      * closed-form stress row stays green). EXACT equivalence with the
      * string keys: tokens contain no spaces (whitespace-split), so for
      * fixed n the space-join is injective — id-window equality iff string
      * equality — and the joined gram's codepoint count is
      * Σ token codepoints + (n − 1), read off the prefix-sum table.
      */
    private final class Gram(val ids: Array[Int], val off: Int,
                             val n: Int) {
      override def hashCode: Int = {
        var h = 1
        var i = off
        val e = off + n
        while (i < e) { h = h * 31 + ids(i); i += 1 }
        h
      }
      override def equals(o: Any): Boolean = o match {
        case g: Gram =>
          if (g.n != n) false
          else {
            var i = 0
            while (i < n) {
              if (ids(off + i) != g.ids(g.off + i)) return false
              i += 1
            }
            true
          }
        case _ => false
      }
    }

    /** Intern each token to a dense id (first-seen order — only
      * equality matters). One pass, shared by every n. */
    private[graft] def internTokens(toks: Array[String]): Array[Int] = {
      val interner = new java.util.HashMap[String, Integer](
        toks.length * 2)
      val ids = new Array[Int](toks.length)
      var i = 0
      while (i < toks.length) {
        var id = interner.get(toks(i))
        if (id == null) {
          id = Integer.valueOf(interner.size)
          interner.put(toks(i), id)
        }
        ids(i) = id.intValue
        i += 1
      }
      ids
    }

    /** Exclusive prefix sums of the word codepoint lengths:
      * `plen(i) = Σ_{j<i} wlen(j)` — gram codepoints for window
      * [i, i+n) are `plen(i+n) - plen(i) + (n-1)`. */
    private[graft] def prefixLens(wlen: Array[Long]): Array[Long] = {
      val plen = new Array[Long](wlen.length + 1)
      var i = 0
      while (i < wlen.length) { plen(i + 1) = plen(i) + wlen(i); i += 1 }
      plen
    }

    /** Per-position gram views + occurrence counts (shared first pass
      * of the top/dup counters). */
    private def gramCounts(ids: Array[Int], n: Int)
        : (Array[Gram], java.util.HashMap[Gram, Array[Long]]) = {
      val total = ids.length - n + 1
      if (total <= 0) return (Array.empty, null)
      val grams = new Array[Gram](total)
      val counts = new java.util.HashMap[Gram, Array[Long]](total * 2)
      var i = 0
      while (i < total) {
        val g = new Gram(ids, i, n)
        grams(i) = g
        val slot = counts.get(g)
        if (slot == null) counts.put(g, Array(1L)) else slot(0) += 1L
        i += 1
      }
      (grams, counts)
    }

    /** The duplicate-char mass of the heaviest REPEATED n-gram:
      * `max over distinct grams with count ≥ 2 of
      * count × codepoints(gram)` (0 when no n-gram repeats — this IS a
      * repetition gate, so a gram occurring once never counts, exactly
      * like the dup family; without the ≥ 2 floor a short document
      * would fail on a unique long 2-gram). Identical occurrences have
      * identical windows, hence identical codepoint sums — visiting
      * positions instead of distinct grams cannot change the max. */
    private[graft] def topGramChars(ids: Array[Int],
                                        plen: Array[Long],
                                        n: Int): Long = {
      val (grams, counts) = gramCounts(ids, n)
      if (grams.isEmpty) return 0L
      var best = 0L
      var i = 0
      while (i < grams.length) {
        val c = counts.get(grams(i))(0)
        if (c >= 2L) {
          val v = c * (plen(i + n) - plen(i) + (n - 1))
          if (v > best) best = v
        }
        i += 1
      }
      best
    }

    /** Codepoint total of words covered by at least one n-gram
      * occurring ≥ 2 times (each word position counted once).
      * `covered` is a caller-provided scratch buffer of length
      * ≥ ids.length, cleared here. */
    private[graft] def dupGramChars(ids: Array[Int],
                                        wlen: Array[Long], n: Int,
                                        covered: Array[Boolean]): Long = {
      val (grams, counts) = gramCounts(ids, n)
      if (grams.isEmpty) return 0L
      java.util.Arrays.fill(covered, 0, ids.length, false)
      var i = 0
      while (i < grams.length) {
        if (counts.get(grams(i))(0) >= 2L) {
          var j = i
          val e = i + n
          while (j < e) { covered(j) = true; j += 1 }
        }
        i += 1
      }
      var s = 0L
      i = 0
      while (i < ids.length) {
        if (covered(i)) s += wlen(i)
        i += 1
      }
      s
    }
  }

  /** C4-style LINE-LEVEL cleaning gate (Raffel et al. 2020 §2.2, the
    * published C4 heuristics; public knowledge) — the other canonical
    * web-corpus filter family beside the Gopher gate
    * ([[GopherRules]]/[[GopherRepetition]] score and reject whole
    * documents; C4 first EDITS the document line by line, then gates
    * what survives):
    *
    * Line retention (a line survives iff ALL hold; CRLF-normalized
    * `\n` split, the [[GopherRepetition]] discipline):
    *   - ends in a terminal punctuation mark after trailing-space
    *     trim — `.` `!` `?` or a closing `"` (the paper's "terminal
    *     punctuation mark incl. end quotation mark");
    *   - carries at least `minLineWords` words (house token
    *     convention);
    *   - does not contain the word `javascript` (token match, not
    *     substring — "javascripting" is not the boilerplate marker).
    *
    * Document rules over the RETAINED text / raw text:
    *   - `r_sentences`: at least `minSentences` sentence marks
    *     (`.` `!` `?` codepoints in the retained text — the
    *     deterministic stand-in for the paper's sentence count;
    *     documented deviation: no sentence segmenter, a mark count
    *     mirrors exactly in SQL);
    *   - `r_brace`: the raw text contains no `{` (code page marker);
    *   - `r_lorem`: the raw text does not contain the phrase
    *     `lorem ipsum` (case-insensitive);
    *   - `r_block`: no `blockWords` token present (the paper's
    *     blocklist rule; the list is caller-supplied — default empty
    *     = rule vacuously true — because no blocklist is bundled).
    *
    * Output: counters (`n_lines`, `kept_lines`, `js_lines`,
    * `n_sentences`, `block_hits`), flags, per-rule verdicts, `admit`,
    * plus `clean_text` (retained lines joined by `\n`, the EDITED
    * document downstream stages consume) and `clean_chars`. Null
    * text: counters −1, flags/rules false, clean_text null.
    *
    * Scale shape: one compiled zero-shuffle map pass
    * ([[appendFromText]]), doc-bounded state — composable before the
    * Gopher gate in an ingest chain (C4 edits, Gopher rejects).
    */
  final case class C4Clean(textColumn: String = "text",
                           minLineWords: Long = 5L,
                           minSentences: Long = 3L,
                           blockWords: Seq[String] = Seq.empty)
      extends Wrangler {
    require(minLineWords >= 0 && minSentences >= 0,
      "need minLineWords >= 0 and minSentences >= 0")
    require(blockWords.distinct == blockWords,
      "`blockWords` must be duplicate-free")
    require(blockWords.forall(w => w.nonEmpty && w == w.trim &&
        w == w.toLowerCase(java.util.Locale.ROOT)),
      "`blockWords` must be lower-case and trimmed — tokens are " +
        "lower-cased before matching")
    override def preservesSampleSize: Boolean = true

    def transform(df: DataFrame): DataFrame = {
      SparkUtil.validateColumns(df, Seq(textColumn))
      val outCols = Seq("n_lines", "kept_lines", "js_lines",
        "n_sentences", "block_hits", "has_brace", "has_lorem",
        "r_sentences", "r_brace", "r_lorem", "r_block", "admit",
        "clean_text", "clean_chars")
      val clash = df.columns.filter(c =>
        outCols.exists(_.equalsIgnoreCase(c)))
      require(clash.isEmpty,
        s"input must not carry output columns ${clash.mkString(", ")}")
      val blocks = blockWords.toSet
      val (minW, minS) = (minLineWords, minSentences)
      appendFromText(df, textColumn, Seq(
        "n_lines" -> LongT, "kept_lines" -> LongT, "js_lines" -> LongT,
        "n_sentences" -> LongT, "block_hits" -> LongT,
        "has_brace" -> BooleanT, "has_lorem" -> BooleanT,
        "r_sentences" -> BooleanT, "r_brace" -> BooleanT,
        "r_lorem" -> BooleanT, "r_block" -> BooleanT,
        "admit" -> BooleanT,
        "clean_text" -> StringT, "clean_chars" -> LongT)) { () => text =>
        if (text == null)
          Seq[Any](-1L, -1L, -1L, -1L, -1L,
            false, false, false, false, false, false, false, null, -1L)
        else {
          val t2 = text.replace("\r\n", "\n")
          val lines = t2.split("\n", -1)
          var js = 0L
          val kept = new ArrayBuffer[String](lines.length)
          lines.foreach { l =>
            val ltk = tokensLocal(l)
            val hasJs = ltk.contains("javascript")
            if (hasJs) js += 1L
            var until = l.length
            while (until > 0 && l.charAt(until - 1) == ' ') until -= 1
            val punct = until > 0 && {
              val c = l.charAt(until - 1)
              c == '.' || c == '!' || c == '?' || c == '"'
            }
            if (punct && ltk.length >= minW && !hasJs) kept += l
          }
          val cleanText = kept.mkString("\n")
          var sentences = 0L
          var i = 0
          while (i < cleanText.length) {
            val c = cleanText.charAt(i)
            if (c == '.' || c == '!' || c == '?') sentences += 1L
            i += 1
          }
          var blockHits = 0L
          if (blocks.nonEmpty) {
            val seen = new scala.collection.mutable.HashSet[String]
            tokensLocal(text).foreach { t =>
              if (blocks.contains(t)) seen += t
            }
            blockHits = seen.size.toLong
          }
          val hasBrace = text.indexOf('{') >= 0
          val hasLorem = text.toLowerCase(java.util.Locale.ROOT)
            .contains("lorem ipsum")
          val rS = sentences >= minS
          val rB = !hasBrace
          val rL = !hasLorem
          val rK = blockHits == 0L
          Seq[Any](lines.length.toLong, kept.length.toLong, js,
            sentences, blockHits, hasBrace, hasLorem,
            rS, rB, rL, rK, rS && rB && rL && rK,
            cleanText,
            cleanText.codePointCount(0, cleanText.length).toLong)
        }
      }
    }
  }

  /** Per-language marker-token lists for the n-gram/stopword language-ID
    * heuristic. Order defines the deterministic argmax tie-break.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un"),
    "es" -> Seq("el", "los", "y", "una", "que", "en"),
  )

  /** Stopword-hit language identification: score each language by marker
    * token hits; predict the max-scoring language (ties resolved in
    * [[LangMarkers]] order), `und` (undetermined) when no marker hits.
    */
  final case class LanguageId(textColumn: String = "text")
      extends Wrangler {
    override def preservesSampleSize: Boolean = true
    def transform(df: DataFrame): DataFrame = {
      SparkUtil.validateColumns(df, Seq(textColumn))
      val markerSets = LangMarkers.map { case (lang, words) =>
        (lang, words.toSet)
      }
      appendFromText(df, textColumn,
        LangMarkers.map(m => s"score_${m._1}" -> (LongT: org.apache.spark.sql.types.DataType)) :+
          ("pred_lang" -> (StringT: org.apache.spark.sql.types.DataType))) { () => text =>
        if (text == null)
          // expression fidelity: size(filter(null)) = -1 per score; no
          // score is positive, so the prediction falls through to 'und'
          Seq.fill[Any](markerSets.size)(-1L) :+ "und"
        else {
          val toks = tokensLocal(text)
          val scores = markerSets.map { case (_, words) =>
            toks.count(words.contains).toLong
          }
          // argmax with first-wins tie-break: a language is predicted
          // when its score is positive and >= every LATER language's
          // score (evaluated in LangMarkers order); 'und' otherwise
          val winner = scores.indices.collectFirst {
            case i if scores(i) > 0 &&
              (i + 1 until scores.size).forall(j => scores(i) >= scores(j)) =>
              markerSets(i)._1
          }
          scores.map(identity[Any]) :+ winner.getOrElse("und")
        }
      }
    }
  }

  /** Text normalization for ingest pipelines: strip HTML-ish tags,
    * collapse whitespace runs, trim, optionally lowercase — pure
    * map-side regex expressions. Emits the normalized text plus its
    * length and md5 (the stable join/dedup keys downstream stages use).
    */
  final case class Normalize(textColumn: String = "text",
                             lowercase: Boolean = true)
      extends Wrangler {
    override def preservesSampleSize: Boolean = true
    def transform(df: DataFrame): DataFrame = {
      SparkUtil.validateColumns(df, Seq(textColumn))
      val stripped = regexp_replace(col(textColumn), "<[^>]*>", " ")
      val collapsed = trim(regexp_replace(stripped, "\\s+", " "))
      val norm = if (lowercase) lower(collapsed) else collapsed
      df.withColumn("norm_text", norm)
        .withColumn("norm_len", length(col("norm_text")).cast("long"))
        .withColumn("norm_fp", md5(col("norm_text")))
    }
  }

  /** Document fingerprints: an md5 content fingerprint over
    * whitespace-normalized text plus a 31-base rolling token hash
    * (mod 1e9+7) — both portable across engines and cheap at scale.
    */
  final case class Fingerprint(textColumn: String = "text")
      extends Wrangler {
    override def preservesSampleSize: Boolean = true
    def transform(df: DataFrame): DataFrame = {
      SparkUtil.validateColumns(df, Seq(textColumn))
      appendFromText(df, textColumn,
        Seq("md5_fp" -> StringT, "roll_fp" -> LongT)) { () =>
        val mdDigest = java.security.MessageDigest.getInstance("MD5")
        text =>
          if (text == null) Seq[Any](null, null)
          else {
            // norm mirrors regexp_replace(trim(lower(text)), "\s+", " "):
            // trim strips 0x20 only, the replace uses the same Java regex
            var from = 0
            var until = text.length
            while (from < until && text.charAt(from) == ' ') from += 1
            while (until > from && text.charAt(until - 1) == ' ') until -= 1
            val norm = text.substring(from, until)
              .toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
            mdDigest.reset()
            val digest = mdDigest.digest(
              norm.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            val hex = new java.lang.StringBuilder(32)
            digest.foreach { b =>
              hex.append(Character.forDigit((b >> 4) & 0xf, 16))
              hex.append(Character.forDigit(b & 0xf, 16))
            }
            var roll = 0L
            tokensLocal(text).foreach { t =>
              roll = (roll * 31L + tokenHashLocal(t)) % 1000000007L
            }
            Seq[Any](hex.toString, roll)
          }
      }
    }
  }

  /** Within-document repetition signals — the standard web-corpus
    * "repetitious document" filter family: the fraction of duplicate
    * word 2-grams / 3-grams (1 - distinct/total). Map-side and
    * shuffle-free; ratios are a single IEEE division of exact integer
    * counts, so engine-deterministic.
    *
    * Implemented as a row-preserving typed `mapPartitions` (stays in
    * Tungsten via Deserialize/SerializeFromObject), NOT as
    * `transform`/`array_distinct` array expressions: Spark evaluates
    * higher-order array lambdas interpreted, and building both gram
    * arrays per row measured 23.8 s for the sf0.1 corpus under honest
    * forcing vs ~1 s compiled — the same trade documented on
    * [[graft.functions.Portable.shingleRows]].
    */
  final case class RepetitionScore(textColumn: String = "text")
      extends Wrangler {
    override def preservesSampleSize: Boolean = true

    def transform(df: DataFrame): DataFrame = {
      SparkUtil.validateColumns(df, Seq(textColumn))
      appendFromText(df, textColumn, Seq(
        "n_2grams" -> LongT, "dup_2gram_ratio" -> DoubleT,
        "n_3grams" -> LongT, "dup_3gram_ratio" -> DoubleT,
        "repetition_score" -> DoubleT)) { () => text =>
        val toks = tokensLocal(text)
        val (n2, d2) = RepetitionScore.gramStats(toks, 2)
        val (n3, d3) = RepetitionScore.gramStats(toks, 3)
        val r2 = RepetitionScore.dupRatio(n2, d2)
        val r3 = RepetitionScore.dupRatio(n3, d3)
        // Seq[Any]: a mixed Long/Double Seq would numerically WIDEN the
        // longs to Double and break the BIGINT encoder fields
        Seq[Any](n2, r2, n3, r3, math.max(r2, r3))
      }
    }
  }

  object RepetitionScore {
    /** (total, distinct) word n-grams of a token array — NON-distinct
      * totals (the dedup shingles collapse dupes; repetition scoring is
      * precisely about the dupes).
      */
    private[operators] def gramStats(toks: Array[String], n: Int): (Long, Long) = {
      if (toks == null || toks.length < n) (0L, 0L)
      else {
        val total = toks.length - n + 1
        val seen = new java.util.HashSet[String](total * 2)
        val sb = new java.lang.StringBuilder
        var i = 0
        while (i < total) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j)); j += 1
          }
          seen.add(sb.toString)
          i += 1
        }
        (total.toLong, seen.size.toLong)
      }
    }

    /** Duplicate-gram ratio, rounded like Spark's `round(_, 6)` so the
      * DuckDB oracle hash-matches.
      */
    private[operators] def dupRatio(total: Long, distinct: Long): Double =
      if (total == 0L) 0.0
      else round6((total - distinct).toDouble / total)
  }

  /** PII redaction for training-data pipelines: emails, IPv4 addresses
    * and international-format phone numbers are replaced with typed
    * placeholder tokens, with match counts emitted for audit. Pure
    * map-side regex (codegen'd), zero shuffle; the patterns are
    * RE2-compatible so the DuckDB oracle replays them verbatim.
    * Redaction order (email, then IP, then phone) is fixed, and each
    * count is taken on the text AS THAT PASS SEES IT — so the audit
    * counts equal the replacements actually performed even when
    * patterns overlap (e.g. an all-digit email local part that the
    * IPv4 regex would also match is counted once, as an email).
    */
  final case class PiiScrub(textColumn: String = "text")
      extends Wrangler {
    override def preservesSampleSize: Boolean = true
    def transform(df: DataFrame): DataFrame = {
      SparkUtil.validateColumns(df, Seq(textColumn))
      val t = col(textColumn)
      def count(on: Column, re: String): Column =
        size(regexp_extract_all(on, lit(re), lit(0))).cast("long")
      val afterEmail = regexp_replace(t, PiiScrub.EmailRe, "<EMAIL>")
      val afterIp = regexp_replace(afterEmail, PiiScrub.Ipv4Re, "<IP>")
      val scrubbed = regexp_replace(afterIp, PiiScrub.PhoneRe, "<PHONE>")
      df.withColumn("n_emails", count(t, PiiScrub.EmailRe))
        .withColumn("n_ips", count(afterEmail, PiiScrub.Ipv4Re))
        .withColumn("n_phones", count(afterIp, PiiScrub.PhoneRe))
        .withColumn("scrubbed", scrubbed)
        .withColumn("scrub_len", length(col("scrubbed")).cast("long"))
        .withColumn("scrub_fp", md5(col("scrubbed")))
    }
  }

  object PiiScrub {
    val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val Ipv4Re =
      "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    val PhoneRe = "\\+[0-9][0-9 -]{6,}[0-9]"
  }
}
