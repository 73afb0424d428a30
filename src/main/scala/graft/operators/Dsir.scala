package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Wrangler
import graft.functions.Portable
import graft.util.SparkUtil

/** Importance-resampling data selection (DSIR): score every document
  * by how much more likely its hashed n-gram features (unigrams by
  * default, bigrams with `ngram = 2` — the paper's feature space) are
  * under a TARGET domain's feature distribution than under the rest of
  * the corpus, then keep exactly the top `fraction` of documents — the
  * "select web data that looks like my high-quality seed corpus"
  * primitive of LLM pretraining curation (Xie et al. 2023, "Data
  * Selection for Language Models via Importance Resampling").
  *
  * Beyond-reference operator: the reference engine has no selection
  * surface at all; this follows the published method re-expressed in
  * the library's own conventions (tokenisation from
  * [[graft.functions.Portable.tokens]], md5 feature hashing and the
  * deterministic md5-order tie-break of
  * [[Sampling.StratifiedSample]]/[[Corpus.MixBudget]], the scaled-long
  * score lattice of [[Corpus.UnigramLogProb]], and the equi-depth
  * rank machinery of [[Corpus.QuantileStats]]).
  *
  * Two surfaces share one scoring + selection core:
  *   - [[ImportanceResample]] — one-shot over a standing corpus (the
  *     corpus is its own raw-distribution estimate);
  *   - [[featureCounts]] / [[IncrementalResample]] / [[foldBatch]] —
  *     the ingest-loop form (cf. [[Dedup.IncrementalExactDedup]]):
  *     fit sufficient statistics once, persist them (<= `numFeatures`
  *     rows), score every incoming batch against them, fold the batch
  *     back in. Admitting a batch never re-reads corpus text.
  */
object Dsir {

  /** md5-prefix feature hash of a token: `md5-prefix(tok) mod
    * numFeatures`, the hashed-unigram bucket of the published method
    * ([[Portable.tokenHash]], so the local mirror
    * [[Portable.tokenHashLocal]] is bit-identical by construction).
    */
  private def featureOf(tok: Column, numFeatures: Int): Column =
    pmod(Portable.tokenHash(tok), lit(numFeatures.toLong))

  /** The hashed-feature posting of `df`: one row per feature
    * OCCURRENCE, carrying `keep` (simple named columns of `df`) plus
    * the feature cell as `__feat`. `ngram = 1` hashes tokens (the
    * default of the published method); `ngram = 2` hashes
    * space-joined bigrams — Xie et al.'s n-gram feature space — via
    * the codegen'd slice + arrays_zip shape of
    * [[Corpus.BigramLogProb]] (the interpreted transform/sequence HOF
    * measured 6x slower at corpus scale). Documents with fewer than
    * `ngram` tokens contribute NO occurrences — under bigram features
    * a 0/1-token document scores exactly 0, the same empty-product
    * convention as null text under unigrams.
    */
  private def featurePosting(df: DataFrame, keep: Seq[String],
                             textColumn: String, numFeatures: Int,
                             ngram: Int): DataFrame = {
    require(ngram == 1 || ngram == 2, s"ngram must be 1 or 2, got $ngram")
    val toks = Portable.tokens(col(textColumn))
    val keepC = keep.map(col)
    if (ngram == 1)
      df.select(keepC :+ explode(toks).as("__tok"): _*)
        .select(keepC :+ featureOf(col("__tok"), numFeatures)
          .as("__feat"): _*)
    else {
      val len = greatest(size(toks) - 1, lit(0))
      df.select(keepC :+ explode(arrays_zip(
          slice(toks, lit(1), len), slice(toks, lit(2), len))).as("__p"): _*)
        .select(keepC :+ featureOf(concat_ws(" ",
          col("__p").getField("0"), col("__p").getField("1")),
          numFeatures).as("__feat"): _*)
    }
  }

  /** Driver-held log-ratio table of a feature-count frame: position
    * `f` holds the scaled-long ratio for feature `f`, absent cells the
    * zero-count ratio — the LOCAL mirror of [[scoreAgainst]]'s two
    * broadcasts (same double arithmetic, same HALF_UP rounding as
    * Spark's `round`), for the streaming gate
    * ([[graft.streaming.StreamingDsir]]) where per-row scoring runs in
    * one compiled pass. At most `numFeatures` longs — 8 MB at the
    * 2^20 cap, the same driver-sized contract the broadcast relies on.
    */
  private[graft] def ratioTable(counts: DataFrame, numFeatures: Int,
                                opName: String): Array[Long] = {
    SparkUtil.validateColumns(counts, Seq("feature", "n_target", "n_raw"))
    val rows = counts.select("feature", "n_target", "n_raw").collect()
    require(rows.nonEmpty,
      s"$opName: empty feature-count table — fit featureCounts on a " +
        "non-empty corpus first")
    ratioTableOf(rows, numFeatures, opName)
  }

  /** [[ratioTable]] over already-collected count rows. */
  private def ratioTableOf(rows: Array[org.apache.spark.sql.Row],
                           numFeatures: Int, opName: String): Array[Long] = {
    var t = 0L
    var r = 0L
    rows.foreach { rw => t += rw.getLong(1); r += rw.getLong(2) }
    val v = rows.length
    def ratio(ct: Long, cr: Long): Long =
      java.math.BigDecimal.valueOf(
          (math.log((ct + 1).toDouble / (t + v)) -
            math.log((cr + 1).toDouble / (r + v))) * 1e6)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val arr = Array.fill(numFeatures)(ratio(0L, 0L))
    rows.foreach { rw =>
      val f = rw.getLong(0)
      require(f >= 0 && f < numFeatures,
        s"$opName: feature $f out of [0, $numFeatures) — the table " +
          "was fitted with a different numFeatures")
      arr(f.toInt) = ratio(rw.getLong(1), rw.getLong(2))
    }
    arr
  }

  /** Working / output names both operators forbid on input. */
  private val Reserved = Set("__tok", "__tgt", "__feat", "__p", "__f",
    "__t", "__c",
    "__r", "__v", "__mf", "__lr", "__dlr", "__s", "__th", "__b", "__bc",
    "__vlo", "__vhi", "__tot", "__above", "__k", "__q", "__one",
    "__bnd", "__keep", "__rn", "__hb", "__hc", "__hab", "__q2",
    "__rn2", "dsir_score")

  private def requireNoReserved(df: DataFrame): Unit =
    require(!df.columns.exists(c => Reserved(c.toLowerCase)),
      s"input must not carry ${Reserved.mkString("/")} columns " +
        "(matching is case-insensitive, like Spark's resolution)")

  /** Sufficient statistics of a fitted corpus: one row per hashed
    * feature PRESENT in the corpus with its occurrence counts in
    * target documents (`targetColumn === targetValue`) and in the
    * rest — at most `numFeatures` rows, so the table broadcasts, and
    * counts are plain sums, so tables FOLD additively across batches
    * ([[foldBatch]]). Build once over the standing corpus, persist,
    * and feed [[IncrementalResample]]; `numFeatures` must match
    * between fit and score.
    *
    * Scale shape: one map-side-combined aggregation over the token
    * posting — text is read once and never shuffled (the shuffle
    * carries (feature, flag) pairs into <= `numFeatures` cells).
    */
  def featureCounts(corpus: DataFrame, targetValue: String,
                    textColumn: String = "text",
                    targetColumn: String = "source",
                    numFeatures: Int = 4096,
                    ngram: Int = 1): DataFrame = {
    SparkUtil.validateColumns(corpus, Seq(textColumn, targetColumn))
    val flagged = corpus.select(
      coalesce(col(targetColumn) === lit(targetValue), lit(false))
        .as("__tgt"),
      col(textColumn))
    // the fit's (numFeatures, ngram) ride the table itself in column
    // metadata (parquet-round-trip safe): the two structurally
    // undetectable drift directions — smaller numFeatures, different
    // ngram, both hashing into the same [0, numFeatures) cells — become
    // in-data errors at probe/fold time
    SparkUtil.withFitParams(
      featurePosting(flagged, Seq("__tgt"), textColumn, numFeatures, ngram)
        .select(col("__tgt"), col("__feat").as("feature"))
        .groupBy("feature")
        .agg(sum(when(col("__tgt"), 1L).otherwise(0L)).as("n_target"),
          sum(when(col("__tgt"), 0L).otherwise(1L)).as("n_raw")),
      "feature",
      Map("numFeatures" -> numFeatures.toLong, "ngram" -> ngram.toLong))
  }

  /** Fold an ingested batch's occurrences into a persisted
    * feature-count table (the [[Dedup.IncrementalExactDedup.updatedIndex]]
    * move): counts add, new features append. Same <= `numFeatures`-cell
    * aggregation shape as the initial fit.
    */
  def foldBatch(counts: DataFrame, batch: DataFrame, targetValue: String,
                textColumn: String = "text",
                targetColumn: String = "source",
                numFeatures: Int = 4096,
                ngram: Int = 1): DataFrame = {
    SparkUtil.validateColumns(counts, Seq("feature", "n_target", "n_raw"))
    SparkUtil.requireFitParam(counts, "feature", "numFeatures",
      numFeatures.toLong, "Dsir.foldBatch")
    SparkUtil.requireFitParam(counts, "feature", "ngram", ngram.toLong,
      "Dsir.foldBatch")
    SparkUtil.withFitParams(
      counts.select("feature", "n_target", "n_raw")
        .unionByName(
          featureCounts(batch, targetValue, textColumn, targetColumn,
            numFeatures, ngram))
        .groupBy("feature")
        .agg(sum("n_target").as("n_target"), sum("n_raw").as("n_raw")),
      "feature",
      Map("numFeatures" -> numFeatures.toLong, "ngram" -> ngram.toLong))
  }

  /** Per-document add-one-smoothed log-likelihood-ratio scores of `df`
    * against a feature-count table: with `ct/cr` a feature's counts,
    * `T/R` the table's totals and `V` its row count, the feature's
    * log-ratio is `ln((ct+1)/(T+V)) - ln((cr+1)/(R+V))`, rounded to
    * 1e-6 and held as a scaled LONG (the [[Corpus.UnigramLogProb]]
    * lattice, so per-document sums are exact integer arithmetic under
    * any partitioning). Features ABSENT from the table score the
    * ct = cr = 0 ratio — the smoothing's own value for never-seen
    * content, so out-of-vocabulary batch tokens down-weight exactly as
    * the published estimator prescribes instead of dropping out. A
    * document's score is the sum over its token OCCURRENCES; null-text
    * / token-less documents score exactly 0 (the empty product's log)
    * and rank mid-field instead of silently vanishing.
    *
    * Returns the NARROW `(id, dsir_score)` frame — 16 bytes a row.
    * The table rides two broadcasts (per-feature ratios + the 1-row
    * totals); the only wide ops are the <= `numFeatures`-cell totals
    * aggregation and the doc-keyed partial-aggregated sum.
    */
  private def scoreAgainst(df: DataFrame, counts: DataFrame,
                           idColumn: String, textColumn: String,
                           numFeatures: Int,
                           emptyModelError: Option[String],
                           ngram: Int = 1,
                           posting0: Option[DataFrame] = None): DataFrame = {
    val idc = col(idColumn)
    // the (<= numFeatures)-row count table collects ONCE and the
    // per-feature ratio lattice computes on the driver ([[ratioTable]],
    // the streaming mirror — same double arithmetic, same HALF_UP
    // rounding as the former in-plan `round` expression), riding one
    // broadcast LocalRelation that covers EVERY hash cell (absent
    // cells hold the zero-count smoothed ratio, so the posting join is
    // a plain inner lookup — no unseen-side default plumbing). The
    // previous lazy formulation re-evaluated the counts subplan —
    // for the incremental form, a full corpus tokenize+hash pass —
    // inside EACH of its two broadcast builds (r18).
    val countRows = counts.select("feature", "n_target", "n_raw").collect()
    emptyModelError.foreach { msg =>
      require(countRows.nonEmpty, msg)
      // a table holding features >= numFeatures was fitted with a
      // DIFFERENT numFeatures — scoring through it would silently
      // mis-bucket every token (the smaller-fit direction is
      // undetectable; this catches the loud half)
      require(countRows.forall(_.getLong(0) < numFeatures),
        "IncrementalResample: feature-count table carries " +
          s"features >= numFeatures ($numFeatures) — it was " +
          "fitted with a different numFeatures")
    }
    val spark = df.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val lrRows: Seq[Row] =
      if (countRows.isEmpty) Nil // empty one-shot fit: every doc
      // misses the join and scores the coalesced 0, as before
      else ratioTableOf(countRows, numFeatures, "Dsir").zipWithIndex
        .map { case (v, f) => Row(f.toLong, v) }.toSeq
    val lr = spark.createDataFrame(
      java.util.Arrays.asList(lrRows: _*),
      StructType(Seq(StructField("__f", LongType, nullable = false),
        StructField("__lr", LongType, nullable = false))))
    val posting = posting0.getOrElse(
      featurePosting(df.select(idc, col(textColumn)),
          Seq(idColumn), textColumn, numFeatures, ngram)
        .select(idc, col("__feat").as("__f")))
    val scores = posting.join(broadcast(lr), Seq("__f"))
      .groupBy(idc).agg(sum("__lr").as("__s"))
    // id integrity, raised in-plan (the library's null-group
    // convention, cf. QuantileStats): a NULL id cannot join its score
    // back and its tie hex would be null (Spark orders nulls first,
    // DuckDB last — the selection would silently disagree with the
    // oracle); a DUPLICATE id would fan out the final kept-rows join,
    // quietly breaking the exact-k contract. The ids-only count agg
    // costs no extra exchange — it pre-partitions the join's left side
    // on the id key
    val idCounts = df.select(idc).groupBy(idc)
      .agg(count(lit(1)).as("__c"))
    val idG = when(idc.isNull,
        raise_error(lit(s"Dsir: id column `$idColumn` must be " +
          "non-null — selection order is keyed on it")))
      .when(col("__c") > 1,
        raise_error(lit(s"Dsir: id column `$idColumn` must be " +
          "unique — duplicate ids would fan out the kept-rows join " +
          "and break the exact-k contract")))
      .otherwise(idc)
      .cast(SparkUtil.fieldType(df, idColumn)).as(idColumn)
    idCounts
      .join(scores, Seq(idColumn), "left")
      .select(idG, coalesce(col("__s"), lit(0L)).as("dsir_score"))
  }

  /** Exact top-`ceil(fraction * n)` of a NARROW `(id, dsir_score)`
    * frame by the TOTAL order `(dsir_score DESC, md5("salt:id") ASC,
    * id ASC)` — unique, reproducible across engines and cluster sizes,
    * oracle-checkable — WITHOUT a global sort. The score column rides
    * the family's sampled equi-depth buckets ([[ValueBucketing]]);
    * per-bucket counts classify every bucket as keep-all / drop / THE
    * boundary bucket by comparing running higher-bucket totals against
    * `k` (exact DECIMAL arithmetic, cf. QuantileStats.rankOf); only
    * boundary rows are ever rank-windowed. Identical scores always
    * share a bucket, so the count algebra cannot split a tie class:
    *   - a multi-valued boundary bucket rank-windows its own rows,
    *     population bounded by [[ValueBucketing.populationGuard]];
    *   - a SINGLE-valued boundary bucket (one heavy tie class holding
    *     the cut — even 50% of the corpus) never sorts in one task:
    *     its rows split by their 16-bit md5-prefix into hash cells
    *     ([[Corpus.MixBudget]]'s two-phase prefix pattern), the cell
    *     counts re-run the same keep-all/boundary algebra against the
    *     bucket quota, and only the ONE partial cell (~|tie| / 65536
    *     rows) is rank-windowed.
    * The classification algebra runs ON THE DRIVER over bounded
    * collected censuses (`<= ~2x valueBuckets` bucket rows,
    * `<= 65536` hash-cell rows — never the data), so the selection
    * plan is literal bucket-id filters plus at most one bounded rank
    * window (r18; the former count-table windows + broadcast
    * classification joins cost ~10 scheduler-bound stage-jobs per
    * query). Boundary sampling and the censuses are the family's
    * eager driver actions; the kept SET is invariant to what the
    * sketch returns (boundaries steer layout only — a shifted boundary
    * moves rows between the keep-all and boundary classes, not in or
    * out of the final top-k). The narrow `(id, dsir_score)` frame is
    * cut ONCE with `localCheckpoint` here, so the eager actions and
    * every branch below read the same 16-byte materialized rows: never
    * a scoring re-run, and a nondeterministic upstream is evaluated
    * exactly once — the census and the filters it drives cannot
    * disagree, so exact-k holds.
    */
  private def selectTopFraction(scoredLazy: DataFrame, idColumn: String,
                                fraction: Double, valueBuckets: Int,
                                accuracy: Int, salt: String,
                                opName: String): DataFrame = {
    val scored = scoredLazy.localCheckpoint()
    val idc = col(idColumn)
    val sd = col("dsir_score").cast("double")
    val bs = ValueBucketing.boundaries(scored, "dsir_score",
      valueBuckets, accuracy)
    val bCol = ValueBucketing.bucketOf(sd, bs)
    // bounded per-bucket census (<= ~2x `valueBuckets` rows, never the
    // data) collected once: the keep-all / drop / boundary
    // classification, the exact-k arithmetic, the population guard and
    // the hash-cell re-bounding all run on the driver, and the
    // selection plan becomes LITERAL bucket-id filters over the
    // checkpointed narrow frame. (Previously the same algebra ran as
    // tiny count-table windows + two broadcast classification joins —
    // ~10 extra scheduler-bound stage-jobs per query for tables this
    // code already bounds to driver size, r18.)
    val census = scored.groupBy(bCol.as("__b")).agg(
        count(lit(1)).as("__bc"),
        min("dsir_score").as("__vlo"), max("dsir_score").as("__vhi"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy { case (b, _, _, _) => -b } // selection is descending
    val total = census.map(_._2).sum
    val k = new java.math.BigDecimal(fraction.toString)
      .multiply(java.math.BigDecimal.valueOf(total))
      .setScale(0, java.math.RoundingMode.CEILING).longValue()
    // same bound as ValueBucketing.populationGuard, driver-evaluated
    val guardBound = math.max(1L << 16,
      total * 8L / valueBuckets + total * 2L / accuracy)
    census.foreach { case (_, bc, vlo, vhi) =>
      require(vlo == vhi || bc <= guardBound,
        s"$opName: a multi-valued value bucket holds $bc rows — far " +
          "beyond the equi-depth bound; the sampled boundaries no " +
          "longer match the data (raise `accuracy`, or `valueBuckets` " +
          "if this distribution is legitimate)")
    }
    var above = 0L
    var keepIds = List.empty[Long]
    var boundary: Option[(Long, Long, Boolean)] = None // (b, quota, 1-valued)
    census.foreach { case (b, bc, vlo, vhi) =>
      if (above + bc <= k) keepIds ::= b
      else if (above < k) boundary = Some((b, k - above, vlo == vhi))
      above += bc
    }

    val keptCols = Seq(idc, col("dsir_score"))
    val thC = Sampling.bucketHex(salt, idc)
    val keepAll = scored.filter(bCol.isin(keepIds: _*))
    // k on a bucket edge (no boundary) keeps the keep-all buckets alone
    val bndPart = boundary.map {
      case (b, q, false) =>
        // multi-valued boundary bucket: rank its own rows, population
        // bounded by the equi-depth guard above; the md5 tie hex is
        // computed for boundary rows only
        scored.filter(bCol === lit(b))
          .withColumn("__th", thC)
          .withColumn("__rn", row_number().over(
            Window.partitionBy(bCol).orderBy(
              col("dsir_score").desc, col("__th").asc, idc.asc))
            .cast("long"))
          .filter(col("__rn") <= lit(q))
          .select(keptCols: _*)
      case (b, q, true) =>
        // single-valued boundary bucket (a heavy tie class holding the
        // cut): scores are all equal, so order inside is purely
        // (md5, id) — split by the 16-bit md5 prefix and re-run the
        // keep-all / boundary algebra per hash cell (<= 65536 cells,
        // driver-bounded census again); only the ONE partial cell is
        // ever rank-windowed
        val cells = scored.filter(bCol === lit(b))
          .withColumn("__th", thC)
          .withColumn("__hb",
            conv(substring(col("__th"), 1, 4), 16, 10).cast("long"))
        val hCensus = cells.groupBy("__hb").agg(count(lit(1)).as("__hc"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .sortBy(_._1) // cell order is ascending
        var hab = 0L
        var hKeepIds = List.empty[Long]
        var hBoundary: Option[(Long, Long)] = None
        hCensus.foreach { case (hb, hc) =>
          if (hab + hc <= q) hKeepIds ::= hb
          else if (hab < q) hBoundary = Some((hb, q - hab))
          hab += hc
        }
        val (hbId, q2) = hBoundary.getOrElse((-1L, 0L))
        val hBnd = cells.filter(col("__hb") === lit(hbId))
          .withColumn("__rn2", row_number().over(
            Window.partitionBy("__hb")
              .orderBy(col("__th").asc, idc.asc)).cast("long"))
          .filter(col("__rn2") <= lit(q2))
        cells.filter(col("__hb").isin(hKeepIds: _*)).select(keptCols: _*)
          .unionByName(hBnd.select(keptCols: _*))
    }
    val kept = keepAll.select(keptCols: _*)
    bndPart.fold(kept)(kept.unionByName(_))
  }

  /** Keep the `ceil(fraction * n)` documents with the highest
    * importance score, exactly and deterministically — the one-shot
    * form, where the corpus being selected is also the raw side of the
    * estimate (target = rows whose `targetColumn` equals
    * `targetValue`).
    *
    * Scoring and the per-feature log-ratio lattice: [[scoreAgainst]]
    * (here every feature is in the table by construction). Selection
    * and its bounds: [[selectTopFraction]].
    *
    * Output: kept rows, all input columns preserved plus `dsir_score`
    * (scaled long).
    *
    * Scale shape: scoring is one bounded feature aggregation
    * (`numFeatures` cells, map-side partial), a broadcast score-table
    * join against the exploded posting (a Zipf-hot token is a
    * broadcast lookup, never a window partition) and one doc-keyed
    * partial-aggregated sum. The ENTIRE selection then runs ids-only
    * (the library's rank-machinery convention, cf.
    * [[Interleave.InterleaveShuffle]]): the `(id, dsir_score)` frame —
    * 16 bytes a row — is cut ONCE with `localCheckpoint` (the
    * [[Similarity.CosineTopK]] trade), so the eager boundary sampling
    * and every selection branch read the materialized narrow rows
    * instead of re-running the scoring joins,
    * and document text is tokenized exactly ONCE end to end (the fit
    * aggregation and the scoring join share one materialized posting —
    * `cachePosting`); the only other touch is the final id-keyed join
    * that re-attaches input columns to KEPT rows only.
    */
  final case class ImportanceResample(targetValue: String,
                                      fraction: Double,
                                      idColumn: String = "doc_id",
                                      textColumn: String = "text",
                                      targetColumn: String = "source",
                                      numFeatures: Int = 4096,
                                      valueBuckets: Int = 256,
                                      accuracy: Int = 10000,
                                      salt: String = "graft",
                                      ngram: Int = 1,
                                      cachePosting: Boolean = true)
      extends Wrangler {
    require(fraction > 0.0 && fraction <= 1.0,
      s"`fraction` must be in (0, 1], got $fraction")
    require(numFeatures >= 1 && numFeatures <= (1 << 20),
      "`numFeatures` must be in [1, 2^20] — the score table is " +
        s"broadcast, so it must stay driver-sized; got $numFeatures")
    require(valueBuckets >= 1, "`valueBuckets` must be >= 1")
    require(ngram == 1 || ngram == 2, s"`ngram` must be 1 or 2 " +
      s"(hashed unigrams or hashed bigrams), got $ngram")

    def transform(df: DataFrame): DataFrame = {
      SparkUtil.validateColumns(df,
        Seq(idColumn, textColumn, targetColumn))
      requireNoReserved(df)
      val idc = col(idColumn)
      // ONE tokenize+hash pass over the corpus (r18): the fit
      // aggregation and the scoring join both read the same posting,
      // materialized narrow ((id, flag, cell) per occurrence) under
      // `cachePosting` — previously each ran its own full explode +
      // md5 pass over the text. Set `cachePosting = false` for a
      // corpus whose occurrence rows exceed cluster storage; the two
      // consumers then recompute the posting, same results.
      val flagged = df.select(idc,
        coalesce(col(targetColumn) === lit(targetValue), lit(false))
          .as("__tgt"),
        col(textColumn))
      val posting0 = featurePosting(flagged, Seq(idColumn, "__tgt"),
        textColumn, numFeatures, ngram)
      val posting =
        if (cachePosting) posting0.localCheckpoint() else posting0
      val counts = SparkUtil.withFitParams(
        posting.select(col("__tgt"), col("__feat").as("feature"))
          .groupBy("feature")
          .agg(sum(when(col("__tgt"), 1L).otherwise(0L)).as("n_target"),
            sum(when(col("__tgt"), 0L).otherwise(1L)).as("n_raw")),
        "feature",
        Map("numFeatures" -> numFeatures.toLong, "ngram" -> ngram.toLong))
      val scored = scoreAgainst(df, counts, idColumn, textColumn,
        numFeatures, emptyModelError = None, ngram,
        posting0 = Some(posting.select(idc, col("__feat").as("__f"))))
      val kept = selectTopFraction(scored, idColumn, fraction,
        valueBuckets, accuracy, salt, "ImportanceResample")
      // re-attach the input columns to KEPT rows only — the one time
      // document text rides a shuffle after the token explode
      val outCols = df.columns.map(col).toSeq :+ col("dsir_score")
      df.join(kept, Seq(idColumn)).select(outCols: _*)
    }
  }

  /** Per-source selection datasheet over [[ImportanceResample]] — the
    * `*_report` family member for selection (cf. [[Funnel]]'s report,
    * [[Corpus.ContaminationReport]], [[SourceQuality.SourceStats]]):
    * one row per source with its input count, kept count, keep rate
    * and the kept rows' exact score mass — the table an analyst reads
    * to see what importance selection DID to the source mix before
    * committing a corpus cut.
    *
    * Columns: `targetColumn` (pass-through name), `n_in`, `n_kept`
    * (0 for sources selected away entirely), `keep_rate` (one IEEE
    * division of exact longs — cross-engine deterministic, the
    * [[SourceQuality.SourceStats]] convention) and `score_sum` (exact
    * scaled-long sum over kept rows). A null source is one class,
    * preserved through a null-safe join (the library's null-group
    * lens).
    *
    * Scale shape: the selection is [[ImportanceResample]] unchanged
    * (its final join prunes to (id, source) here — text never joins
    * back); the report adds two map-side-combined per-source
    * aggregations and a broadcast-sized join between them (rows =
    * distinct sources).
    */
  final case class SelectionReport(targetValue: String,
                                   fraction: Double,
                                   idColumn: String = "doc_id",
                                   textColumn: String = "text",
                                   targetColumn: String = "source",
                                   numFeatures: Int = 4096,
                                   valueBuckets: Int = 256,
                                   accuracy: Int = 10000,
                                   salt: String = "graft")
      extends Wrangler {
    def transform(df: DataFrame): DataFrame = {
      Seq("n_in", "n_kept", "keep_rate", "score_sum", "__ks").foreach {
        c =>
          require(!df.columns.exists(_.equalsIgnoreCase(c)),
            s"Output/working column `$c` already exists in the input; " +
              "rename it first")
      }
      val kept = ImportanceResample(targetValue, fraction, idColumn,
        textColumn, targetColumn, numFeatures, valueBuckets, accuracy,
        salt).transform(df)
      val inAgg = df.groupBy(col(targetColumn))
        .agg(count(lit(1)).as("n_in"))
      val keptAgg = kept.groupBy(col(targetColumn).as("__ks"))
        .agg(count(lit(1)).as("n_kept"),
          sum("dsir_score").as("score_sum"))
      inAgg.join(keptAgg, col(targetColumn) <=> col("__ks"), "left")
        .select(col(targetColumn),
          col("n_in"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (coalesce(col("n_kept"), lit(0L)).cast("double") /
            col("n_in").cast("double")).as("keep_rate"),
          coalesce(col("score_sum"), lit(0L)).as("score_sum"))
    }
  }

  /** DSIR at ingest: score a NEW batch against an already-fitted
    * corpus and keep the batch's own top `ceil(fraction * n)` — the
    * selection member of the incremental ingest family
    * ([[Dedup.IncrementalExactDedup]] / [[Dedup.IncrementalMinHashLSH]]
    * / [[SemDedup]]'s incremental form). The corpus is represented
    * ONLY by its persisted feature-count table ([[featureCounts]],
    * <= `numFeatures` rows), so admitting a batch costs one batch-side
    * token pass plus two broadcast lookups — corpus text is never
    * re-read or re-shuffled; [[foldBatch]] then folds the admitted
    * batch's occurrences back into the table so the estimate tracks
    * the growing corpus. `numFeatures` must match the fit.
    *
    * Batch features the corpus never saw score the ct = cr = 0
    * smoothed ratio (never dropped); an EMPTY table fails loud
    * in-plan. Selection, determinism and the no-global-sort bounds
    * are exactly [[ImportanceResample]]'s ([[selectTopFraction]]).
    */
  final case class IncrementalResample(counts: DataFrame,
                                       fraction: Double,
                                       idColumn: String = "doc_id",
                                       textColumn: String = "text",
                                       numFeatures: Int = 4096,
                                       valueBuckets: Int = 256,
                                       accuracy: Int = 10000,
                                       salt: String = "graft",
                                       ngram: Int = 1)
      extends Wrangler {
    require(fraction > 0.0 && fraction <= 1.0,
      s"`fraction` must be in (0, 1], got $fraction")
    require(numFeatures >= 1 && numFeatures <= (1 << 20),
      "`numFeatures` must be in [1, 2^20] — the score table is " +
        s"broadcast, so it must stay driver-sized; got $numFeatures")
    require(valueBuckets >= 1, "`valueBuckets` must be >= 1")
    // `ngram` must match the fit, like the smaller-numFeatures
    // direction: both feature spaces are the same [0, numFeatures)
    // hash cells, so a mismatch used to be structurally undetectable —
    // the fit now records (numFeatures, ngram) in the table's column
    // metadata and transform() verifies them in data (tables built
    // before the metadata fall back to the prose contract)
    require(ngram == 1 || ngram == 2, s"`ngram` must be 1 or 2, got $ngram")
    // the count table is structural input, not a tunable (cf.
    // IncrementalExactDedup): keep getParams to the scalar knobs
    override def getParams: Seq[(String, Any)] = Seq(
      "fraction" -> fraction, "idColumn" -> idColumn,
      "textColumn" -> textColumn, "numFeatures" -> numFeatures,
      "valueBuckets" -> valueBuckets, "accuracy" -> accuracy,
      "salt" -> salt, "ngram" -> ngram)

    def transform(df: DataFrame): DataFrame = {
      SparkUtil.validateColumns(df, Seq(idColumn, textColumn))
      SparkUtil.validateColumns(counts,
        Seq("feature", "n_target", "n_raw"))
      SparkUtil.requireFitParam(counts, "feature", "numFeatures",
        numFeatures.toLong, "IncrementalResample")
      SparkUtil.requireFitParam(counts, "feature", "ngram", ngram.toLong,
        "IncrementalResample")
      requireNoReserved(df)
      val scored = scoreAgainst(df, counts, idColumn, textColumn,
        numFeatures, emptyModelError = Some(
          "IncrementalResample: empty feature-count table — fit " +
            "featureCounts on a non-empty corpus first"), ngram)
      val kept = selectTopFraction(scored, idColumn, fraction,
        valueBuckets, accuracy, salt, "IncrementalResample")
      val outCols = df.columns.map(col).toSeq :+ col("dsir_score")
      df.join(kept, Seq(idColumn)).select(outCols: _*)
    }
  }
}
