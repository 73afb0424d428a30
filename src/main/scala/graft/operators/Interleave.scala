package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Wrangler
import graft.util.SparkUtil

/** Deterministic global-permutation machinery shared by
  * [[InterleaveShuffle]] (uniform shuffle) and [[CurriculumOrder]]
  * (phase-major curriculum ordering): assigns every row an exact,
  * reproducible 0-based `global_pos` under the lexicographic order
  * `(phase, shuffle_key, id)` without ever sorting the corpus in one
  * task, then round-robin interleaves the permutation across
  * `numShards` output shards.
  *
  * Scale shape: `global_pos` is [[BucketPrefix]]'s exact prefix count
  * over (phase, bucket) cells, where the bucket is the shuffle key's
  * leading 16 bits scaled into `[0, hashBuckets)` (uniform by
  * construction — md5 makes hot input keys impossible). Only (id,
  * phase, shuffle_key) triples enter the prefix; the full row joins
  * back by id at the end (AQE-splittable equi-join), so document text
  * never rides the cell shuffle. Beyond-reference surface; framework
  * contract per src/pywrangler/base.py:12-131.
  */
private[operators] object Interleave {
  private[operators] val outCols = Seq("shuffle_key", "global_pos",
    "shard", "pos_in_shard")

  /** The shared permutation core. `phase` is the major sort key (a
    * non-null long expression over the input row; `lit(0L)` for the
    * pure shuffle). The census holds at most `maxPhases x hashBuckets`
    * cells, and more than `maxPhases` distinct phases fail on the
    * driver before any offset is computed: a high-cardinality phase
    * would otherwise grow the census with the corpus.
    */
  private[operators] def permute(df: DataFrame, idColumn: String,
      phase: Column, phased: Boolean, numShards: Int, hashBuckets: Int,
      salt: String, maxPhases: Long, opName: String): DataFrame = {
    SparkUtil.validateColumns(df, Seq(idColumn))
    val out = if (phased) "phase" +: outCols else outCols
    require(!out.exists(_.equalsIgnoreCase(idColumn)),
      s"`$idColumn` collides with an output column")
    // fail-loudly: a null / non-long-castable id would silently drop the
    // row at the join-back (null keys never match); a null phase would
    // sort FIRST and silently shift every position
    val keyed = df.select(
        when(col(idColumn).isNull || col(idColumn).cast("long").isNull,
          raise_error(lit(s"$opName: `$idColumn` must be " +
            "non-null and castable to long")).cast("long"))
          .otherwise(col(idColumn).cast("long")).as("__k"),
        when(phase.isNull,
          raise_error(lit(s"$opName: the phase expression must be " +
            "non-null")).cast("long"))
          .otherwise(phase.cast("long")).as("__ph"))
      .withColumn("shuffle_key", Sampling.bucketHex(salt, col("__k")))
      // leading 4 hex chars = uniform 16-bit int, scaled into
      // [0, hashBuckets) by DIVISION — monotone, so bucket order agrees
      // with lexicographic shuffle_key order (a mod would interleave
      // buckets and break the global prefix sum)
      .withColumn("__rb",
        (conv(substring(col("shuffle_key"), 1, 4), 16, 10).cast("long") *
          hashBuckets / 65536L).cast("long"))
    val pos = BucketPrefix.exclusive(keyed, opName, classes = Nil,
        buckets = Seq("__ph", "__rb"),
        order = Seq(col("shuffle_key"), col("__k")), weight = None,
        out = "global_pos",
        maxCells = math.min(maxPhases, Int.MaxValue.toLong) * hashBuckets,
        check = cells => {
          val nPhases = cells.iterator.map(_.head).distinct.size
          require(nPhases <= maxPhases, s"$opName: $nPhases distinct " +
            s"phases (> maxPhases=$maxPhases) — bucket the phase " +
            "expression coarser or raise maxPhases explicitly")
        })
      .withColumn("shard", pmod(col("global_pos"), lit(numShards.toLong)))
      // integral `div`, not `/`: float division would lose exactness
      // past 2^53 positions
      .withColumn("pos_in_shard",
        expr(s"global_pos div ${numShards}L"))
      .select(col("__k"), col("__ph").as("phase"), col("shuffle_key"),
        col("global_pos"), col("shard"), col("pos_in_shard"))
    // re-attach the full row by id; output columns overwrite any
    // same-named input columns (round-8 convention)
    val narrow = if (phased) pos else pos.drop("phase")
    df.drop(out: _*)
      .join(narrow.withColumnRenamed("__k", "__join_k"),
        col(idColumn).cast("long") === col("__join_k"))
      .drop("__join_k")
  }
}

/** Deterministic training-order shuffle: assigns every row a
  * reproducible pseudo-random global position (`global_pos`, 0-based,
  * ordered by the md5 shuffle key) and round-robin interleaves the
  * permutation across `numShards` output shards (`shard`,
  * `pos_in_shard`) — the "shuffle the corpus before training, then
  * write N shard files whose concatenation-by-position replays the
  * permutation" step every large-scale training pipeline needs.
  * Reading shard s in `pos_in_shard` order visits positions
  * s, s+N, s+2N, ...: each shard is itself an unbiased sample of the
  * corpus in permutation order, so data-parallel readers get both
  * determinism and mixing without any coordination.
  *
  * Scale shape: see [[Interleave]] (the single-phase specialization of
  * the shared permutation core over [[BucketPrefix]]).
  */
final case class InterleaveShuffle(numShards: Int = 8,
                                   idColumn: String = "doc_id",
                                   hashBuckets: Int = 256,
                                   salt: String = "graft")
    extends Wrangler {
  require(numShards >= 1, "numShards must be >= 1")
  require(hashBuckets >= 1 && hashBuckets <= 65536,
    "hashBuckets must be in [1, 65536]")
  override def preservesSampleSize: Boolean = true

  def transform(df: DataFrame): DataFrame =
    Interleave.permute(df, idColumn, lit(0L), phased = false, numShards,
      hashBuckets, salt, maxPhases = 1L, opName = "InterleaveShuffle")
}

/** Curriculum training order: a deterministic global order that visits
  * phases (difficulty bands — sequence-length buckets, quality deciles,
  * noise tiers) in ascending `phaseColumn` order, uniformly shuffled
  * WITHIN each phase — the "short-to-long length curriculum" /
  * "clean-to-noisy quality curriculum" schedule of LLM pretraining, as
  * one exact reproducible permutation (`global_pos`) interleaved across
  * `numShards` shards exactly like [[InterleaveShuffle]].
  *
  * `phaseColumn` must be a non-null long-castable column (fail-loud);
  * its cardinality is capped by `maxPhases` (a curriculum has a handful
  * of bands; the cap bounds [[BucketPrefix]]'s driver census at
  * `maxPhases x hashBuckets` cells and fails loudly beyond it).
  * Row-preserving: every input column passes through plus `phase`,
  * `shuffle_key`, `global_pos`, `shard`, `pos_in_shard`; same-named
  * input columns are overwritten (round-8 convention).
  *
  * Scale shape: see [[Interleave]] — the same prefix count with
  * `(phase, shuffle_key, id)` as the global order, so the permutation
  * needs ONE narrow keyed shuffle regardless of corpus size, and a
  * phase's rows are never concentrated into one task (each phase still
  * spreads over `hashBuckets` cells).
  */
final case class CurriculumOrder(phaseColumn: String,
                                 numShards: Int = 8,
                                 idColumn: String = "doc_id",
                                 hashBuckets: Int = 256,
                                 salt: String = "graft",
                                 maxPhases: Long = 4096L)
    extends Wrangler {
  require(numShards >= 1, "numShards must be >= 1")
  require(hashBuckets >= 1 && hashBuckets <= 65536,
    "hashBuckets must be in [1, 65536]")
  require(maxPhases >= 1, "maxPhases must be >= 1")
  override def preservesSampleSize: Boolean = true

  def transform(df: DataFrame): DataFrame = {
    SparkUtil.validateColumns(df, Seq(phaseColumn))
    require(!Seq("shuffle_key", "global_pos", "shard", "pos_in_shard")
        .exists(_.equalsIgnoreCase(phaseColumn)),
      s"`$phaseColumn` collides with an output column")
    Interleave.permute(df, idColumn, col(phaseColumn), phased = true,
      numShards, hashBuckets, salt, maxPhases, opName = "CurriculumOrder")
  }
}
