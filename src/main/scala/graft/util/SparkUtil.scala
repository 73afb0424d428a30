package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** Utility helpers shared by pyspark-style wranglers
  * (reference: src/pywrangler/pyspark/util.py:38-102).
  */
object SparkUtil {

  /** Check that all `columns` exist in `df` (case-insensitive, matching
    * Spark's default resolver; reference: pyspark/util.py:38-57).
    */
  def validateColumns(df: DataFrame, columns: Seq[String]): Unit = {
    val existing = df.columns.map(_.toLowerCase).toSet
    columns.foreach { c =>
      if (!existing.contains(c.toLowerCase))
        throw new IllegalArgumentException(
          s"Column with name `$c` does not exist. Please check parameter settings.")
    }
  }

  /** The data type of `column`, resolved CASE-INSENSITIVELY like Spark's
    * own column resolution (and like [[validateColumns]]) — `df.schema(c)`
    * is case-sensitive and would crash on a differently-cased name that
    * `col(c)` resolves fine.
    */
  def fieldType(df: DataFrame, column: String)
      : org.apache.spark.sql.types.DataType =
    df.schema.fields.find(_.name.equalsIgnoreCase(column))
      .getOrElse(throw new IllegalArgumentException(
        s"Column with name `$column` does not exist. Please check " +
          "parameter settings."))
      .dataType

  /** Key prefix for fit parameters carried in column metadata. */
  private val FitKeyPrefix = "graft.fit."

  /** Make a persisted index self-describing: attach the FIT parameters
    * to `anchor`'s column metadata. Spark stores the full StructType —
    * metadata included — in the parquet footer
    * (`org.apache.spark.sql.parquet.row.metadata`) and restores it on
    * read, so the fit/probe contract travels WITH the table through
    * write → read round trips instead of living in prose. Existing
    * metadata keys outside the `graft.fit.` namespace are preserved.
    */
  def withFitParams(df: DataFrame, anchor: String,
                    params: Map[String, Long]): DataFrame = {
    val existing = df.schema.fields.find(_.name.equalsIgnoreCase(anchor))
      .map(_.metadata)
      .getOrElse(org.apache.spark.sql.types.Metadata.empty)
    val b = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(existing)
    params.toSeq.sortBy(_._1).foreach { case (k, v) =>
      b.putLong(FitKeyPrefix + k, v)
    }
    df.withColumn(anchor, col(anchor).as(anchor, b.build()))
  }

  /** [[withFitParams]] for STRING-valued fit parameters (a tokenizer
    * vocab's `continuationPrefix`, a boolean rendered canonically as
    * `"true"`/`"false"`) — same column-metadata carrier, same parquet
    * footer round trip.
    */
  def withFitParamsStr(df: DataFrame, anchor: String,
                       params: Map[String, String]): DataFrame = {
    val existing = df.schema.fields.find(_.name.equalsIgnoreCase(anchor))
      .map(_.metadata)
      .getOrElse(org.apache.spark.sql.types.Metadata.empty)
    val b = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(existing)
    params.toSeq.sortBy(_._1).foreach { case (k, v) =>
      b.putString(FitKeyPrefix + k, v)
    }
    df.withColumn(anchor, col(anchor).as(anchor, b.build()))
  }

  /** Read one fit parameter back from `anchor`'s column metadata; None
    * when absent (a hand-built or pre-metadata index — callers fall
    * back to the documented prose contract).
    */
  def fitParam(df: DataFrame, anchor: String, key: String): Option[Long] = {
    df.schema.fields.find(_.name.equalsIgnoreCase(anchor))
      .map(_.metadata)
      .filter(_.contains(FitKeyPrefix + key))
      .map(_.getLong(FitKeyPrefix + key))
  }

  /** Fail loud when a self-describing index's recorded fit parameter
    * disagrees with the caller's configured value — the silent
    * fit/probe config-drift directions (larger-nlist probes, smaller
    * numFeatures, shrunken k) become in-data errors. An index WITHOUT
    * the metadata passes: the prose contract still governs legacy
    * tables.
    */
  def requireFitParam(df: DataFrame, anchor: String, key: String,
                      configured: Long, who: String): Unit =
    fitParam(df, anchor, key).foreach { recorded =>
      require(recorded == configured,
        s"$who: the index records fit $key=$recorded but the caller " +
          s"configured $key=$configured — fit and probe/fold parameters " +
          "must match; re-fit the index or fix the caller's parameter")
    }

  /** [[fitParam]] for string-valued fit parameters. */
  def fitParamStr(df: DataFrame, anchor: String,
                  key: String): Option[String] = {
    df.schema.fields.find(_.name.equalsIgnoreCase(anchor))
      .map(_.metadata)
      .filter(_.contains(FitKeyPrefix + key))
      .map(_.getString(FitKeyPrefix + key))
  }

  /** [[requireFitParam]] for string-valued fit parameters — same
    * legacy-table semantics (absent metadata passes, the prose contract
    * governs).
    */
  def requireFitParamStr(df: DataFrame, anchor: String, key: String,
                         configured: String, who: String): Unit =
    fitParamStr(df, anchor, key).foreach { recorded =>
      require(recorded == configured,
        s"$who: the index records fit $key=$recorded but the caller " +
          s"configured $key=$configured — fit and probe/fold parameters " +
          "must match; re-fit the index or fix the caller's parameter")
    }

  /** Build sort-order Column list from names + per-column ascending flags.
    * `reverse = true` flips every direction (used by the last-start/last-end
    * fast path; reference: pyspark/util.py:60-102).
    */
  def prepareOrderby(orderbyColumns: Seq[String],
                     ascending: Seq[Boolean],
                     reverse: Boolean = false): Seq[Column] = {
    val asc =
      if (ascending.isEmpty) Seq.fill(orderbyColumns.size)(true) else ascending
    require(asc.size == orderbyColumns.size,
      "`orderby_columns` and `ascending` must have equal number of items.")
    orderbyColumns.zip(asc).map { case (name, a) =>
      if (a != reverse) col(name).asc else col(name).desc
    }
  }
}

/** Materializes intermediate Column expressions as real dataframe columns.
  *
  * Two reasons to do this: (a) window specs that partition by a computed
  * value need an actual column to reference; (b) very deep stacked window
  * expression trees stress the analyzer (see SPARK-30552). Reference:
  * src/pywrangler/pyspark/util.py:105-204.
  */
final class ColumnCacher(initial: DataFrame) {
  var df: DataFrame = initial
  /** logical name -> generated unique physical column name */
  val columns = scala.collection.mutable.LinkedHashMap.empty[String, String]

  /** Add `column` under a fresh unique name derived from `name`; returns a
    * reference to the materialized column.
    */
  def add(name: String, column: Column): Column = {
    var colName = s"${name}_${columns.size}"
    while (df.columns.contains(colName)) colName += "_"
    columns(name) = colName
    df = df.withColumn(colName, column)
    col(colName)
  }

  /** Attach the final result column and drop the intermediates. */
  def finish(name: String, column: Column): DataFrame =
    df.withColumn(name, column).drop(columns.values.toSeq: _*)
}
