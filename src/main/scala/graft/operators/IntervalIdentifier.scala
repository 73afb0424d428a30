package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.core.Wrangler
import graft.util.{ColumnCacher, SparkUtil}

/** Result shape of the interval identifier
  * (reference: src/pywrangler/wranglers.py:75-83).
  */
sealed trait ResultType
object ResultType {
  /** Increasing ids for all intervals, valid or not (up to relabeling). */
  case object Raw extends ResultType
  /** Like Raw but invalid intervals (missing start or end) are set to 0. */
  case object Valid extends ResultType
  /** Valid intervals renumbered 1..n in sort order; invalid rows are 0. */
  case object Enumerated extends ResultType

  def fromString(s: String): ResultType = s.toLowerCase match {
    case "raw"        => Raw
    case "valid"      => Valid
    case "enumerated" => Enumerated
    case other => throw new IllegalArgumentException(
      s"Parameter `resultType` is invalid with: $other. " +
        "Allowed arguments are: raw, valid, enumerated")
  }
}

/** Interval identification over ordered, grouped event sequences.
  *
  * An interval is a run of rows beginning with a start marker and ending
  * with an end marker (both inclusive); all rows of the same interval get
  * the same id, non-interval rows get 0. Messy data may repeat markers, so
  * four span selections exist via `markerStartUseFirst`/`markerEndUseFirst`
  * (reference interface: src/pywrangler/wranglers.py:14-141).
  *
  * This is the generic window-function algorithm ("VectorizedCumSum",
  * reference: src/pywrangler/pyspark/wranglers/interval_identifier.py:14-462),
  * rebuilt as a few DIRECTIONAL PASSES over one `partitionBy(groupby)`
  * spec. Write `prev(m)` / `next(m)` for the nearest start/end marker
  * strictly before / after a row (`last` non-null over the rows
  * `(unboundedPreceding, -1)` of the forward / reversed window):
  *   1. preprocessing (first-start and/or last-end selections): one
  *      row-local expression nulls a start whose `prev(m)` is a start and
  *      an end whose `next(m)` is an end — both neighbours read the
  *      ORIGINAL column, so the two drops commute; call the result `m'`;
  *   2. raw ids = 1 + starts up to and including the row + ends strictly
  *      before it (one running sum of `isStart + isEnd`, minus the row's
  *      own `isEnd`) — term for term the reference's running sum of
  *      `isStart + lag(isEnd, 1, default 1)`, so raw (and valid) ids are
  *      exactly the reference's, not merely equal up to relabelling;
  *   3. a start only ever opens a raw interval and an end only ever
  *      closes one, so an interval is valid iff its first row is a start
  *      and its last row an end. Every row reads both facts from its
  *      neighbours: `firstIsStart = m' == start || prev(m') == start`
  *      (forward) and `lastIsEnd = m' == end || next(m') == end`
  *      (ONE reversed pass). Valid ids are raw ids where both hold,
  *      else 0;
  *   4. enumerated ids = running count of starts opening a valid
  *      interval (`isStart && lastIsEnd`) on valid rows, else 0.
  *
  * Every step is a native Catalyst window expression — no UDFs. Window
  * expressions sharing one spec, whatever their frames, evaluate in ONE
  * `Window` node, so the plan is a handful of nodes behind ONE shuffle
  * (pinned by PlanShapeSpec): last-start/first-end is a reversed then a
  * forward node (2 Window nodes, 2 sorts); the first-start and last-end
  * selections each add one preprocessing node (3), the first-start/
  * last-end selection two (4). Fewer nodes is fewer generated classes: a
  * query whose distinct classes outgrow Spark's codegen cache (100
  * entries) recompiles them on every execution.
  *
  * No frame ever reaches unbounded FOLLOWING: Spark re-evaluates such
  * aggregate frames from scratch at every row — O(rows²) per partition,
  * ruinous on a large group — while a running frame over the reversed
  * window is O(rows) plus one in-partition sort.
  *
  * Precondition: the orderby columns order rows UNIQUELY within a group.
  * The reversed passes must see the exact mirror of the forward order;
  * on order ties the two sorts may break a tie differently and the
  * neighbour markers no longer line up (ids are then undefined, as the
  * tie order itself is).
  *
  * @param markerColumn   name of the column holding start/end markers
  * @param markerStart    value marking an interval start
  * @param markerEnd      value marking an interval end; None means identical
  *                       start/end semantics (every start closes + opens)
  * @param markerStartUseFirst use first (true) or last (false) of repeated
  *                       start markers; default false (last)
  * @param markerEndUseFirst   use first (true) or last (false) of repeated
  *                       end markers; default true (first)
  * @param orderbyColumns order within a group — mandatory, Spark dataframes
  *                       have no implicit row order; must be unique
  *                       within a group
  * @param groupbyColumns entity partition keys (ideally partition-aligned
  *                       at scale to reduce shuffle skew)
  * @param ascending      per-orderby-column sort direction, default all true
  * @param resultType     Raw | Valid | Enumerated
  * @param targetColumnName name of the appended id column
  */
class IntervalIdentifier(
    val markerColumn: String,
    val markerStart: Any,
    val markerEnd: Option[Any] = None,
    val markerStartUseFirst: Boolean = false,
    val markerEndUseFirst: Boolean = true,
    val orderbyColumns: Seq[String] = Nil,
    val groupbyColumns: Seq[String] = Nil,
    val ascending: Seq[Boolean] = Nil,
    val resultType: ResultType = ResultType.Enumerated,
    val targetColumnName: String = "iids") extends Wrangler {

  require(orderbyColumns.nonEmpty,
    "Please define an order column. Spark dataframes have no implicit " +
      "order unlike pandas dataframes.")
  if (ascending.nonEmpty)
    require(ascending.size == orderbyColumns.size,
      "`orderbyColumns` and `ascending` must have equal number of items.")

  /** Identical start/end semantics: no explicit end marker, or equal ones
    * (reference: wranglers.py:118-120).
    */
  val identicalStartEndMarkers: Boolean =
    markerEnd.isEmpty || markerEnd.contains(markerStart)

  protected def markerEndValue: Any = markerEnd.getOrElse(markerStart)

  override def preservesSampleSize: Boolean = true

  /** Primary-constructor-ordered params (get_params surface; reference:
    * base.py:56-103). Inherited by [[IntervalIdentifierAdjusted]], whose
    * constructor mirrors this one.
    */
  override def getParams: Seq[(String, Any)] = Seq(
    "markerColumn" -> markerColumn,
    "markerStart" -> markerStart,
    "markerEnd" -> markerEnd,
    "markerStartUseFirst" -> markerStartUseFirst,
    "markerEndUseFirst" -> markerEndUseFirst,
    "orderbyColumns" -> orderbyColumns,
    "groupbyColumns" -> groupbyColumns,
    "ascending" -> ascending,
    "resultType" -> resultType,
    "targetColumnName" -> targetColumnName)

  // ---------------------------------------------------------------- windows

  /** The keys every pass partitions by: the groupby columns here, the
    * (groupby, chunk) keys in [[IntervalIdentifierSalted]].
    */
  protected def windowPartition: Seq[Column] = groupbyColumns.map(col)

  /** Main window: partition by [[windowPartition]], order by orderby
    * (optionally with every direction flipped). One fresh-but-
    * structurally-equal WindowSpec per call keeps same-spec expressions in
    * one Window node.
    */
  protected def windowGroupby(reverse: Boolean = false): WindowSpec =
    Window
      .partitionBy(windowPartition: _*)
      .orderBy(SparkUtil.prepareOrderby(orderbyColumns, ascending, reverse): _*)

  /** Running-total frame. The reference relies on the default RANGE frame of
    * an ordered window; we pin ROWS explicitly so duplicate order keys can
    * never silently switch semantics (SURVEY §7.4.2).
    */
  protected def running(w: WindowSpec): WindowSpec =
    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

  // ------------------------------------------------------------- id algebra

  /** Marker as 0/1 integer, null-safe (NULL and non-matching NaN are noise;
    * reference: interval_identifier.py:58-69).
    */
  protected def boolifyMarker(marker: Column, start: Boolean): Column = {
    val v = if (start) markerStart else markerEndValue
    (marker <=> lit(v)).cast("integer")
  }

  /** The nearest start or end marker strictly before the row in window
    * order — strictly AFTER it over the reversed window — or null when
    * there is none (noise and NULL markers are skipped).
    */
  protected def strictNeighbour(marker: Column, reverse: Boolean): Column =
    last(when(marker.isin(markerStart, markerEndValue), marker),
      ignoreNulls = true)
      .over(windowGroupby(reverse).rowsBetween(Window.unboundedPreceding, -1))

  /** Nullify repeated start markers (keeping the first) and/or repeated
    * end markers (keeping the last) so the core last-start/first-end
    * algebra yields the requested span (reference: :132-244). A start is
    * a repeat when its previous marker is a start, an end when its next
    * marker is an end, both read off the ORIGINAL column. The forward
    * neighbour is materialized below the reversed one, so the plan runs
    * forward → reversed and the core algebra's reversed pass follows
    * without another sort.
    */
  protected def preprocessMarkerColumn(cc: ColumnCacher): Column = {
    val m = col(markerColumn)
    def repeated(value: Any, reverse: Boolean, name: String): Column =
      m <=> lit(value) &&
        cc.add(name, strictNeighbour(m, reverse)) <=> lit(value)
    val dropStart =
      if (markerStartUseFirst) repeated(markerStart, reverse = false,
        "prev_marker")
      else lit(false)
    val dropEnd =
      if (!markerEndUseFirst) repeated(markerEndValue, reverse = true,
        "next_marker")
      else lit(false)
    cc.add("marker_pre", when(dropStart || dropEnd, lit(null)).otherwise(m))
  }

  /** Identical start/end markers: id = running count of start markers; rows
    * before the first marker get 0; every interval is valid by construction
    * so all result types coincide (reference: :354-373).
    */
  protected def generateIidsIdentical(marker: Column): Column =
    sum(boolifyMarker(marker, start = true)).over(running(windowGroupby()))

  protected def validateInput(df: DataFrame): Unit = {
    SparkUtil.validateColumns(df, Seq(markerColumn))
    SparkUtil.validateColumns(df, orderbyColumns)
    SparkUtil.validateColumns(df, groupbyColumns)
  }

  /** Append the interval-id column; all other columns pass through
    * unchanged and row count is preserved (reference: :427-462).
    */
  def transform(df: DataFrame): DataFrame = {
    validateInput(df)
    if (identicalStartEndMarkers)
      return df.withColumn(targetColumnName,
        generateIidsIdentical(col(markerColumn)))

    val cc = new ColumnCacher(df)
    val marker =
      if (markerStartUseFirst || !markerEndUseFirst) preprocessMarkerColumn(cc)
      else col(markerColumn)
    val isStart = boolifyMarker(marker, start = true)
    val isEnd = boolifyMarker(marker, start = false)
    val w = running(windowGroupby())
    // 1 + starts through the row + ends before it: the reference's
    // running sum of isStart + lag(isEnd, 1, default 1), term for term
    val rawIids = sum(isStart + isEnd).over(w) - isEnd + 1
    if (resultType == ResultType.Raw)
      return cc.finish(targetColumnName, rawIids)

    // the reversed pass is materialized first; every forward expression
    // below then shares one Window node over the forward sort
    val start = lit(markerStart)
    val end = lit(markerEndValue)
    val lastIsEnd = cc.add("last_is_end",
      marker <=> end || strictNeighbour(marker, reverse = true) <=> end)
    val firstIsStart =
      marker <=> start || strictNeighbour(marker, reverse = false) <=> start
    val ids =
      if (resultType == ResultType.Valid) rawIids
      else sum((isStart === 1 && lastIsEnd).cast("integer")).over(w)
    cc.finish(targetColumnName,
      when(firstIsStart && lastIsEnd, ids).otherwise(0))
  }
}

/** pywrangler's `VectorizedCumSumAdjusted` (reference:
  * src/pywrangler/pyspark/wranglers/interval_identifier.py:465-623),
  * kept as a name for parity. The generic plans for its first-start/
  * first-end and last-start/last-end selections (3 Window nodes each)
  * are already shorter than pywrangler's dedicated ones, so every
  * configuration runs the generic transform.
  */
class IntervalIdentifierAdjusted(
    markerColumn: String,
    markerStart: Any,
    markerEnd: Option[Any] = None,
    markerStartUseFirst: Boolean = false,
    markerEndUseFirst: Boolean = true,
    orderbyColumns: Seq[String] = Nil,
    groupbyColumns: Seq[String] = Nil,
    ascending: Seq[Boolean] = Nil,
    resultType: ResultType = ResultType.Enumerated,
    targetColumnName: String = "iids")
  extends IntervalIdentifier(markerColumn, markerStart, markerEnd,
    markerStartUseFirst, markerEndUseFirst, orderbyColumns, groupbyColumns,
    ascending, resultType, targetColumnName)
