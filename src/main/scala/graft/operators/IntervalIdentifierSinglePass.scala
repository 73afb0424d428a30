package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.IntegerType

import graft.core.Wrangler
import graft.util.SparkUtil

/** Single-pass interval identification: the same cumsum algebra as
  * [[IntervalIdentifier]], executed as one sequential scan per group
  * instead of window functions.
  *
  * Physical shape: `repartition(groupby)` + `sortWithinPartitions(
  * groupby ++ orderby)` + `mapPartitions` run-detecting group boundaries —
  * ONE shuffle, like the window formulation, but one sort and one scan
  * where that runs 2-3 sorts and 2-4 Window passes. The trade-offs at
  * scale:
  *   - wins when the extra in-partition sorts dominate (large groups);
  *   - loses whole-stage codegen fusion with up/downstream expressions;
  *   - buffers one GROUP at a time on the heap (the window operator
  *     spills), so it assumes bounded per-entity event counts — the same
  *     assumption the reference documents for groupby keys
  *     (reference: src/pywrangler/wranglers.py:64-74).
  *
  * The per-group scan is a faithful sequential port of the window algebra
  * (preprocess duplicated markers -> bool cumsum -> validity ->
  * renumeration; reference:
  * src/pywrangler/pyspark/wranglers/interval_identifier.py:96-352), so
  * outputs are identical bit-for-bit to the window implementation,
  * including Raw/Valid numbering.
  */
class IntervalIdentifierSinglePass(
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

  override def preservesSampleSize: Boolean = true

  /** Primary-constructor-ordered params (get_params surface). */
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

  /** Null-safe typed marker equality; NaN is always noise (reference risk
    * note: NaN markers must behave like missing values, SURVEY.md §7.4/1).
    */
  private def isMarker(v: Any, marker: Any): Boolean = v match {
    case null => false
    case d: Double if d.isNaN => false
    case f: Float if f.isNaN => false
    case x => x == marker
  }

  /** Sequential cumsum algebra over one group's markers (in sort order). */
  private[operators] def assignGroup(markers: IndexedSeq[Any]): Array[Int] = {
    val n = markers.length
    val out = new Array[Int](n)
    // identical-marker semantics when the end marker is absent OR equals
    // the start marker, matching the window implementation
    // (reference: wranglers.py:118-120)
    markerEnd.filter(_ != markerStart) match {
      case None =>
        // identical markers: running count of starts (reference :354-373)
        var c = 0
        var i = 0
        while (i < n) {
          if (isMarker(markers(i), markerStart)) c += 1
          out(i) = c; i += 1
        }
        out
      case Some(end) =>
        val isS = new Array[Boolean](n)
        val isE = new Array[Boolean](n)
        var i = 0
        while (i < n) {
          isS(i) = isMarker(markers(i), markerStart)
          isE(i) = isMarker(markers(i), end)
          i += 1
        }
        // drop duplicated starts keep-first / ends keep-last via the
        // denoise+lag formulation (reference :96-178)
        if (markerStartUseFirst) {
          var lastMarker: Int = 0 // 0 none, 1 start, 2 end (ffill state)
          i = 0
          while (i < n) {
            val cur = if (isS(i)) 1 else if (isE(i)) 2 else 0
            if (cur == 1 && lastMarker == 1) isS(i) = false // duplicate start
            if (cur != 0) lastMarker = cur
            i += 1
          }
        }
        if (!markerEndUseFirst) {
          var nextMarker: Int = 0 // bfill state scanning backwards
          i = n - 1
          while (i >= 0) {
            val cur = if (isS(i)) 1 else if (isE(i)) 2 else 0
            if (cur == 2 && nextMarker == 2) isE(i) = false // duplicate end
            if (cur != 0) nextMarker = cur
            i -= 1
          }
        }
        // raw ids: cumsum(isStart + lag(isEnd, 1, default 1))
        val raw = new Array[Int](n)
        var acc = 0
        i = 0
        while (i < n) {
          val lagE = if (i == 0) 1 else (if (isE(i - 1)) 1 else 0)
          acc += (if (isS(i)) 1 else 0) + lagE
          raw(i) = acc
          i += 1
        }
        // validity: interval contains exactly one start + one end
        val markerCount = new java.util.HashMap[Int, Int]()
        i = 0
        while (i < n) {
          val m = (if (isS(i)) 1 else 0) + (if (isE(i)) 1 else 0)
          if (m > 0) markerCount.merge(raw(i), m, Integer.sum)
          i += 1
        }
        val valid = new Array[Int](n)
        i = 0
        while (i < n) {
          valid(i) = if (markerCount.getOrDefault(raw(i), 0) == 2) raw(i) else 0
          i += 1
        }
        resultType match {
          case ResultType.Raw => raw
          case ResultType.Valid => valid
          case ResultType.Enumerated =>
            // change-point cumsum renumeration (reference :317-352)
            var renum = 0
            var prev = 0
            i = 0
            while (i < n) {
              if (prev - valid(i) < 0) renum += 1
              out(i) = if (valid(i) != 0) renum else 0
              prev = valid(i)
              i += 1
            }
            out
        }
    }
  }

  def transform(df: DataFrame): DataFrame = {
    SparkUtil.validateColumns(df,
      Seq(markerColumn) ++ orderbyColumns ++ groupbyColumns)
    require(orderbyColumns.nonEmpty,
      "`orderby_columns` is mandatory: Spark dataframes have no row order.")

    val sortCols = groupbyColumns.map(col) ++
      SparkUtil.prepareOrderby(orderbyColumns, ascending)
    val partitioned =
      (if (groupbyColumns.nonEmpty)
        df.repartition(groupbyColumns.map(col): _*)
      else df.coalesce(1))
        .sortWithinPartitions(sortCols: _*)

    val schema = partitioned.schema
    val outSchema = schema.add(targetColumnName, IntegerType, nullable = false)
    // case-insensitive resolution, matching Spark's default resolver
    def fieldIdx(name: String): Int = {
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      require(i >= 0, s"Column `$name` does not exist")
      i
    }
    val gIdx = groupbyColumns.map(fieldIdx).toArray
    val mIdx = fieldIdx(markerColumn)

    partitioned.mapPartitions { rows =>
      new Iterator[Row] {
        private val it = rows.buffered
        private var group = ArrayBuffer.empty[Row]
        private var ids: Array[Int] = Array.empty
        private var pos = 0

        private def sameGroup(a: Row, b: Row): Boolean =
          gIdx.forall(i => a.get(i) == b.get(i) ||
            (a.isNullAt(i) && b.isNullAt(i)))

        private def loadNextGroup(): Unit = {
          group = ArrayBuffer.empty[Row]
          if (it.hasNext) {
            group += it.next()
            while (it.hasNext && sameGroup(group.head, it.head))
              group += it.next()
            ids = assignGroup(group.map(_.get(mIdx)).toIndexedSeq)
            pos = 0
          }
        }

        def hasNext: Boolean = pos < group.size || it.hasNext
        def next(): Row = {
          if (pos >= group.size) loadNextGroup()
          val r = Row.fromSeq(group(pos).toSeq :+ ids(pos))
          pos += 1
          r
        }
      }
    }(Encoders.row(outSchema))
  }
}
