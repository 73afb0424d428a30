package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, NumericType, StructField, StructType}

import graft.util.SparkUtil

/** Skew-immune interval identification: bit-identical semantics to
  * [[IntervalIdentifier]], executed as a salted two-phase window algebra
  * so that no single task ever processes a whole group.
  *
  * The generic window formulation partitions by the groupby keys, so one
  * giant entity (the documented 100x-scale risk, SURVEY §7.4/9) lands in
  * ONE task: a sequential sort + scan of potentially billions of rows.
  * This variant splits every group into `saltBuckets` contiguous chunks
  * by value range of the (numeric) first orderby column and decomposes
  * each sequential pass into:
  *
  *   1. chunk-local windows over (groupby, bucket) — bounded work per
  *      task regardless of group size;
  *   2. a per-chunk summary table (a few rows per group) where the
  *      cross-chunk carries resolve with windows over bucket order:
  *      duplicate-marker state in (`L_in` = last marker kind before the
  *      chunk, `R_in` = first marker kind after it — each can flip at
  *      most ONE boundary marker per chunk, because in-chunk markers see
  *      in-chunk state), the lagged end-marker bit feeding the first row,
  *      and the raw-id prefix offsets;
  *   3. validity as in-chunk per-segment window aggregates (segments
  *      are contiguous inside a chunk, so the segment window reuses the
  *      (groupby, bucket) clustering — zero new exchanges) plus a
  *      chunk-count-sized boundary-segment table broadcast back: only
  *      the <= 2 segments touching each chunk edge resolve cross-chunk;
  *   4. enumeration as a per-chunk prefix of valid ORIGIN segments
  *      (each segment originates exactly once, at its global start row)
  *      over the carry table's chunk list + an in-chunk running count
  *      on the same sort the segment window established.
  *
  * Cost: ONE balanced full-data shuffle per evaluation (the bucket
  * window; the summary pass and the row pass each evaluate it) plus
  * tiny summary/boundary shuffles, versus ONE shuffle for the plain
  * path — so keep the plain operator for well-distributed entities and
  * reach for this one when a group can exceed a single executor's sort
  * budget. (Until r18 validity shuffled the full data a third time by
  * (groupby, raw id) and enumeration checkpointed + sort-merge-joined a
  * per-valid-segment table; both now ride the chunk algebra.)
  * Chunk boundaries are value-range based, so bucket balance follows the
  * order-column distribution (ids/timestamps are near-uniform in
  * practice).
  *
  * Semantics are pinned by the golden corpus + oracle queries running
  * with the salt on (reference semantics:
  * src/pywrangler/pyspark/wranglers/interval_identifier.py:96-352).
  *
  * Contract deviations from the plain operator, both inherent to the
  * multi-pass formulation:
  *   - `transform` is EAGER (the tiny carry tables, and for Enumerated
  *     the clustered row frame, are localCheckpointed at call time) —
  *     compose it last, not inside plan-only pipelines;
  *   - the (groupby, orderby) key must uniquely order rows WITHIN each
  *     group. The plain path is also undefined on order ties (the
  *     window tie-break is arbitrary) but at least self-consistent; here
  *     the carry tables and the row side are evaluated independently,
  *     so a tie broken differently across evaluations could misplace a
  *     boundary-drop correction. Unique event ids / timestamps satisfy
  *     this.
  */
class IntervalIdentifierSalted(
    markerColumn: String,
    markerStart: Any,
    markerEnd: Option[Any] = None,
    markerStartUseFirst: Boolean = false,
    markerEndUseFirst: Boolean = true,
    orderbyColumns: Seq[String] = Nil,
    groupbyColumns: Seq[String] = Nil,
    ascending: Seq[Boolean] = Nil,
    resultType: ResultType = ResultType.Enumerated,
    targetColumnName: String = "iids",
    val saltBuckets: Int = 64,
    val maxChunkRows: Long = 1L << 22)
  extends IntervalIdentifier(markerColumn, markerStart, markerEnd,
    markerStartUseFirst, markerEndUseFirst, orderbyColumns, groupbyColumns,
    ascending, resultType, targetColumnName) {

  require(saltBuckets > 1, "saltBuckets must be > 1")
  require(maxChunkRows >= 1, "maxChunkRows must be >= 1")

  override def getParams: Seq[(String, Any)] = super.getParams ++
    Seq("saltBuckets" -> saltBuckets, "maxChunkRows" -> maxChunkRows)

  private val P = "__iis_"

  override def transform(df0: DataFrame): DataFrame = {
    validateInput(df0)
    val o1Field = df0.schema.find(_.name.equalsIgnoreCase(orderbyColumns.head))
    require(o1Field.exists(_.dataType.isInstanceOf[NumericType]),
      s"saltBuckets requires a numeric first orderby column; " +
        s"`${orderbyColumns.head}` is ${o1Field.map(_.dataType).orNull}")

    val originalCols = df0.columns.toSeq
    val g = groupbyColumns.map(col)
    val asc1 = ascending.headOption.getOrElse(true)

    // contiguous value-range chunks of the first orderby column; bounds
    // come from ONE bounded min/max collect (2 doubles — transform is
    // eager by contract anyway) and ride the bucket expression as
    // literals: the previous broadcast 1-row subplan was re-evaluated
    // inside EVERY pass over the rows (r18, one pruned scan saved per
    // evaluation plus the per-pass broadcast build jobs).
    // Bucket 0 is reserved for NULL order values (asc = nulls first; with
    // bucketSeq = -bucket under desc, 0 sorts last = desc nulls-last).
    val o1 = col(orderbyColumns.head).cast("double")
    val boundsRow = df0.agg(min(o1), max(o1), count(lit(1))).head()
    val mn = lit(if (boundsRow.isNullAt(0)) null else boundsRow.getDouble(0))
      .cast("double")
    val mx = lit(if (boundsRow.isNullAt(1)) null else boundsRow.getDouble(1))
      .cast("double")
    // scale-adaptive chunking: `saltBuckets` caps the split, the
    // EFFECTIVE bucket count derives from the input size so each chunk
    // targets <= `maxChunkRows` rows (order values near-uniform by the
    // operator's contract). A fixed count serves no scale twice over —
    // at bench scale 64 buckets over 100k rows degenerate to ~1-row
    // chunks whose bookkeeping dwarfs the data, and at 100 TB a larger
    // table simply saturates the cap. The count rides the same bounded
    // collect as the range bounds.
    val buckets = math.min(saltBuckets.toLong,
      math.max(2L, (boundsRow.getLong(2) + maxChunkRows - 1) /
        maxChunkRows)).toInt
    val bucket = when(o1.isNull || mn.isNull, lit(0))
      .when(mx === mn, lit(1))
      .otherwise(least(
        floor((o1 - mn) / ((mx - mn) / lit(buckets.toDouble)))
          .cast("int") + 1,
        lit(buckets)))
    val rows0 = df0
      .withColumn(P + "b", bucket)
      .withColumn(P + "bs",
        if (asc1) col(P + "b") else -col(P + "b"))

    val ord = SparkUtil.prepareOrderby(orderbyColumns, ascending)
    val wC = Window.partitionBy(g :+ col(P + "b"): _*).orderBy(ord: _*)
    val wCAll =
      wC.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wCRun = wC.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    def finish(withId: DataFrame, id: Column): DataFrame =
      withId.select(originalCols.map(col) :+ id.as(targetColumnName): _*)

    // The cross-chunk carry algebra runs ON THE DRIVER over the
    // collected per-chunk summary (r18): the carry table is the same
    // groups-x-buckets-row table the join-back broadcasts — so it is
    // driver-resident either way — and each per-group carry is a
    // sequential prefix scan, which as driver code costs zero Spark
    // jobs instead of a window-stage + checkpoint + per-consumer
    // re-evaluation cascade (measured: the lazy/checkpointed chunk
    // layer was 40+% of these queries' wall time at bench scale).
    val spark = df0.sparkSession
    val gN = groupbyColumns.size
    val gSchema = df0.select(g: _*).schema.fields.toSeq
    // join-ready local tables: group columns pre-renamed to the join
    // aliases and the chunk key to `jk`, so the broadcast hash join
    // consumes the LocalRelation DIRECTLY — any projection on top of a
    // chunk-count-sized LocalRelation gets constant-folded by the
    // optimizer through an interpreted row projection on the driver,
    // real per-query milliseconds at bench scale
    def localTable(rows: Seq[Row], extra: Seq[StructField]): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        StructType(gSchema.zipWithIndex.map { case (f, i) =>
          StructField(P + s"jg$i", f.dataType, f.nullable)
        } ++ (StructField(P + "jk", IntegerType) +: extra)))
    // null-safe broadcast equi-join on (groupby..., chunk): the local
    // table's value columns land under their own names
    def joinLocal(left: DataFrame, table: DataFrame): DataFrame = {
      val cond = groupbyColumns.zipWithIndex
        .map { case (n, i) => col(n) <=> col(P + s"jg$i") }
        .foldLeft(col(P + "b") === col(P + "jk"))(_ && _)
      left.join(broadcast(table), cond, "inner")
        .drop(groupbyColumns.indices.map(i => P + s"jg$i") :+ P + "jk": _*)
    }
    def groupedBySbs(rows: Array[Row], sbsIdx: Int): Iterator[Array[Row]] =
      rows.groupBy(r => (0 until gN).map(r.get(_)): Seq[Any]).valuesIterator
        .map(_.sortBy(_.getInt(sbsIdx)))

    if (identicalStartEndMarkers) {
      // running count of starts; the only carry is the additive prefix,
      // accumulated on the driver from one bounded summary collect.
      val isS0 = (col(markerColumn) <=> lit(markerStart)).cast("int")
      val rows1 = rows0.withColumn(P + "rawl", sum(isS0).over(wCRun))
      val summRows = rows1.groupBy(g :+ col(P + "b"): _*).agg(
        max(col(P + "bs")).as(P + "sbs"),
        max(col(P + "rawl")).as(P + "sdelta")).collect()
      val offRows = groupedBySbs(summRows, gN + 1).flatMap { chunks =>
        var acc = 0L
        chunks.map { r =>
          val roff = acc
          acc += r.getLong(gN + 2)
          Row.fromSeq((0 until gN).map(r.get) ++
            Seq[Any](r.getInt(gN), roff))
        }
      }.toSeq
      val offs = localTable(offRows,
        Seq(StructField(P + "roff", LongType)))
      val joined = joinLocal(rows1, offs)
      return finish(joined, col(P + "rawl") + col(P + "roff"))
    }

    val endV = markerEnd.get
    val isS0 = col(markerColumn) <=> lit(markerStart)
    val isE0 = col(markerColumn) <=> lit(endV)
    // pre-drop marker kind; the duplicate-drop STATE always evolves on
    // pre-drop markers (matching the window formulation, which computes
    // ffill/bfill denoise on the ORIGINAL marker column), so in-chunk
    // drop decisions are final except for one boundary marker per side
    val kind = when(isS0, lit(1)).when(isE0, lit(2))
      .otherwise(lit(null).cast("int"))

    // "next marker kind" must NOT use a (1, unboundedFollowing) frame:
    // Spark re-evaluates unbounded-FOLLOWING aggregate frames per row —
    // O(rows²) per partition (measured 226 s on a 2M-row group). The
    // running frame over the REVERSED window order computes the same
    // value in O(rows) with one extra in-partition sort, no shuffle.
    val wCRev = Window.partitionBy(g :+ col(P + "b"): _*)
      .orderBy(SparkUtil.prepareOrderby(orderbyColumns, ascending,
        reverse = true): _*)
    // the duplicate-drop machinery (prev/next marker scans, first/last
    // marker positions, boundary-drop carries) exists per SIDE only when
    // that side's config drops markers; the default last-start/first-end
    // config statically compiles to the plain increment algebra
    val needDropS = markerStartUseFirst
    val needDropE = !markerEndUseFirst
    // the reversed-order scan comes FIRST so the plan needs exactly one
    // reverse sort followed by one forward sort per partition — placed
    // between forward windows it would force a third in-partition sort
    val rows1 = rows0
      .withColumn(P + "kind", kind)
      .withColumn(P + "isEl",
        if (needDropE)
          isE0 && !coalesce(
            last(col(P + "kind"), ignoreNulls = true)
              .over(wCRev.rowsBetween(Window.unboundedPreceding, -1)) === 2,
            lit(false))
        else isE0)
      .withColumn(P + "pos", row_number().over(wC))
      .withColumn(P + "isSl",
        if (needDropS)
          isS0 && !coalesce(
            last(col(P + "kind"), ignoreNulls = true)
              .over(wC.rowsBetween(Window.unboundedPreceding, -1)) === 1,
            lit(false))
        else isS0)
      // local raw prefix, assuming no carry-in lagged end (fixed later)
      .withColumn(P + "incl", col(P + "isSl").cast("int") +
        lag(col(P + "isEl").cast("int"), 1, 0).over(wC))
      .withColumn(P + "rawl", sum(col(P + "incl")).over(wCRun))
      // chunk-constant fields for the summary; the marker-position /
      // marker-kind fields only exist when a boundary drop can happen
      .withColumn(P + "fk",
        if (needDropS || needDropE)
          first(col(P + "kind"), ignoreNulls = true).over(wCAll)
        else lit(null).cast("int"))
      .withColumn(P + "lk",
        if (needDropS || needDropE)
          last(col(P + "kind"), ignoreNulls = true).over(wCAll)
        else lit(null).cast("int"))
      .withColumn(P + "fmp",
        if (needDropS)
          min(when(col(P + "kind").isNotNull, col(P + "pos"))).over(wCAll)
        else lit(null).cast("int"))
      .withColumn(P + "lmp",
        if (needDropE)
          max(when(col(P + "kind").isNotNull, col(P + "pos"))).over(wCAll)
        else lit(null).cast("int"))
      .withColumn(P + "lastE",
        last(col(P + "isEl").cast("int")).over(wCAll))
      // local raw id of the chunk's FIRST row (0 or 1): with the lag-in
      // bit it decides whether the chunk's first segment CONTINUES the
      // previous chunk's last segment (r18 validity/enumeration algebra)
      .withColumn(P + "fr", first(col(P + "rawl")).over(wCAll))
    // NOT materialized: each consumer (the summary aggregation, the
    // row-side join) re-evaluates this pipeline with column pruning, so
    // only the expressions it needs run. Only the TINY carry tables and
    // (for Enumerated) the final clustered frame are checkpointed —
    // materializing this wide frame measured slower at every probed
    // scale than one extra pruned window pass.

    // one summary row per (group, chunk); all fields chunk-constant
    val summRows = rows1.groupBy(g :+ col(P + "b"): _*).agg(
      max(col(P + "bs")).as(P + "sbs"),
      max(col(P + "fk")).as(P + "sfk"),
      max(col(P + "lk")).as(P + "slk"),
      max(col(P + "fmp")).as(P + "sfmp"),
      max(col(P + "lmp")).as(P + "slmp"),
      max(col(P + "pos")).as(P + "slast"),
      max(col(P + "rawl")).as(P + "sdeltab"),
      max(col(P + "lastE")).as(P + "slastE"),
      max(col(P + "fr")).as(P + "sfr")).collect()

    // cross-chunk carries, resolved as a per-group prefix scan on the
    // driver (one bounded collect — the same rows the join-back below
    // broadcasts anyway):
    //   L_in  = kind of the last marker in any earlier chunk
    //   R_in  = kind of the first marker in any later chunk
    //   dropF = this chunk's FIRST marker is a start preceded (cross-
    //           chunk) by a start -> drop it (markerStartUseFirst)
    //   dropL = this chunk's LAST marker is an end followed (cross-chunk)
    //           by an end -> drop it (!markerEndUseFirst)
    //   lagEout = final end-bit of the chunk's last row (feeds the next
    //           chunk's first increment); group-first chunks default to 1
    //   sdelta  = the chunk's total raw increment after corrections
    //   blo/bhi = analytic chunk bounds: the global raw ids of the
    //           chunk's first row (drop-corrected local first raw +
    //           lag-in bit + offset) and last row (offset + delta)
    //   contin  = the chunk's first row extends the previous chunk's
    //           last segment (its global raw equals the previous
    //           chunk's last, = roff)
    // `chunkMeta` keeps (sbs, contin, blo, bhi) per (group, chunk) for
    // the validity/enumeration layer below.
    val iB = gN; val iSbs = gN + 1; val iSfk = gN + 2; val iSlk = gN + 3
    val iSfmp = gN + 4; val iSlmp = gN + 5; val iSlast = gN + 6
    val iSdeltab = gN + 7; val iSlastE = gN + 8; val iSfr = gN + 9
    def optInt(r: Row, i: Int): Option[Int] =
      if (r.isNullAt(i)) None else Some(r.getInt(i))
    val chunkMeta =
      mutable.HashMap.empty[(Seq[Any], Int), (Int, Boolean, Long, Long)]
    val carrRows = groupedBySbs(summRows, iSbs).flatMap { chunks =>
      val n = chunks.length
      val rin = new Array[Option[Int]](n)
      var cur: Option[Int] = None
      var i = n - 1
      while (i >= 0) {
        rin(i) = cur
        cur = optInt(chunks(i), iSfk).orElse(cur)
        i -= 1
      }
      var lin: Option[Int] = None
      var prevLagEout = true // group-first chunk: lag default 1
      var acc = 0L
      chunks.zipWithIndex.map { case (r, j) =>
        val gVals = (0 until gN).map(r.get)
        val slmp = optInt(r, iSlmp)
        val slast = r.getInt(iSlast)
        val dropF = needDropS && optInt(r, iSfk).contains(1) &&
          lin.contains(1)
        val dropL = needDropE && optInt(r, iSlk).contains(2) &&
          rin(j).contains(2)
        val lagEout = r.getInt(iSlastE) == 1 &&
          !(dropL && slmp.contains(slast))
        val lagEin = if (prevLagEout) 1 else 0
        val sdelta = r.getLong(iSdeltab) + lagEin -
          (if (dropF) 1 else 0) -
          (if (dropL && slmp.exists(_ < slast)) 1 else 0)
        val roff = acc
        acc += sdelta
        val blo = r.getLong(iSfr) -
          (if (dropF && optInt(r, iSfmp).contains(1)) 1 else 0) +
          lagEin + roff
        val bhi = roff + sdelta
        lin = optInt(r, iSlk).orElse(lin)
        prevLagEout = lagEout
        chunkMeta((gVals, r.getInt(iB))) =
          (r.getInt(iSbs), blo == roff, blo, bhi)
        Row.fromSeq(gVals ++ Seq[Any](r.getInt(iB), dropF, dropL, lagEin, roff,
          blo == roff, blo, bhi))
      }
    }.toSeq
    val carr = localTable(carrRows, Seq(
      StructField(P + "dropF", BooleanType),
      StructField(P + "dropL", BooleanType),
      StructField(P + "lagEin", IntegerType),
      StructField(P + "roff", LongType),
      StructField(P + "contin", BooleanType),
      StructField(P + "blo", LongType), StructField(P + "bhi", LongType)))

    // resolve final flags and raw ids per row: a dropped boundary marker
    // shifts the raw ids of every row at/after its increment position
    val rows2 = joinLocal(rows1, carr)
      .withColumn(P + "isS", col(P + "isSl") &&
        !(col(P + "dropF") && col(P + "pos") === col(P + "fmp")))
      .withColumn(P + "isE", col(P + "isEl") &&
        !(col(P + "dropL") && col(P + "pos") === col(P + "lmp")))
      .withColumn(P + "raw",
        col(P + "rawl") + col(P + "lagEin") + col(P + "roff")
          - (col(P + "dropF") && col(P + "pos") >= col(P + "fmp"))
            .cast("int")
          - (col(P + "dropL") && col(P + "pos") > col(P + "lmp"))
            .cast("int"))

    if (resultType == ResultType.Raw) return finish(rows2, col(P + "raw"))

    // validity WITHOUT a full-data (group, raw) shuffle (r18): an
    // interval is valid iff it contains exactly one kept start + one
    // kept end, and a final segment holds AT MOST one of each (a kept
    // start increments its own row, a kept end increments the next, so
    // each begins / closes its segment) — validity ≡ max(isS) AND
    // max(isE) over the segment. Segments are contiguous in (group,
    // chunk) order, so the per-segment max aggregates INSIDE the
    // existing (group, bucket) clustering: the segment window below
    // needs one in-partition sort and zero exchanges. Only segments
    // touching a chunk boundary (the chunk's first or last raw id —
    // <= 2 per chunk, and a whole-chunk-spanning segment is both)
    // resolve cross-chunk — on the CHUNK layer, never per row: one
    // bounded per-chunk aggregation feeds boundary validity, origin
    // counts and the per-chunk enumeration bases, and ONE chunk-keyed
    // broadcast join carries everything back to the rows. The previous
    // formulation shuffled the full data a third time by (group, raw),
    // checkpointed the clustered frame AND a per-valid-segment table,
    // and sort-merge-joined the enumeration back; all three are gone.
    val wSeg = Window.partitionBy(g ++ Seq(col(P + "b"), col(P + "raw")): _*)
      .orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wRun = Window.partitionBy(g :+ col(P + "b"): _*)
      .orderBy(col(P + "raw").asc +: ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prevRaw = lag(col(P + "raw"), 1).over(wC)
    val rows2f = rows2
      // global segment start: first row of the segment within the chunk
      // AND not the continuation of the previous chunk's last segment
      .withColumn(P + "sgs",
        when(prevRaw.isNull, !col(P + "contin"))
          .otherwise(prevRaw =!= col(P + "raw")))
      // first/last segment of the chunk, from the carry table's
      // analytic bounds
      .withColumn(P + "lo", col(P + "raw") === col(P + "blo"))
      .withColumn(P + "hi", col(P + "raw") === col(P + "bhi"))
      // in-chunk per-segment kept-marker flags; the ordered whole-frame
      // spec sorts by (group, bucket, raw, orderby) — the running count
      // below reuses exactly this sort
      .withColumn(P + "vS", max(col(P + "isS").cast("int")).over(wSeg))
      .withColumn(P + "vE", max(col(P + "isE").cast("int")).over(wSeg))
      // running count of valid NON-boundary origin segments up to this
      // row: fully chunk-decidable, so it runs BEFORE the cut and the
      // post-cut side needs no window at all (the cut's scan loses the
      // hash clustering under AQE — UnknownPartitioning — so any
      // post-cut window or keyed aggregation would re-shuffle the data)
      .withColumn(P + "run",
        sum(when(col(P + "sgs") && !col(P + "lo") && !col(P + "hi") &&
          col(P + "vS") === 1 && col(P + "vE") === 1, 1L).otherwise(0L))
          .over(wRun))
      .select((originalCols ++ Seq(P + "b", P + "raw", P + "isS",
        P + "isE", P + "lo", P + "hi", P + "vS", P + "vE", P + "run"))
        .map(col): _*)
      // ONE materialization for the whole validity/enumeration layer:
      // the chunk aggregation and the final row side read these rows
      .localCheckpoint()

    // the whole cross-chunk layer from ONE bounded aggregation (one row
    // per chunk) resolved on the driver: the non-boundary valid-origin
    // total and the LOCAL kept-flag maxima of the chunk's first/last
    // segments. Boundary segments' global validity ORs those per
    // (group, raw) — a segment spanning chunks appears as one lo/hi
    // entry per chunk it touches — then per-chunk enumeration bases are
    // a prefix scan over the chunk list (chunks with zero origins
    // included), and ONE chunk-keyed broadcast join carries everything
    // back to the rows.
    val chunkRows = rows2f.groupBy(g :+ col(P + "b"): _*)
      .agg(max(col(P + "run")).as(P + "cnt"),
        max(when(col(P + "lo"), col(P + "isS").cast("int"))).as(P + "flS"),
        max(when(col(P + "lo"), col(P + "isE").cast("int"))).as(P + "flE"),
        max(when(col(P + "hi"), col(P + "isS").cast("int"))).as(P + "hlS"),
        max(when(col(P + "hi"), col(P + "isE").cast("int"))).as(P + "hlE"))
      .collect()
    // global per-boundary-segment (kept-start, kept-end) flags
    val bnd = mutable.HashMap.empty[(Seq[Any], Long), (Boolean, Boolean)]
    chunkRows.foreach { r =>
      val gVals = (0 until gN).map(r.get)
      val (_, _, blo, bhi) = chunkMeta((gVals, r.getInt(gN)))
      def merge(raw: Long, s: Boolean, e: Boolean): Unit = {
        val (s0, e0) = bnd.getOrElse((gVals, raw), (false, false))
        bnd((gVals, raw)) = (s0 || s, e0 || e)
      }
      // a chunk's first and last rows carry raw ids blo and bhi by
      // construction, so both flag pairs exist; a null one means the
      // carry algebra and the rows disagree — fail loudly instead of
      // reading it as an unkept marker
      def kept(i: Int, raw: Long): Boolean = {
        require(!r.isNullAt(i),
          s"IntervalIdentifierSalted: no row with raw id $raw in chunk " +
            s"${r.getInt(gN)} of group ${gVals.mkString("(", ", ", ")")}")
        r.getInt(i) == 1
      }
      merge(blo, kept(gN + 2, blo), kept(gN + 3, blo))
      if (bhi != blo) merge(bhi, kept(gN + 4, bhi), kept(gN + 5, bhi))
    }
    // per-chunk prefix of valid ORIGIN segments: each segment
    // originates exactly once (at its global start row), so a chunk's
    // valid-origin total = its non-boundary running-count maximum + the
    // first segment when it starts here (not a continuation) and is
    // valid + the last segment when distinct from the first and valid
    val baseRows = chunkRows
      .groupBy(r => (0 until gN).map(r.get(_)): Seq[Any]).valuesIterator
      .flatMap { chunks =>
        var acc = 0L
        chunks
          .map(r => (r, chunkMeta(((0 until gN).map(r.get), r.getInt(gN)))))
          .sortBy(_._2._1)
          .map { case (r, (_, contin, blo, bhi)) =>
            val gVals = (0 until gN).map(r.get)
            def ok(raw: Long): Boolean = {
              val (s, e) = bnd((gVals, raw)); s && e
            }
            val fval = ok(blo)
            val lval = ok(bhi)
            val fvo = !contin && fval
            val lvo = bhi != blo && lval
            val base = acc
            acc += r.getLong(gN + 1) + (if (fvo) 1L else 0L) +
              (if (lvo) 1L else 0L)
            Row.fromSeq(gVals ++ Seq[Any](r.getInt(gN), base, fvo, lvo, fval,
              lval))
          }
      }.toSeq
    val baseTbl = localTable(baseRows, Seq(
      StructField(P + "base", LongType),
      StructField(P + "fvo", BooleanType), StructField(P + "lvo", BooleanType),
      StructField(P + "fval", BooleanType),
      StructField(P + "lval", BooleanType)))
    val rows3 = joinLocal(rows2f, baseTbl)
    // a row's validity reads its segment's resolution off the chunk
    // row: first/last segments from the cross-chunk flags, interior
    // segments from their in-chunk window maxima
    val viCol: Column =
      when(col(P + "lo"), col(P + "fval"))
        .when(col(P + "hi"), col(P + "lval"))
        .otherwise(col(P + "vS") === 1 && col(P + "vE") === 1)

    if (resultType == ResultType.Valid)
      return finish(rows3, when(viCol, col(P + "raw")).otherwise(lit(0L)))

    // rank = chunk base + in-chunk running count + the boundary
    // contributions at/under this row's position
    val enumC =
      when(viCol,
        col(P + "base") + col(P + "run") + col(P + "fvo").cast("long") +
          when(col(P + "hi") && col(P + "lvo"), 1L).otherwise(0L))
        .otherwise(lit(0L))
    finish(rows3, enumC)
  }
}
