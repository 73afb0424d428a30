package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, NumericType, StructField, StructType}

import graft.util.ColumnCacher

/** Skew-immune interval identification: bit-identical semantics to
  * [[IntervalIdentifier]], with every window partitioned by (groupby,
  * chunk) so that no single task ever processes a whole group.
  *
  * The plain operator partitions by the groupby keys, so one giant
  * entity (the documented 100x-scale risk, SURVEY §7.4/9) lands in ONE
  * task: a sequential sort + scan of potentially billions of rows. This
  * variant splits every group into at most `saltBuckets` contiguous
  * chunks by value range of the (numeric) first orderby column and runs
  * the plain operator's directional passes inside each chunk (the
  * inherited helpers partition by [[windowPartition]]):
  *
  *   1. local duplicate drops: the forward and reversed strict-neighbour
  *      windows over the ORIGINAL markers, exactly as in the plain
  *      preprocessing. Only a chunk's first marker (a start whose
  *      previous marker lies in an earlier chunk) and its last marker (an
  *      end whose next marker lies in a later chunk) can decide
  *      differently across chunks: the boundary drops `dropF` / `dropL`;
  *   2. per row, the running count of kept markers `k`, the kinds of the
  *      previous and next kept markers, and (Enumerated) the running
  *      count of kept starts whose next kept marker is an end;
  *   3. ONE summary row per chunk (first and last kept kind, kept
  *      total, opening-start total), collected once. A per-group scan on
  *      the driver turns it into per-chunk carries: the boundary drops,
  *      the kind of the last kept marker before the chunk and of the
  *      first one after it, and the raw-id and enumeration offsets;
  *   4. ONE broadcast join brings the carries back, and every output is
  *      a row-local expression. With the chunk-local raw id `l = k -
  *      isEnd`, raw = offset + l + 1, less one past a dropped first
  *      start (`l > 0`) and one past a dropped last end (`l = k total`);
  *      valid = raw where the interval's first row is a start and its
  *      last row an end, read off the neighbour kinds (the carried kinds
  *      where a chunk has no kept neighbour); enumerated = the
  *      enumeration offset + the opening starts through the row, on
  *      valid rows.
  *
  * The boundary drops need no second pass because a drop never changes
  * the KIND a neighbour sees from the far side: a dropped leading start
  * is preceded by a start, a dropped trailing end is followed by an end.
  * Only the rows between a dropped marker and its chunk edge see it from
  * the near side, and there the carry supplies the kind directly.
  *
  * Cost: a bounds collect (min/max/count of the order column), one
  * summary collect and one broadcast join of the chunk-count-sized carry
  * table; the chunk windows are evaluated twice (summary and rows) over
  * ONE balanced shuffle each, and nothing is checkpointed. The plain
  * path costs one shuffle, so keep it for well-distributed entities and
  * reach for this one when a group can exceed a single executor's sort
  * budget. Chunk boundaries are value-range based, so bucket balance
  * follows the order-column distribution (ids / timestamps are
  * near-uniform in practice).
  *
  * Semantics are pinned by the golden corpus + oracle queries running
  * with the salt on (reference semantics:
  * src/pywrangler/pyspark/wranglers/interval_identifier.py:96-352).
  *
  * Contract deviations from the plain operator, both inherent to the
  * multi-pass formulation:
  *   - `transform` is EAGER (the bounds and the chunk summary are
  *     collected at call time) — compose it last, not inside plan-only
  *     pipelines;
  *   - the (groupby, orderby) key must uniquely order rows WITHIN each
  *     group. The plain path is also undefined on order ties, but at
  *     least self-consistent; here the summary and the row pass are
  *     evaluated independently, so a tie broken differently across the
  *     two could misplace a carry. Unique event ids / timestamps satisfy
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

  /** Every pass runs inside one (group, chunk). */
  override protected def windowPartition: Seq[Column] =
    super.windowPartition :+ col(P + "b")

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

    val spark = df0.sparkSession
    val gN = groupbyColumns.size
    val gSchema = df0.select(g: _*).schema.fields.toSeq
    // ONE summary row per (group, chunk) — group columns, chunk, chunk
    // order, then `aggs` — collected once; `carries` maps one group's
    // chunks, in chunk order, to their carry values. The result is a
    // join-ready local table: group columns pre-renamed to the join
    // aliases and the chunk key to `jk`, so the broadcast hash join
    // consumes the LocalRelation DIRECTLY — any projection on top of a
    // chunk-count-sized LocalRelation gets constant-folded by the
    // optimizer through an interpreted row projection on the driver,
    // real per-query milliseconds at bench scale
    def carryTable(rows: DataFrame, aggs: Seq[Column], fields: Seq[StructField])
                  (carries: IndexedSeq[Row] => Seq[Seq[Any]]): DataFrame = {
      val summary = rows.groupBy(g :+ col(P + "b"): _*)
        .agg(max(col(P + "bs")), aggs: _*).collect()
      val carryRows = summary.groupBy(r => (0 until gN).map(r.get): Seq[Any])
        .valuesIterator.flatMap { rs =>
          val chunks = rs.sortBy(_.getInt(gN + 1)).toIndexedSeq
          chunks.zip(carries(chunks)).map { case (r, c) =>
            Row.fromSeq((0 to gN).map(r.get) ++ c)
          }
        }.toSeq
      spark.createDataFrame(java.util.Arrays.asList(carryRows: _*),
        StructType(gSchema.zipWithIndex.map { case (f, i) =>
          StructField(P + s"jg$i", f.dataType, f.nullable)
        } ++ (StructField(P + "jk", IntegerType) +: fields)))
    }
    // null-safe broadcast equi-join on (groupby..., chunk): the local
    // table's value columns land under their own names
    def finish(rows: DataFrame, table: DataFrame)(id: Column): DataFrame = {
      val cond = groupbyColumns.zipWithIndex
        .map { case (n, i) => col(n) <=> col(P + s"jg$i") }
        .foldLeft(col(P + "b") === col(P + "jk"))(_ && _)
      rows.join(broadcast(table), cond, "inner")
        .select(originalCols.map(col) :+ id.as(targetColumnName): _*)
    }

    if (identicalStartEndMarkers) {
      // running count of starts; the only carry is the additive prefix,
      // accumulated on the driver from the one summary collect.
      val rows1 = rows0.withColumn(P + "rawl",
        generateIidsIdentical(col(markerColumn)))
      val offs = carryTable(rows1, Seq(max(col(P + "rawl"))),
        Seq(StructField(P + "roff", LongType))) { chunks =>
        chunks.map(_.getLong(gN + 2)).scanLeft(0L)(_ + _).init.map(Seq(_))
      }
      return finish(rows1, offs)(col(P + "rawl") + col(P + "roff"))
    }

    // steps 1-2: the plain operator's passes, inside each chunk — the
    // reversed pass first, so the plan needs exactly one reverse sort
    // followed by one forward sort per partition
    val cc = new ColumnCacher(rows0)
    val marker =
      if (markerStartUseFirst || !markerEndUseFirst) preprocessMarkerColumn(cc)
      else col(markerColumn)
    val isS = boolifyMarker(marker, start = true)
    val isE = boolifyMarker(marker, start = false)
    val start = lit(markerStart)
    val end = lit(markerEndValue)
    val raw = resultType == ResultType.Raw
    val enumerated = resultType == ResultType.Enumerated
    val next = if (raw) None
      else Some(cc.add("next", strictNeighbour(marker, reverse = true)))
    val w = running(windowGroupby())
    val neighbours = next.toSeq.flatMap(n => Seq(n.as(P + "next"),
      strictNeighbour(marker, reverse = false).as(P + "prev")))
    val opening = if (enumerated) next.toSeq.map(n =>
      sum((isS === 1 && n <=> end).cast("long")).over(w).as(P + "open"))
      else Nil
    val rows1 = cc.df.select(originalCols.map(col) ++
      Seq(col(P + "b"), col(P + "bs"), isS.as(P + "s"), isE.as(P + "e"),
        sum(isS + isE).over(w).as(P + "k")) ++ neighbours ++ opening: _*)

    // step 3: per chunk, the first and last kept kind (1 start, 2 end;
    // the first and last ORIGINAL marker kinds too, as local drops never
    // remove a chunk's first or last kind), kept total, opening starts.
    // Carries per chunk: the raw-id and enumeration offsets, the local
    // kept total, the boundary drops, whether the last kept marker before
    // the chunk is a start (linS) and the first one after it an end
    // (rinE), the same two facts for the rows past a dropped last end
    // (hiS) and before a dropped first start (loE), and the two
    // opening-start corrections (eLo, eHi)
    val kind = when(col(P + "s") === 1, lit(1)).when(col(P + "e") === 1, lit(2))
    val at = when(kind.isNotNull, col(P + "k"))
    val carries = carryTable(rows1, Seq(min_by(kind, at), max_by(kind, at),
      max(col(P + "k")), if (enumerated) max(col(P + "open")) else lit(0L)),
      Seq("roff", "eoff", "ktot").map(n => StructField(P + n, LongType)) ++
        Seq("dropF", "dropL", "linS", "rinE", "hiS", "loE", "eLo", "eHi")
          .map(n => StructField(P + n, BooleanType))) { chunks =>
      def kinds(i: Int) = chunks.map(r =>
        if (r.isNullAt(i)) Option.empty[Int] else Some(r.getInt(i)))
      // the nearest defined kind strictly before / after each chunk
      def before(k: Seq[Option[Int]]) =
        k.scanLeft(Option.empty[Int])((a, x) => x.orElse(a)).init
      def after(k: Seq[Option[Int]]) =
        k.scanRight(Option.empty[Int])((x, a) => x.orElse(a)).tail
      val (fk, lk) = (kinds(gN + 2), kinds(gN + 3))
      val ktot = chunks.map(_.getLong(gN + 4))
      val open = chunks.map(_.getLong(gN + 5))
      val (lOrig, rOrig) = (before(lk), after(fk))
      val js = chunks.indices
      val dropF = js.map(j =>
        markerStartUseFirst && fk(j).contains(1) && lOrig(j).contains(1))
      val dropL = js.map(j =>
        !markerEndUseFirst && lk(j).contains(2) && rOrig(j).contains(2))
      val kept = js.map(j =>
        ktot(j) - (if (dropF(j)) 1 else 0) - (if (dropL(j)) 1 else 0))
      // kept kinds: past a dropped first start the next kept marker is
      // an end, before a dropped last end the previous one is a start
      val lin = before(js.map(j =>
        if (kept(j) == 0) None else if (dropL(j)) Some(1) else lk(j)))
      val rin = after(js.map(j =>
        if (kept(j) == 0) None else if (dropF(j)) Some(2) else fk(j)))
      // opening starts: a dropped first start counted locally when a kept
      // end follows it; the last kept start when its next kept marker
      // lies in a later chunk and is an end
      val eLo = js.map(j => dropF(j) && ktot(j) >= 2)
      val eHi = js.map(j =>
        lk(j).contains(1) && kept(j) > 0 && rin(j).contains(2))
      val opens = js.map(j => open(j) - (if (eLo(j)) 1 else 0) +
        (if (eHi(j)) 1 else 0))
      val roff = kept.scanLeft(0L)(_ + _)
      val eoff = opens.scanLeft(0L)(_ + _)
      js.map { j =>
        val (linS, rinE) = (lin(j).contains(1), rin(j).contains(2))
        Seq(roff(j), eoff(j), ktot(j), dropF(j), dropL(j), linS, rinE,
          ktot(j) >= 2 || linS, ktot(j) >= 2 || rinE, eLo(j), eHi(j))
      }
    }

    // step 4: row-local outputs over the carries
    def c(n: String): Column = col(P + n)
    val l = c("k") - c("e")
    val rawId = c("roff") + l + 1 - (c("dropF") && l > 0).cast("long") -
      (c("dropL") && l === c("ktot")).cast("long")
    if (raw) return finish(rows1, carries)(rawId)

    val firstIsStart = c("s") === 1 ||
      when(c("dropL") && l === c("ktot"), c("hiS"))
        .otherwise(coalesce(c("prev") === start, c("linS")))
    val lastIsEnd = c("e") === 1 ||
      when(c("dropF") && l === 0, c("loE"))
        .otherwise(coalesce(c("next") === end, c("rinE")))
    val ids =
      if (enumerated) c("eoff") + c("open") -
        (c("eLo") && c("k") > 0).cast("long") +
        (c("eHi") && c("k") === c("ktot")).cast("long")
      else rawId
    finish(rows1, carries)(when(firstIsStart && lastIsEnd, ids).otherwise(0L))
  }
}
