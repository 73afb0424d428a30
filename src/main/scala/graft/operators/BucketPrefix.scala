package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** The one bounded-census exclusive prefix sum behind [[Corpus.ShardPack]],
  * [[Corpus.LengthBucketPack]] and the [[InterleaveShuffle]] /
  * [[CurriculumOrder]] permutation: every row gets the total weight of
  * the rows before it in a global order, without a running window over
  * one task and without a lazy offset window or join.
  *
  * A cell is one value of (class columns, bucket columns). The order is
  * (classes, buckets, in-cell order) and the sum restarts at every class.
  * [[exclusive]] runs it in two phases:
  *   1. census: one aggregate per cell (row count, weight total), collected
  *      ONCE to the driver under an explicit `maxCells` bound; the exclusive
  *      per-cell offsets are computed there and broadcast as literals.
  *      Lazy windows and joins over the census each pay a floor of AQE
  *      stage-jobs; the driver-resident table does not (r18 measurement);
  *   2. stream: one exchange on the cell, `sortWithinPartitions` by (cell,
  *      order), and one pass seeding a running counter with the cell's
  *      offset at each cell start. Cells sort contiguously, so several
  *      cells may share a partition.
  *
  * Buckets must be a PURE FUNCTION of the row ([[rangeBucket]]'s
  * `(k - min) div width`, or a hash prefix), never `repartitionByRange`:
  * the census and the stream are separate executions, and RangePartitioner
  * resamples imbalanced partitions with an RDD-id-derived seed, so two runs
  * of one plan can place boundary rows differently and the offsets then
  * double-count (`tools.StressCorpus` caught 0.05% cumulative drift at 50M
  * rows; invisible at spec scale).
  *
  * The two phases evaluate the input separately. At each cell end the
  * stream compares its streamed weight with the census total, so an input
  * that re-evaluates to different rows (a nondeterministic UDF) fails
  * loudly instead of producing wrong offsets, at no extra job. A cell the
  * re-evaluation drops entirely is not seen: cut such inputs
  * (`localCheckpoint`) before the kernel. The in-cell order must be unique
  * (ties make the running sum order-dependent).
  */
object BucketPrefix {

  /** `requested`, or the session's shuffle partitions when it is `0`. */
  private[operators] def partitionsOf(df: DataFrame, requested: Int): Int =
    if (requested > 0) requested
    else df.sparkSession.sessionState.conf.numShufflePartitions

  /** Key-range buckets for a packing order: appends `__k` and `__sz`
    * (`orderColumn` / `sizeColumn` cast to long) and `__b = (__k - min)
    * div width`, with ids in `[0, buckets)`. One one-row bounds aggregate also counts null keys, null
    * sizes and the rows matching each `checks` predicate; any non-zero
    * count fails with `opName`, the count and the message. The key span
    * `max - min` must fit a signed Long (hash-derived ids spanning the full
    * range would overflow the bucket arithmetic, so they fail instead).
    */
  def rangeBucket(df: DataFrame, opName: String, orderColumn: String,
      sizeColumn: String, buckets: Int,
      checks: Seq[(Column, String)] = Nil): DataFrame = {
    val base = df
      .withColumn("__k", col(orderColumn).cast("long"))
      .withColumn("__sz", col(sizeColumn).cast("long"))
    val bad = Seq(
      col("__k").isNull -> (s"a null (or non-castable) `$orderColumn` — " +
        "the order key must be total; filter or remap first"),
      col("__sz").isNull -> (s"a null (or non-castable) `$sizeColumn` — " +
        "every row needs a size; filter or recount first")) ++ checks
    val row = base.agg(min("__k"), max("__k") +:
      bad.map { case (p, _) => count(when(p, true)) }: _*).head()
    bad.zipWithIndex.foreach { case ((_, msg), i) =>
      val n = row.getLong(i + 2)
      require(n == 0L, s"$opName: $n rows have $msg")
    }
    // an empty input buckets nothing: any width works
    val (minK, span) =
      if (row.isNullAt(0)) (0L, 0L)
      else try (row.getLong(0), math.subtractExact(row.getLong(1), row.getLong(0)))
      catch {
        case _: ArithmeticException => throw new IllegalArgumentException(
          s"$opName: order-key span max(${row.getLong(1)}) - " +
            s"min(${row.getLong(0)}) overflows Long; remap the key (e.g. by " +
            "rank) first")
      }
    val width = math.max(1L, span / buckets + 1)
    // `div`, not `/`: Column./ is DOUBLE division (a 2^53+ key would round)
    base.withColumn("__b", expr(s"(__k - ${minK}L) div ${width}L"))
  }

  /** Append `out`: the exclusive running `weight` (row count when `None`)
    * of each row in (`classes`, `buckets`, `order`) order, restarting at
    * every class. Cell columns are non-null ints or longs; `weight` is a
    * non-null long column. The census holds at most `maxCells` cells;
    * `check` sees the collected census (sorted cell keys, at most
    * `maxCells + 1` of them) before that bound is enforced, so a caller
    * whose own bound implies `maxCells` can fail under its own name.
    * `partitions` fixes the cell exchange's partition count; `0` lets AQE
    * coalesce it. Every input column passes through unchanged.
    */
  def exclusive(df: DataFrame, opName: String, classes: Seq[String],
      buckets: Seq[String], order: Seq[Column], weight: Option[String],
      out: String, maxCells: Long, partitions: Int = 0,
      check: IndexedSeq[Seq[Long]] => Unit = _ => ()): DataFrame = {
    val cells = classes ++ buckets
    require(buckets.nonEmpty, s"$opName: the prefix needs a bucket column")
    val cellIdx = cells.map(df.schema.fieldIndex).toArray
    cellIdx.foreach { i =>
      require(Seq(IntegerType, LongType).contains(df.schema(i).dataType),
        s"$opName: cell column `${df.schema(i).name}` must be int or long")
    }
    val wIdx = weight.map { w =>
      require(df.schema(w).dataType == LongType,
        s"$opName: weight `$w` must be a long column")
      df.schema.fieldIndex(w)
    }.getOrElse(-1)
    val w = weight.map(col).getOrElse(lit(1L))
    val census = df.groupBy(cells.map(c => col(c).cast("long")): _*)
      .agg(count(lit(1)), count(w), sum(w))
      .limit(math.min(maxCells, Int.MaxValue - 1L).toInt + 1)
      .collect()
    val nC = cells.size
    val keyed = census.map { r =>
      (0 until nC).find(r.isNullAt).foreach { i =>
        throw new IllegalArgumentException(s"$opName: rows have a null " +
          s"`${cells(i)}` — cell columns must be non-null")
      }
      require(r.getLong(nC) == r.getLong(nC + 1),
        s"$opName: ${r.getLong(nC) - r.getLong(nC + 1)} rows have a null " +
          s"`${weight.getOrElse("")}` — weights must be non-null")
      (0 until nC).map(r.getLong).toVector -> r.getLong(nC + 2)
    }.sortBy(_._1)(Ordering.Implicits.seqOrdering[Vector, Long])
    check(keyed.map(_._1).toIndexedSeq)
    require(keyed.length <= maxCells,
      s"$opName: the census exceeds $maxCells (${cells.mkString(", ")}) " +
        "cells — coarsen the cell columns or raise the bound")
    // exclusive running total in cell order, reset at each class:
    // cell key -> (offset, census total)
    var acc = 0L
    var prevClass: Seq[Long] = null
    val table = keyed.map { case (key, total) =>
      val cls = key.take(classes.size)
      if (cls != prevClass) { acc = 0L; prevClass = cls }
      acc += total
      key -> (acc - total, total)
    }.toMap[Seq[Long], (Long, Long)]
    // Lifetime note: this broadcast (at most maxCells entries) cannot be
    // destroy()ed here — the returned frame's tasks read it on every
    // execution. Spark's ContextCleaner reclaims it once the frame's plan
    // is unreachable, like any captured broadcast.
    val bc = df.sparkSession.sparkContext.broadcast(table)
    val outSchema = StructType(df.schema.fields :+
      StructField(out, LongType, nullable = false))
    val cellCols = cells.map(col)
    val shuffled =
      if (partitions > 0) df.repartition(partitions, cellCols: _*)
      else df.repartition(cellCols: _*)
    shuffled.sortWithinPartitions(cellCols ++ order: _*)
      .mapPartitions { it =>
        val cur = new Array[Long](nC)
        var open = false
        var run, offset, total = 0L
        def stale(what: String) = new IllegalStateException(
          s"$opName: $what — the input re-evaluated to different rows " +
            "between the census and the stream (a nondeterministic input?); " +
            "materialize it (e.g. localCheckpoint) first")
        def cell = cur.mkString("(", ", ", ")")
        def close(): Unit = if (open) {
          open = false
          if (run - offset != total) throw stale(s"cell $cell streamed " +
            s"weight ${run - offset} but the census counted $total")
        }
        def sameCell(r: Row): Boolean = open && cellIdx.indices.forall { j =>
          !r.isNullAt(cellIdx(j)) &&
            r.get(cellIdx(j)).asInstanceOf[Number].longValue == cur(j)
        }
        new Iterator[Row] {
          def hasNext: Boolean = it.hasNext || { close(); false }
          def next(): Row = {
            val r = it.next()
            if (!sameCell(r)) {
              close()
              cellIdx.indices.foreach { j =>
                if (r.isNullAt(cellIdx(j))) throw stale("a null cell value")
                cur(j) = r.get(cellIdx(j)).asInstanceOf[Number].longValue
              }
              val (o, t) = bc.value.getOrElse(cur.toVector,
                throw stale(s"cell $cell is not in the census"))
              run = o
              offset = o
              total = t
              open = true
            }
            if (wIdx >= 0 && r.isNullAt(wIdx)) throw stale("a null weight")
            val before = run
            run += (if (wIdx >= 0) r.getLong(wIdx) else 1L)
            Row.fromSeq(r.toSeq :+ before)
          }
        }
      }(Encoders.row(outSchema))
  }
}
