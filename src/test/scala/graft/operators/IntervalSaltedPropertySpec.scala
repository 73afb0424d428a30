package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Property-based cross-check of the SALTED interval identifier against
  * the plain window-algebra operator AND the sequential spec oracle, over
  * random marker sequences and random `saltBuckets` in 2..8.
  *
  * The golden corpus pins the salted algebra only at saltBuckets=3; random
  * bucket counts drive the cross-chunk carry machinery through shapes the
  * corpus cannot (duplicate-marker runs straddling 2..8 chunk boundaries,
  * chunks that are entirely noise, empty buckets when rows < buckets, the
  * boundary-drop correction under both span flags). Seeded for replay.
  */
class IntervalSaltedPropertySpec extends AnyFunSuite {

  private def forAllSeeded[A](gen: Gen[A], n: Int)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(1000L + i)).foreach(body)
    }
  private val spark = TestSpark.spark

  private val Start = "s"
  private val End = "e"

  /** Sequential spec oracle — same formulation as IntervalPropertySpec
    * (state machine over the marker subsequence), independent of both the
    * plain and salted window algebras.
    */
  private def oracle(markers: Seq[String], su: Boolean,
                     eu: Boolean): Seq[Long] = {
    val events = markers.zipWithIndex.collect {
      case (m, i) if m == Start || m == End => (i, m == Start)
    }
    val kept = Vector.newBuilder[(Int, Boolean)]
    var run = List.empty[(Int, Boolean)]
    def flush(): Unit = if (run.nonEmpty) {
      val isStart = run.head._2
      val keepFirst = if (isStart) su else eu
      kept += (if (keepFirst) run.last else run.head) // run is reversed
      run = Nil
    }
    events.foreach { ev =>
      if (run.nonEmpty && run.head._2 != ev._2) flush()
      run = ev :: run
    }
    flush()
    val seq = kept.result()
    val iids = Array.fill(markers.size)(0L)
    var n = 0
    var k = 0
    while (k < seq.size - 1) {
      if (seq(k)._2 && !seq(k + 1)._2) {
        n += 1
        (seq(k)._1 to seq(k + 1)._1).foreach(i => iids(i) = n)
        k += 2
      } else k += 1
    }
    iids.toSeq
  }

  private val markerGen: Gen[String] =
    Gen.frequency(3 -> Gen.const(Start), 3 -> Gen.const(End),
      3 -> Gen.const("x"), 1 -> Gen.const(null: String))

  /** (saltBuckets, groups): bucket counts 2..8, group sizes 0..25 — most
    * samples have fewer rows per group than buckets×2, so chunk carries
    * and empty buckets dominate.
    */
  private val caseGen: Gen[(Int, List[List[String]])] = for {
    buckets <- Gen.choose(2, 8)
    g <- Gen.choose(1, 3)
    groups <- Gen.listOfN(g, Gen.choose(0, 25).flatMap(Gen.listOfN(_, markerGen)))
  } yield (buckets, groups)

  private val schema = StructType(Seq(
    StructField("g", IntegerType), StructField("o", IntegerType),
    StructField("marker", StringType)))

  private def frame(groups: List[List[String]]): DataFrame = {
    val rows = for ((ms, g) <- groups.zipWithIndex; (m, o) <- ms.zipWithIndex)
      yield Row(g, o, m)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  private def ids(w: IntervalIdentifier,
                  df: DataFrame): Map[(Int, Int), Long] =
    w.transform(df).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getAs[Number]("iids").longValue)
      .toMap

  private def salted(buckets: Int, su: Boolean, eu: Boolean, asc: Boolean,
                     identical: Boolean,
                     rt: ResultType = ResultType.Enumerated) =
    new IntervalIdentifierSalted("marker", Start,
      if (identical) None else Some(End), su, eu,
      orderbyColumns = Seq("o"), groupbyColumns = Seq("g"),
      ascending = Seq(asc), resultType = rt, saltBuckets = buckets,
      maxChunkRows = 1L)

  /** Enumerated ids against the sequential oracle (a descending scan is
    * the oracle over the reversed sequence); raw and valid ids, which
    * the oracle does not produce, against the plain operator on the same
    * rows.
    */
  private def check(su: Boolean, eu: Boolean, n: Int,
                    asc: Boolean = true): Unit =
    forAllSeeded(caseGen, n) { case (buckets, groups) =>
      val df = frame(groups)
      val got = ids(salted(buckets, su, eu, asc, identical = false), df)
      groups.zipWithIndex.foreach { case (ms, g) =>
        val want =
          if (asc) oracle(ms, su, eu) else oracle(ms.reverse, su, eu).reverse
        ms.indices.foreach { o =>
          assert(got((g, o)) == want(o),
            s"salted buckets=$buckets group $g markers=$ms su=$su eu=$eu " +
              s"asc=$asc pos $o: got ${got((g, o))}, want ${want(o)}")
        }
      }
      for (rt <- Seq(ResultType.Raw, ResultType.Valid)) {
        val plain = ids(new IntervalIdentifier("marker", Start, Some(End),
          su, eu, Seq("o"), Seq("g"), Seq(asc), rt), df)
        val got = ids(salted(buckets, su, eu, asc, identical = false, rt), df)
        assert(got == plain, s"salted $rt buckets=$buckets groups=$groups " +
          s"su=$su eu=$eu asc=$asc: " +
          got.filter { case (k, v) => plain(k) != v }.toSeq.sorted
            .map { case (k, v) => s"$k got $v want ${plain(k)}" }
            .mkString(", "))
      }
    }

  for {
    (su, eu) <- Seq((false, true), (true, true), (false, false), (true, false))
  } test(s"salted property: matches sequential oracle su=$su eu=$eu " +
      "over saltBuckets 2..8") {
    check(su, eu, n = 12)
  }

  test("salted property: descending order matches oracle on reversed rows") {
    check(su = false, eu = true, n = 10, asc = false)
  }

  test("salted property: identical-marker path matches running count") {
    forAllSeeded(caseGen, 10) { case (buckets, groups) =>
      val got = ids(salted(buckets, su = false, eu = true, asc = true,
        identical = true), frame(groups))
      groups.zipWithIndex.foreach { case (ms, g) =>
        val want =
          ms.scanLeft(0L)((acc, m) => if (m == Start) acc + 1 else acc).tail
        ms.indices.foreach { o => assert(got((g, o)) == want(o)) }
      }
    }
  }

  test("salted: NULL order values land in the reserved bucket 0 " +
      "(asc nulls-first) and carry into chunk 1") {
    // one null-order row per group keeps (g, o) a unique ordering; under
    // asc it sorts FIRST, so a null-order start marker must open an
    // interval that a later in-range end marker closes across the
    // bucket-0 boundary.
    val rows = Seq(
      Row(0, null.asInstanceOf[Integer], "s"), Row(0, Int.box(1), "x"),
      Row(0, Int.box(2), "e"), Row(0, Int.box(3), "s"), Row(0, Int.box(4), "e"),
      Row(1, null.asInstanceOf[Integer], "e"), Row(1, Int.box(1), "s"),
      Row(1, Int.box(2), "e"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      schema)
    val w = new IntervalIdentifierSalted("marker", "s", Some("e"),
      orderbyColumns = Seq("o"), groupbyColumns = Seq("g"),
      saltBuckets = 3, maxChunkRows = 1L)
    val got = w.transform(df).collect()
      .map(r => (r.getInt(0), Option(r.get(1)).map(_.toString).orNull) ->
        r.getAs[Number]("iids").longValue).toMap
    assert(got((0, null)) == 1L); assert(got((0, "1")) == 1L)
    assert(got((0, "2")) == 1L); assert(got((0, "3")) == 2L)
    assert(got((0, "4")) == 2L)
    // group 1: leading end marker is noise; (s at 1, e at 2) is interval 1
    assert(got((1, null)) == 0L); assert(got((1, "1")) == 1L)
    assert(got((1, "2")) == 1L)
  }
}
