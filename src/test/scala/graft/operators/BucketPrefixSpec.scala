package graft.operators

import scala.util.Random

import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The one property spec of [[BucketPrefix]]: the exclusive running
  * weight of every row equals a local replay of the (class, bucket,
  * order) prefix sum with a reset per class, whatever the shuffle
  * partitions, the kernel's own `partitions`, the cell skew or the empty
  * buckets; null cells or weights, an over-bound census and an input that
  * re-evaluates differently fail loudly by name. The per-operator specs
  * (CorpusSpec, ChunkInterleaveSpec, CurriculumMixSpec) keep their
  * value-level checks of what each operator builds on top.
  */
class BucketPrefixSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** (id, cls, b, k, w): classes 0..2 as ints, buckets drawn from
    * `buckets` (sparse ids leave empty buckets between them), unique
    * in-cell order `k`, weights in [0, 50).
    */
  private def draw(rnd: Random, n: Int, buckets: Seq[Long],
                   hot: Boolean = false): Seq[(Long, Int, Long, Long, Long)] =
    rnd.shuffle((0 until n).map { i =>
      val b =
        if (hot && rnd.nextInt(10) < 9) buckets.head
        else buckets(rnd.nextInt(buckets.size))
      (i.toLong, rnd.nextInt(3), b, rnd.nextLong() % 1000000L,
        rnd.nextInt(50).toLong)
    }).distinctBy(_._4)

  /** Expected `before` per id: the exclusive running weight in (cls, b,
    * k) order, restarting at each class.
    */
  private def replay(rows: Seq[(Long, Int, Long, Long, Long)])
      : Map[Long, Long] = {
    var acc = 0L
    var cls = Int.MinValue
    rows.sortBy(r => (r._2, r._3, r._4)).map { r =>
      if (r._2 != cls) { acc = 0L; cls = r._2 }
      val before = acc
      acc += r._5
      r._1 -> before
    }.toMap
  }

  private def run(df: DataFrame, partitions: Int = 0,
                  maxCells: Long = 10000L): Map[Long, Long] =
    BucketPrefix.exclusive(df, "Spec", classes = Seq("cls"),
        buckets = Seq("b"), order = Seq(col("k")), weight = Some("w"),
        out = "before", maxCells = maxCells, partitions = partitions)
      .select("id", "before").as[(Long, Long)].collect().toMap

  private def withShufflePartitions[T](n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, prev)
  }

  private def frame(rows: Seq[(Long, Int, Long, Long, Long)]) =
    rows.toDF("id", "cls", "b", "k", "w")

  test("the prefix equals the local replay under shuffle partitions " +
    "1/7/64 and the kernel's partitions setting, with every input column " +
    "passing through") {
    val rows = draw(new Random(11), 400, Seq(0L, 1L, 2L, 3L, 4L, 5L))
    val want = replay(rows)
    val settings = Seq(1, 7, 64).map(_ -> 0) ++ Seq(1, 7, 64).map(4 -> _)
    for ((sp, p) <- settings)
      withShufflePartitions(sp) {
        assert(run(frame(rows), partitions = p) == want,
          s"shuffle.partitions=$sp partitions=$p")
      }
    val out = BucketPrefix.exclusive(frame(rows).repartition(5), "Spec",
      Seq("cls"), Seq("b"), Seq(col("k")), Some("w"), "before", 100L)
    assert(out.columns.toSeq == Seq("id", "cls", "b", "k", "w", "before"))
    assert(out.as[(Long, Int, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2, r._3, r._4, r._5)).sorted.toSeq ==
      rows.sorted)
  }

  test("one cell holding most rows, empty buckets between sparse ids, " +
    "no classes, unit weights and an empty input") {
    val rnd = new Random(12)
    val hot = draw(rnd, 600, Seq(3L, 40L, 41L, 900L), hot = true)
    assert(hot.count(_._3 == 3L) > hot.size / 2, "fixture: one hot bucket")
    assert(run(frame(hot), partitions = 7) == replay(hot))
    // no class columns, weight = row count: a global 0-based rank
    val global = BucketPrefix.exclusive(frame(hot), "Spec", Nil,
        Seq("b"), Seq(col("k")), None, "before", 10L)
      .select("id", "before").as[(Long, Long)].collect().toMap
    val wantRank = hot.sortBy(r => (r._3, r._4)).map(_._1).zipWithIndex
      .map { case (id, i) => id -> i.toLong }.toMap
    assert(global == wantRank)
    assert(run(frame(hot.take(0))).isEmpty)
  }

  test("null cell values and null weights fail by name") {
    val base = Seq[(java.lang.Long, java.lang.Long, java.lang.Long)](
      (0L, 1L, 5L), (1L, 2L, 7L))
    def kernel(d: DataFrame) = BucketPrefix.exclusive(d, "SpecOp", Nil,
      Seq("b"), Seq(col("k")), Some("w"), "before", 10L)
    val nullCell = (base :+ ((null, 3L, 1L): (java.lang.Long,
      java.lang.Long, java.lang.Long))).toDF("b", "k", "w")
    val e1 = intercept[IllegalArgumentException](kernel(nullCell))
    assert(e1.getMessage.contains("SpecOp") && e1.getMessage.contains("`b`"),
      e1.getMessage)
    val nullWeight = (base :+ ((1L, 4L, null): (java.lang.Long,
      java.lang.Long, java.lang.Long))).toDF("b", "k", "w")
    val e2 = intercept[IllegalArgumentException](kernel(nullWeight))
    assert(e2.getMessage.contains("SpecOp") && e2.getMessage.contains("`w`"),
      e2.getMessage)
  }

  test("a census over maxCells fails by name before any offset exists; " +
    "the caller's check sees the census first") {
    val rows = draw(new Random(13), 100, (0L until 20L))
    val cells = rows.map(r => (r._2, r._3)).distinct.size
    assert(run(frame(rows), maxCells = cells) == replay(rows))
    val e = intercept[IllegalArgumentException](
      run(frame(rows), maxCells = cells - 1))
    assert(e.getMessage.contains("Spec") &&
      e.getMessage.contains(s"exceeds ${cells - 1}"), e.getMessage)
    val seen = intercept[IllegalStateException](
      BucketPrefix.exclusive(frame(rows), "Spec", Seq("cls"), Seq("b"),
        Seq(col("k")), Some("w"), "before", maxCells = 2L,
        check = census => throw new IllegalStateException(
          s"saw ${census.size}")))
    assert(seen.getMessage == "saw 3") // maxCells + 1 cells collected
  }

  test("an input that re-evaluates to different weights fails on the " +
    "per-cell census total, never with silently wrong offsets") {
    // a nondeterministic UDF draws anew on every evaluation, so the
    // census and the stream read different weights
    val w = udf { () =>
      java.util.concurrent.ThreadLocalRandom.current().nextLong(1000000L)
    }.asNondeterministic()
    val d = spark.range(200).select(col("id"),
      (col("id") % 3).cast("int").as("cls"), (col("id") % 4).as("b"),
      col("id").as("k"), w().as("w"))
    val e = intercept[SparkException](run(d, partitions = 3))
    assert(e.getMessage.contains("Spec: cell") &&
      e.getMessage.contains("census counted"), e.getMessage)
  }
}
