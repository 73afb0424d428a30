package graft.util

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Specs for SparkUtil helpers and ColumnCacher
  * (reference behavior: src/pywrangler/pyspark/util.py:38-204,
  * tests/pyspark/test_util.py:66-107).
  */
class SparkUtilSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def df = Seq((1, "a"), (2, "b")).toDF("n", "s")

  test("validateColumns: case-insensitive presence check") {
    SparkUtil.validateColumns(df, Seq("N", "s"))
    val e = intercept[IllegalArgumentException](
      SparkUtil.validateColumns(df, Seq("missing")))
    assert(e.getMessage.contains("missing"))
  }

  test("prepareOrderby: directions, reverse flag, arity check") {
    val asc = SparkUtil.prepareOrderby(Seq("a", "b"), Seq(true, false))
    assert(asc.map(_.toString) == Seq("a ASC NULLS FIRST", "b DESC NULLS LAST"))
    val rev = SparkUtil.prepareOrderby(Seq("a", "b"), Seq(true, false),
      reverse = true)
    assert(rev.map(_.toString) == Seq("a DESC NULLS LAST", "b ASC NULLS FIRST"))
    assert(SparkUtil.prepareOrderby(Seq("a"), Nil).head.toString
      .contains("ASC"))
    intercept[IllegalArgumentException](
      SparkUtil.prepareOrderby(Seq("a"), Seq(true, false)))
  }

  test("ColumnCacher Enabled: materializes, finish drops intermediates") {
    val cc = new ColumnCacher(df)
    val ref = cc.add("tmp", col("n") * 2)
    val out = cc.finish("result", ref + 1)
    assert(out.columns.toSeq == Seq("n", "s", "result"))
    assert(out.orderBy("n").select("result").as[Int].collect().toSeq ==
      Seq(3, 5))
  }

  test("ColumnCacher: unique name generation avoids collisions") {
    val base = df.withColumn("tmp_0", lit(0))
    val cc = new ColumnCacher(base)
    cc.add("tmp", lit(1))
    assert(cc.columns("tmp") != "tmp_0") // collided name got suffixed
    assert(cc.df.columns.contains(cc.columns("tmp")))
  }
}
