package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators._

/** Skew stress check: N events in ONE group (the worst case for
  * per-entity windowing — a single partition processes everything) plus
  * the same N spread over many groups, through both interval
  * formulations. Prints wall times; used to document the skew envelope.
  * Runs on `SPARK_GRAFT_CPUS` cores (default: all) and shuffle partitions.
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(2000000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def mk(groups: Int) = spark.range(n.toLong)
      .select((col("id") % groups).as("g"), col("id").as("o"),
        when(col("id") % 7 === 0, "s").when(col("id") % 7 === 3, "e")
          .otherwise("x").as("marker"))

    // force the id column: a bare count() lets Catalyst prune the whole
    // row-preserving window computation and times a no-op
    def force(out: org.apache.spark.sql.DataFrame): Long =
      out.agg(max("iids"), count(lit(1))).collect()(0).getLong(1)

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"[stress] $label%-38s ${(System.nanoTime() - t0) / 1e9}%7.2f s ($rows rows)")
    }

    for (groups <- Seq(1, 10000)) {
      val df = mk(groups).cache(); df.count()
      val w = new IntervalIdentifier("marker", "s", Some("e"),
        orderbyColumns = Seq("o"), groupbyColumns = Seq("g"))
      val sp = new IntervalIdentifierSinglePass("marker", "s", Some("e"),
        orderbyColumns = Seq("o"), groupbyColumns = Seq("g"))
      val sa = new IntervalIdentifierSalted("marker", "s", Some("e"),
        orderbyColumns = Seq("o"), groupbyColumns = Seq("g"),
        saltBuckets = 64, maxChunkRows = 1L)
      time(s"window    n=$n groups=$groups")(force(w.transform(df)))
      time(s"singlepass n=$n groups=$groups")(force(sp.transform(df)))
      time(s"salted    n=$n groups=$groups")(force(sa.transform(df)))
      df.unpersist()
    }
    spark.stop()
  }
}
