package graft.tools

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Dev tool: print the formatted physical plan of one named query, or —
  * with an output directory as the third arg — dump the plans of a
  * comma-separated query list to `<dir>/<name>_<suffix>.txt` in one JVM
  * (the r17 optimization rounds' before/after plan evidence under
  * `plans/r17/`). Runs at the bench's own shape (local[32], 32 shuffle
  * partitions) so Exchange counts and join picks match what the bench
  * times.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val specs = SparkEntry.lookup(args(0))
    val sfDir = args(1)
    val outDir = if (args.length > 2) Some(args(2)) else None
    val suffix = if (args.length > 3) args(3) else "plan"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    specs.foreach { q =>
      val name = q.name
      val df = q.build(spark, sfDir)
      outDir match {
        case Some(dir) =>
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString(
              "formatted"))
          java.nio.file.Files.createDirectories(
            java.nio.file.Paths.get(dir))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, s"${name}_$suffix.txt"),
            plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"[explain] wrote $dir/${name}_$suffix.txt")
        case None =>
          println(s"== $name ==")
          df.explain("formatted")
      }
    }
    spark.stop()
  }
}
