package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_VERIFY_ONLY=q1,q2 restricts the dump (and the oracle
    // json) for local iteration; the driver never sets it. The lookup
    // rejects a typo'd name, which would otherwise write an EMPTY dump
    // under exit code 0 — vacuous success over a prior complete artifact
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(SparkEntry.lookup(_).map(_.name).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet stores ts as INT64 TIMESTAMP(NANOS): read as long
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries.filter(kv => wanted(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle SQL bound to THIS dump's sf directory (jsonl_ingest's
    // oracle reads the query's own sf-suffixed export)
    val json = SparkEntry.oracleSqlFor(new java.io.File(sfDir).getName)
      .filter(kv => wanted(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // a FILTERED run writes a suffixed artifact: oracle_sql.json is the
    // complete-query-set contract a downstream comparator reads, and a
    // legitimate partial dump clobbering it would make the omitted
    // queries pass vacuously (r13 ADVICE)
    val jsonName =
      if (only.isDefined) "oracle_sql.partial.json" else "oracle_sql.json"
    Files.writeString(Paths.get(s"$outDir/$jsonName"), json)
    spark.stop()
  }
}
