package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.benchmark.Force
import graft.operators.{Dsir, IntervalIdentifier}

/** Pins the bench harness's honesty guard: the round-3 postmortem found
  * count()-forced timing let Catalyst prune every row-preserving query to
  * a zero-column scan, so the 2x gate compared no-ops to no-ops. These
  * tests make that class of vacuous measurement impossible to reintroduce
  * silently.
  */
class BenchGuardSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def events = Seq(
    (1L, 1L, "s"), (1L, 2L, "x"), (1L, 3L, "e"),
    (2L, 1L, "s"), (2L, 2L, "e"))
    .toDF("user_id", "event_id", "marker")

  private val interval = new IntervalIdentifier("marker", "s", Some("e"),
    orderbyColumns = Seq("event_id"), groupbyColumns = Seq("user_id"))

  test("count() really does prune the window out (the round-3 bug)") {
    // pin the FAILURE MODE the guard exists for: if a Spark upgrade ever
    // stops pruning here, the guard is dead weight and can be revisited
    val counted = interval.transform(events).groupBy().count()
    assert(!counted.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("noop-forced plan keeps the Window node and all columns") {
    val plan = Force.planString(interval.transform(events))
    assert(plan.contains("Window"))
    Bench.assertHonestPlan("interval_lsfe", plan) // does not throw
  }

  test("assertHonestPlan rejects a pruned zero-column scan") {
    val doc = Seq((1L, "a b c")).toDF("doc_id", "text")
    doc.write.mode("overwrite").parquet("/tmp/bench_guard_spec.parquet")
    val pruned = spark.read.parquet("/tmp/bench_guard_spec.parquet")
      .withColumn("norm", regexp_replace(col("text"), "a", "b"))
      .groupBy().count()
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<>"))
    val e = intercept[IllegalArgumentException] {
      Bench.assertHonestPlan("text_normalize", plan)
    }
    assert(e.getMessage.contains("vacuous"))
  }

  test("a legitimate count(*) branch is tolerated ONLY when allow-listed") {
    // tfidf-shaped plan: the corpus-count subtree reads zero columns by
    // design while the term scan reads real ones. Only the explicit
    // allow-list (zeroColumnScanOk) may pass such a plan — for any other
    // query, one pruned branch beside an honest one must still abort
    // (round-5 ADVICE: "some scan reads columns" was too weak)
    val doc = Seq((1L, "a b c")).toDF("doc_id", "text")
    doc.write.mode("overwrite").parquet("/tmp/bench_guard_spec2.parquet")
    val d = spark.read.parquet("/tmp/bench_guard_spec2.parquet")
    // a Window rides along so the tfidf_topk signature check passes and
    // the test isolates the scan guard
    val joined = d
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("text")))
      .crossJoin(d.groupBy().count())
    val plan = Force.planString(joined)
    assert(plan.contains("ReadSchema: struct<>"), plan) // count branch
    assert(plan.contains("Join"), plan)
    assert(Bench.zeroColumnScanOk("tfidf_topk"))
    Bench.assertHonestPlan("tfidf_topk", plan) // allow-listed: no throw
    val e = intercept[IllegalArgumentException] {
      Bench.assertHonestPlan("decontaminate", plan) // not allow-listed
    }
    assert(e.getMessage.contains("vacuous"))
  }

  test("assertHonestPlan rejects a plan missing the signature node") {
    val e = intercept[IllegalArgumentException] {
      Bench.assertHonestPlan("interval_lsfe",
        Force.planString(events.select("user_id")))
    }
    assert(e.getMessage.contains("signature"))
  }

  test("DSIR selection with k on a bucket edge: no rank window, and " +
    "the bucket_search signature still holds the plan honest") {
    val docs = (0L until 60L).map(i =>
      (i, s"body text w${i % 7}", if (i % 5 == 0) "seed" else "web"))
      .toDF("doc_id", "text", "source")
    // fraction 1.0 puts k on the last bucket edge: every bucket is
    // keep-all, so no boundary bucket exists and nothing is ranked
    val all = Dsir.ImportanceResample("seed", 1.0, numFeatures = 64)
      .transform(docs).select("doc_id", "dsir_score")
    val plan = Force.planString(all)
    assert(!plan.contains("Window"), plan)
    Seq("sample_dsir", "dsir_bigram", "dsir_incr", "dsir_report")
      .foreach(Bench.assertHonestPlan(_, plan)) // does not throw
    assert(all.count() == 60L)
    // a cut inside a bucket ranks that bucket beside the same filter
    val part = Dsir.ImportanceResample("seed", 0.3, numFeatures = 64)
      .transform(docs).select("doc_id", "dsir_score")
    Bench.assertHonestPlan("sample_dsir", Force.planString(part))
  }

  test("registry query names are unique (the derived maps would " +
    "silently keep only the last entry of a duplicated name)") {
    val names = SparkEntry.registry.map(_.name)
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, s"duplicate query names: $dups")
    assert(SparkEntry.queries.size == names.size)
  }

  test("the SPARK_GRAFT_BENCH_ONLY / VERIFY_ONLY lookup returns the " +
    "named queries and rejects a misspelled or empty filter") {
    assert(SparkEntry.lookup(" sample_dsir,interval_lsfe ").map(_.name) ==
      Seq("sample_dsir", "interval_lsfe"))
    val e = intercept[IllegalStateException] {
      SparkEntry.lookup("interval_lsfe,interval_lsfee,smaple_dsir")
    }
    assert(e.getMessage.contains("interval_lsfee, smaple_dsir"),
      e.getMessage)
    intercept[IllegalStateException](SparkEntry.lookup(" , "))
  }

  test("unknown query name fails fast instead of silently passing") {
    intercept[IllegalStateException] {
      Bench.assertHonestPlan("no_such_query", "Window")
    }
  }

  test("parseBaseline reads the NORMATIVE table of the real BASELINE.md " +
    "— every query row, no superseded/prose rows") {
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get("BASELINE.md"))
    val rows = Bench.parseBaseline(text)
    // every bench query has a row (self-adjudication needs full cover)
    val missing = SparkEntry.queries.keySet -- rows.keySet
    assert(missing.isEmpty, s"baseline rows missing for: $missing")
    // spot-pin two known values so a format drift is caught loudly
    assert(rows("interval_lsfe") == 0.663) // "(r13 sweep)" suffix ok
    assert(rows("dedup_clusters") == 3.737) // "(r7 re-record)" suffix ok
    // superseded r3-vacuous rows and prose tables must NOT leak in
    assert(rows.keySet.forall(k => SparkEntry.queries.contains(k)),
      s"non-query rows parsed: ${rows.keySet -- SparkEntry.queries.keySet}")
  }

  test("every baseline row carries a recording-provenance tag, so " +
    "re-records stay documented by construction") {
    // r10 paid a round of adjudication debt because events-family rows
    // had drifted from their recording context; since then every row
    // states WHEN its median was recorded — "(rN sweep)", "(rN new)",
    // "(rN re-record)" — and this guard makes an untagged row (a future
    // value edit that drops the annotation) a suite failure, not a
    // judge finding
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get("BASELINE.md"))
    val untagged = "(?m)^\\| (\\w+) \\| ([0-9.]+)([^|]*)\\|$".r
      .findAllMatchIn(text)
      .filterNot(m => m.group(3).contains("(r"))
      .map(_.group(1)).toSeq
    assert(untagged.isEmpty, s"baseline rows without a (rN ...) " +
      s"provenance tag: $untagged")
  }

  test("contract-line inline fit: greedy prefix always fits the budget, " +
    "keeps failures and the largest medians, reports the dropped tail") {
    // the inline map can no longer overflow by construction (round-11:
    // 80 queries of 3-decimal seconds hit 1979 chars and overflowed the
    // driver's ~2000-char tail window) — whatever doesn't fit rides the
    // bid-matched bench_full.json sidecar that check_gate overlays.
    // Exercise the fit with the REAL query set at a catastrophic
    // every-median-5-digit-ms envelope
    val entries = SparkEntry.queries.keySet.toSeq.sorted.zipWithIndex
      .map { case (n, i) => n -> (if (i == 0) -1L else 10000L + i) }
    val fixed = """{"metric":"total","value":9999.9999,""" +
      """"unit":"sec","qunit":"ms","bid":1765432109,"queries":{},""" +
      """"sf":"/root/testdata/sf0.1"}"""
    val budget = 1920 - fixed.length + 2
    val (qs, dropped) = Bench.inlineQueries(entries, budget)
    assert(qs.length <= budget, s"${qs.length} > $budget")
    assert(fixed.length - 2 + qs.length <= 1920)
    // the failure marker always rides inline
    assert(qs.contains(":-1"), qs)
    // the largest median rides inline; drops (if any) are the smallest
    val maxName = entries.maxBy(_._2)._1
    assert(qs.contains("\"" + maxName + "\":"), qs)
    assert(dropped >= 0 && dropped < entries.size)
    // at a generous budget nothing drops and every entry appears
    val (all, none) = Bench.inlineQueries(entries, 100000)
    assert(none == 0)
    entries.foreach { case (n, v) =>
      assert(all.contains("\"" + n + "\":" + v), n) }
  }

  test("sidecar completeness: bench_full.json carries EVERY query key " +
    "(the inline contract is only a greedy prefix), plus reruns and the " +
    "bid tying it to the contract — so inline + sidecar jointly cover " +
    "the full SparkEntry.queries set (round-11 VERDICT #4)") {
    val names = SparkEntry.queries.keySet.toSeq.sorted
    val medians = names.zipWithIndex.map { case (n, i) =>
      n -> (if (i == 1) None else Some(0.001 * (i + 1)))
    }
    val reruns = Seq((names.head, 1.2345, 2.5))
    val json = Bench.sidecarJson(42L, medians, reruns,
      "{}", "{}", "/tmp/sf")
    names.foreach { n =>
      assert(json.contains("\"" + n + "\":"), s"sidecar missing $n") }
    assert(json.contains("\"bid\":42"))
    assert(json.contains("\"" + names.head + "\":{\"median\":1.2345"))
    assert(json.contains(":-1"), "failure marker must ride the sidecar too")
    // and the union property directly: at ANY inline budget, sidecar
    // keys ∪ inline keys == the full query set (sidecar is total, so
    // this holds however savage the inline drop)
    val entries = names.zipWithIndex.map { case (n, i) => n -> (100L + i) }
    val (qs, dropped) = Bench.inlineQueries(entries, 300)
    assert(dropped > 0, "budget 300 should force drops with this set")
    val inlineKeys = names.filter(n => qs.contains("\"" + n + "\":")).toSet
    val sidecarKeys = names.filter(n => json.contains("\"" + n + "\":")).toSet
    assert((inlineKeys ++ sidecarKeys) == names.toSet)
  }

  test("breaching: worst-ratio-first, gate-filtered, capped, " +
    "deterministic") {
    val medians = Map("a" -> 10.0, "b" -> 1.0, "c" -> 9.0, "d" -> 5.0,
      "nobase" -> 99.0)
    val base = Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0, "d" -> 2.4)
    // ratios: a 10x, c 9x, d ~2.08x, b 1x; nobase has no row -> ignored
    assert(Bench.breaching(medians, base, 2.0, 10) == Seq("a", "c", "d"))
    assert(Bench.breaching(medians, base, 2.0, 2) == Seq("a", "c"))
    assert(Bench.breaching(medians, base, 9.5, 10) == Seq("a"))
    assert(Bench.breaching(medians, Map.empty, 2.0, 10).isEmpty)
  }

  test("loadavg reads a plausible value on this platform") {
    val v = Bench.loadavg()
    assert(v >= 0.0 && v < 10000.0, s"loadavg = $v")
  }

  test("oracle SQL binds jsonl_ingest's export path to the dump's own " +
    "sf directory (r18: a hard-coded sf0.01 path made every other SF's " +
    "gate read a stale export)") {
    assert(SparkEntry.oracleSqlFor("sf0.001")("jsonl_ingest")
      .contains("jsonl_export_sf0.001/"))
    assert(SparkEntry.oracleSqlFor("sf0.1")("jsonl_ingest")
      .contains("jsonl_export_sf0.1/"))
    // the default surface stays the sf0.01 binding Verify used to bake in
    assert(SparkEntry.oracleSql("jsonl_ingest")
      .contains("jsonl_export_sf0.01/"))
  }
}
