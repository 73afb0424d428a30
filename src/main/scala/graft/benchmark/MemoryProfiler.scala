package graft.benchmark

import org.apache.spark.sql.DataFrame

import graft.util.Format

/** Memory statistics over repeated measurements, in bytes — the Spark
  * analogue of the reference's pandas MemoryProfiler contract
  * (reference: src/pywrangler/benchmark.py:248-425 — max usage minus
  * baseline per repetition after an explicit gc; best/median/worst ±
  * std; `baseline_change` as a leak indicator — and
  * src/pywrangler/pandas/benchmark.py:60-171's `ratio` = memory
  * increase standardized by input size). The pyspark side of the
  * reference left this as an explicit TODO
  * (pyspark/benchmark.py:3), so this EXCEEDS reference parity.
  *
  * Semantics mapping, chosen for a distributed engine:
  *   - `runs` — per-repetition PEAK EXECUTION MEMORY: the sum over the
  *     repetition's completed stages of Spark's per-stage aggregated
  *     task peak (`TaskMetrics.peakExecutionMemory`: bytes held by
  *     aggregation/sort/join buffers at each task's high-water mark).
  *     The per-task peaks of one stage overlap in time, so the sum is
  *     the capacity-planning upper bound of simultaneous usage — what
  *     an executor sizing decision needs, the same role max-usage −
  *     baseline plays single-node.
  *   - `baselines` — driver-JVM used heap before each repetition,
  *     after an explicit `System.gc()` (mirrors memory_profiler's
  *     gc.collect-then-baseline protocol); `baselineChange` is the
  *     median successive increase, the reference's leak indicator
  *     (in local mode the driver JVM IS the executor, so creeping
  *     baselines surface exactly like the pandas version).
  *   - `inputBytes` — scan bytes actually read (max across reps:
  *     rep-1 may pay an uncached read, later reps a page-cached one;
  *     the metrics still report the logical bytes). Denominator of
  *     `ratio`.
  *   - `spilledBytes` — memory bytes spilled to disk (max across
  *     reps): the signal that peak execution memory was CAPPED by the
  *     memory manager and the true demand is higher; a nonzero value
  *     means `ratio` understates pressure.
  *   - `ratio` — median peak execution memory per input byte read
  *     (reference `ratio`: "a 1 GB input with ratio 5 needs 5 GB free
  *     to succeed" — here: needs 5 GB of cluster-wide execution
  *     memory, spread over however many executors hold the input).
  */
final case class MemoryProfile(runs: Vector[Long],
                               baselines: Vector[Long],
                               inputBytes: Long,
                               spilledBytes: Long) {
  require(runs.nonEmpty)
  def best: Long = runs.min
  def worst: Long = runs.max
  def median: Double = {
    val s = runs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2).toDouble else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
  def mean: Double = runs.sum.toDouble / runs.size
  def std: Double =
    math.sqrt(runs.map(r => (r - mean) * (r - mean)).sum / runs.size)

  /** Median successive baseline increase (bytes/run); persistently
    * positive across many runs indicates a leak (reference
    * `baseline_change`, benchmark.py:341-346).
    */
  def baselineChange: Double = {
    val diffs = baselines.zip(baselines.drop(1)).map { case (a, b) => b - a }
    if (diffs.isEmpty) 0.0
    else {
      val s = diffs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2).toDouble else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
  }

  /** Median peak execution memory per input byte read; NaN when the
    * input was not read from a measurable source (e.g. an in-memory
    * literal relation — no scan, no bytes).
    */
  def ratio: Double =
    if (inputBytes <= 0) Double.NaN else median / inputBytes

  override def toString: String =
    s"peak exec best ${Format.bytes(best)} median " +
      f"${Format.bytes(median.toLong)} worst ${Format.bytes(worst)} " +
      f"(ratio $ratio%.2fx of ${Format.bytes(math.max(inputBytes, 0))} " +
      s"input, spill ${Format.bytes(spilledBytes)}, " +
      s"baselineChange ${baselineChange.toLong} B/run, n=${runs.size})"
}

/** Profiles the cluster-side memory of one DataFrame transformation:
  * per repetition, forces the full plan through the noop sink
  * ([[Force]] — all rows, all columns, nothing pruned) under
  * [[RunMetrics.measure]], which counts only that repetition's jobs, and
  * reads its peak execution memory, input bytes and spilled bytes.
  */
final class SparkMemoryProfiler(reps: Int = 5) {
  require(reps > 0)

  private def usedHeap(): Long = {
    val rt = Runtime.getRuntime
    rt.totalMemory() - rt.freeMemory()
  }

  def profile(input: DataFrame)(op: DataFrame => DataFrame): MemoryProfile = {
    val (baselines, totals) = Vector.fill(reps) {
      System.gc()
      (usedHeap(), RunMetrics.measure(input.sparkSession)(Force(op(input)))._2)
    }.unzip
    MemoryProfile(totals.map(_.peakExecutionMemory), baselines,
      totals.map(_.inputBytes).max, totals.map(_.spilledBytes).max)
  }
}
