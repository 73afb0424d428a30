package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable deterministic primitives.
  *
  * Every dedup / similarity operator is verified against a DuckDB oracle
  * that recomputes the same result independently, so all hashing and
  * quantization must produce bit-identical values in both engines. The
  * common denominator is MD5 (identical everywhere) and 64-bit integer
  * arithmetic (exact everywhere):
  *
  *   - token hash  = first 8 hex chars of md5 as unsigned 32-bit int
  *   - embeddings  = quantized to `round(x * 10000)` longs; float*10^4 is
  *     exact in double (24-bit mantissa * 14 bits < 53), and (k+0.5)/10^4
  *     is not binary-representable, so the round is never on a .5 boundary
  *     => identical integers in Spark and DuckDB
  *   - derived doubles (ratios, cosines) are computed from identical
  *     integers with single IEEE ops (div/sqrt are correctly rounded), so
  *     they are bit-identical too
  */
object Portable {

  /** Unsigned 32-bit hash of a string, identical in Spark and DuckDB:
    * Spark `conv(substr(md5(s),1,8),16,10)`, DuckDB
    * `CAST('0x'||substr(md5(s),1,8) AS BIGINT)`.
    */
  def tokenHash(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** First 4 md5 digest bytes as an unsigned 32-bit int — the ONE place
    * encoding the cross-engine hash contract for JVM-side callers.
    */
  def md5Prefix(digest: Array[Byte]): Long =
    ((digest(0) & 0xffL) << 24) | ((digest(1) & 0xffL) << 16) |
      ((digest(2) & 0xffL) << 8) | (digest(3) & 0xffL)

  /** Same hash computed driver-side (for embedding constants into plans). */
  def tokenHashLocal(s: String): Long =
    md5Prefix(MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8)))

  private val md5Pool = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** Full-width 64-bit line fingerprint (first 8 md5 digest bytes,
    * big-endian) — the broadcast hot-set membership key: 8 bytes per
    * hot line instead of the raw string, so a 100 TB-corpus hot set
    * (maxHotLines = 4M default) broadcasts as ~32 MB instead of
    * multi-GB of text. False-positive bound for membership of n
    * distinct probe lines against m hot lines: ~n*m/2^64 (~5e-7 even
    * at n = m = 2^26). Thread-local digest — this runs per line in
    * the strip hot path.
    */
  def lineHash64Local(s: String): Long = {
    val d = md5Pool.get().digest(s.getBytes(StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
  }

  /** Whitespace tokens of trimmed, lower-cased text. */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** Distinct word n-gram shingles of a token array (1-based slice).
    * Guarded for < n tokens: Spark's `sequence(1, 0)` would count DOWN,
    * so short docs explicitly get an empty shingle set.
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n))))))
      .otherwise(array().cast("array<string>"))

  /** Driver/executor-side mirror of [[tokens]] + [[shingles]]: distinct
    * word n-gram shingles of the text. Used by the typed flatMap shingle
    * producers — Spark's higher-order array lambdas (transform/aggregate)
    * run interpreted, which makes the pure-expression formulation ~100x
    * slower than JVM string ops for generator-shaped work; the flatMap
    * keeps the exact same semantics (same regex, ASCII-stable lowercase).
    */
  def shinglesLocal(text: String, n: Int): Array[String] = {
    // null text => no shingles, matching the expression path (shingles()
    // yields NULL, which explode drops) and the DuckDB oracle
    if (text == null) return Array.empty
    val toks = tokensLocal(text)
    if (toks.length < n) Array.empty
    else {
      val out = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i <= toks.length - n) {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = 1
        while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
        out.add(sb.toString)
        i += 1
      }
      out.toArray(new Array[String](out.size))
    }
  }

  /** Driver/executor-side mirror of [[tokens]] — whitespace tokens of
    * trimmed, lower-cased text. Exactness notes: Spark/DuckDB `trim()`
    * strips 0x20 ONLY (Java's String.trim strips all chars <= U+0020 and
    * would tokenize differently); Spark's `split()` keeps trailing empty
    * tokens (Java's default limit 0 drops them), hence limit -1. Null in,
    * null out (like the expression).
    */
  def tokensLocal(text: String): Array[String] = {
    if (text == null) return null
    var from = 0
    var until = text.length
    while (from < until && text.charAt(from) == ' ') from += 1
    while (until > from && text.charAt(until - 1) == ' ') until -= 1
    text.substring(from, until)
      .toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
  }

  /** (id, shingle-set-size, shingle) rows via typed flatMap — one JVM
    * pass per document, no shuffle, exact [[shingles]] semantics.
    */
  def shingleRows(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, n: Int): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val sh = shinglesLocal(text, n)
        sh.map(s => (id, sh.length.toLong, s))
      }
      .toDF(idCol, "sz", "shingle")
  }

  /** (id, shingle-hash) rows via typed flatMap: first 8 md5 hex chars as
    * unsigned 32-bit int, identical to [[tokenHash]].
    */
  def shingleHashRows(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, n: Int): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          shinglesLocal(text, n).map { s =>
            md.reset()
            (id, md5Prefix(md.digest(s.getBytes(StandardCharsets.UTF_8))))
          }
        }
      }
      .toDF(idCol, "hv")
  }

  /** Embedding quantization: array<float> -> array<long> at 1e4 scale. */
  def quantize(arr: Column): Column =
    transform(arr, x => round(x.cast("double") * 10000).cast("long"))

  /** (id, q, nrm, buckets) rows via typed map: quantized vector, squared
    * norm, and one sign-bucket value per `groupSize`-sized group of
    * `planes` (empty `planes` => empty buckets). JVM integer arithmetic,
    * bit-identical to the expression/oracle formulation, but ~100x faster
    * than interpreted array lambdas for the 32-plane dot products.
    */
  def quantizedRows(df: org.apache.spark.sql.DataFrame, idCol: String,
                    vecCol: String, planes: Array[Array[Long]],
                    groupSize: Int): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .map { case (id, vec) =>
        val expectedDim = if (planes.isEmpty) -1 else planes.head.length
        require(expectedDim < 0 || vec.length == expectedDim,
          s"embedding id=$id has ${vec.length} dims, hyperplanes expect " +
            s"$expectedDim; configure `dim` to the actual vector length")
        val q = new Array[Long](vec.length)
        var i = 0
        var nrm = 0L
        while (i < vec.length) {
          val v = Math.round(vec(i).toDouble * 10000)
          q(i) = v; nrm += v * v; i += 1
        }
        val buckets =
          if (planes.isEmpty) Array.empty[Long]
          else planes.grouped(groupSize).map { group =>
            var bucket = 0L
            var p = 0
            while (p < group.length) {
              var dot = 0L
              var d = 0
              while (d < q.length) { dot += q(d) * group(p)(d); d += 1 }
              if (dot >= 0) bucket |= (1L << p)
              p += 1
            }
            bucket
          }.toArray
        (id, q, nrm, buckets)
      }
      .toDF(idCol, "q", "nrm", "buckets")
  }

  /** Hyperplane matrix rows j = from until to, each `dim` wide. */
  def hyperplaneMatrix(from: Int, until: Int, dim: Int): Array[Array[Long]] =
    (from until until).map(j =>
      (0 until dim).map(i => hyperplane(j, i)).toArray).toArray

  /** Squared L2 norm of a quantized (long) vector (codegen'd primitive
    * loop via [[LongArrayDot]]).
    */
  def qNormSq(q: Column): Column = ArrayOps.longArrayDot(q, q)

  /** Dot product of two equal-length quantized vectors — a native
    * Catalyst expression with `doGenCode` ([[LongArrayDot]]); the
    * composable `aggregate(zip_with(...))` form runs interpreted and
    * allocates per row.
    */
  def qDot(a: Column, b: Column): Column = ArrayOps.longArrayDot(a, b)

  /** Cosine from integer dot + squared norms (bit-deterministic).
    * Zero-norm vectors get an explicit NaN: under ANSI mode (Spark 4's
    * default) the raw `0/0` division would THROW instead of yielding the
    * NaN that the driver-side scorers (`dot/math.sqrt`) and the DuckDB
    * oracle produce — the guard restores the one IEEE-semantics answer
    * all three paths share (and NaN stays "largest" in comparisons and
    * orderings on both engines).
    */
  def qCosine(dot: Column, na: Column, nb: Column): Column =
    when(na > 0 && nb > 0,
      dot.cast("double") / sqrt(na.cast("double") * nb.cast("double")))
      .otherwise(lit(Double.NaN))

  // ---------------------------------------------------------------------
  // Deterministic constant families (embedded as literals into BOTH the
  // Spark plan and the generated oracle SQL, so no cross-engine hashing
  // of the constants themselves is ever needed).
  // ---------------------------------------------------------------------

  /** MinHash universal-hash family h_i(x) = (a_i*x + b_i) mod P with
    * P prime > 2^32; a_i odd, bounded so a_i*x < 2^62.
    */
  val MinHashP: Long = 4294967311L
  def minHashA(i: Int): Long = 2 * (tokenHashLocal(s"mh-a:$i") % 536870912L) + 1
  def minHashB(i: Int): Long = tokenHashLocal(s"mh-b:$i")

  /** Per-document k-wide MinHash signature computed LOCALLY in one JVM
    * pass — exact mirror of the explode + `min((a_i*h + b_i) mod P)`
    * aggregation path (Dedup.minHashAggs over [[shingleHashRows]]): same
    * shingles, same [[tokenHashLocal]] hash, same coefficients, so the
    * two formulations are interchangeable row-for-row. The per-row shape
    * is what STREAMING ingest needs: a streaming groupBy(id) aggregation
    * would be stateful, while one doc's shingle set always fits memory.
    * Returns null when the doc has no shingles (matching the agg path,
    * where such docs simply produce no row).
    */
  def minHashSigLocal(text: String, n: Int, k: Int): Array[Long] = {
    val sh = shinglesLocal(text, n)
    if (sh.isEmpty) null
    else {
      val a = Array.tabulate(k)(minHashA)
      val b = Array.tabulate(k)(minHashB)
      val out = Array.fill(k)(Long.MaxValue)
      var j = 0
      while (j < sh.length) {
        val h = tokenHashLocal(sh(j))
        var i = 0
        while (i < k) {
          val v = (a(i) * h + b(i)) % MinHashP
          if (v < out(i)) out(i) = v
          i += 1
        }
        j += 1
      }
      out
    }
  }

  /** Random-hyperplane component r(plane j, dim i) in [-1000, 1000]. */
  def hyperplane(j: Int, i: Int): Long = tokenHashLocal(s"hp:$j:$i") % 2001L - 1000L
}
