package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Portable deterministic hashing — the same values computable by Spark
  * (Catalyst built-ins / JVM MessageDigest) AND by an ANSI-ish SQL engine
  * (the driver's DuckDB oracle). Everything is derived from md5 hex
  * digests, the one cryptographic hash both engines expose identically.
  *
  * Two primitives:
  *  - a 48-bit non-negative long from the first 12 hex chars (bit-level
  *    ops like SimHash; 48 bits keeps every value exact in a double, so
  *    no SQL engine loses precision);
  *  - a ±1 sign from the parity of the first hex nibble (LSH hyperplanes).
  *
  * Each Spark-side definition has a `duck*` twin emitting the equivalent
  * DuckDB SQL text, used by SparkEntry.oracleSql so the two sides can
  * never drift apart silently.
  */
object PortableHash {

  // -------------------------------------------------------- Spark columns

  val Mask48 = 0xFFFFFFFFFFFFL

  /** odd multiplier < 2^14 for family member #i (multiply-shift family;
    * a_i * base < 2^62 keeps every product exact in signed 64-bit on BOTH
    * engines — DuckDB raises on BIGINT overflow). */
  def affineA(i: Int): Long = ((40503L * i + 12345L) % 16000L) | 1L

  /** hash function #i of a family as a 48-bit LONG, derived from ONE md5
    * per input value: h_i = (a_i * md5Long48(s) + i) & (2^48-1). One
    * digest amortized over the whole family (k=64 MinHash costs 1 md5 +
    * 64 multiply-adds per shingle, not 16 digests), and the fixed-width
    * value keeps min-aggregations in HashAggregate (min over var-length
    * strings falls back to SortAggregate — a full sort of the exploded
    * table). Multiply-shift is the standard way to spawn a MinHash family
    * from one base hash. */
  def familyHashLong(i: Int, s: Column): Column =
    familyHashLongOverBase(i, md5Long48(s))

  /** hash #i over an ALREADY-computed md5Long48 base column — the
    * explicit-sharing form: ops that evaluate a whole family (MinHash
    * k=64, winnowing k=8, Bloom k=7) project the base once and apply the
    * k multiply-adds over it, guaranteeing one digest per value instead
    * of relying on subexpression elimination across k expressions (r9). */
  def familyHashLongOverBase(i: Int, base: Column): Column =
    (base * lit(affineA(i)) + lit(i.toLong)).bitwiseAND(lit(Mask48))

  /** 48-bit non-negative long from the first 12 hex chars of md5(s) —
    * the native codegen'd expression (one digest, no hex-string /
    * substring / conv intermediates; equivalence with the composed form
    * is property-tested in PortableHashSpec). Requires the function
    * registered in the session — every op that builds this column calls
    * `ZhFunctions.register` (idempotent) on its input's session.
    * Honest measurement note: an interleaved local[32] A/B against the
    * composed form was INCONCLUSIVE (runs swing ±30% with box noise,
    * mins landed on either side across experiments) — the native form is
    * kept for its allocation profile (no 32-char hex UTF8String +
    * substring + base-16 parse per hashed value), which matters on
    * CPU-bound cluster hash stages, not for a claimed local speedup. */
  def md5Long48(s: Column): Column =
    org.apache.spark.sql.functions.call_function("md5_long48", s)

  /** the original Catalyst-built-in composition — kept as the equivalence
    * reference and for registry-less sessions. */
  def md5Long48Composed(s: Column): Column =
    conv(substring(md5(s), 1, 12), 16, 10).cast("long")

  // ------------------------------------------------------------ JVM twins

  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** thread-cached digest (r9): the JVM twins run inside per-gram /
    * per-token hot loops (simhash, the JVM gram tables) where a
    * MessageDigest.getInstance per call was measurable allocation. */
  private def digest(s: String): Array[Byte] = {
    val md = mdLocal.get()
    md.reset()
    md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** JVM twin of md5Long48 (typed mapPartitions paths): first 6 digest
    * bytes big-endian == first 12 hex chars parsed base-16. */
  def md5Long48Jvm(s: String): Long = {
    val d = digest(s)
    ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) | ((d(2) & 0xffL) << 24) |
      ((d(3) & 0xffL) << 16) | ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
  }

  /** ±1.0 from the parity of md5's first hex nibble of "<p>,<d>" — the
    * deterministic hyperplane component for LSH. Data-independent, so
    * Spark evaluates it driver-side into literal arrays. */
  def planeSign(p: Int, d: Int): Double = {
    val b0 = digest(s"$p,$d")(0)
    if (((b0 >> 4) & 1) == 1) 1.0 else -1.0
  }

  // ------------------------------------------------- DuckDB SQL emitters

  /** DuckDB twin of familyHashLong (exact BIGINT arithmetic). */
  def duckFamilyHashLong(i: Int, expr: String): String =
    s"((${affineA(i)} * ${duckMd5Long48(expr)} + $i) & ${Mask48})"

  /** DuckDB twin of familyHashLong where the base md5Long48 value is
    * already materialized as column `baseCol` and the family index is a
    * SQL expression `iExpr`. */
  def duckFamilyHashLongOver(baseCol: String, iExpr: String): String =
    s"((((40503 * ($iExpr) + 12345) % 16000) | 1) * $baseCol + ($iExpr)) & ${Mask48}"

  /** DuckDB twin of md5Long48: nibble-weighted sum of the first 12 hex
    * chars (exact BIGINT arithmetic via shifts, no double rounding). */
  def duckMd5Long48(expr: String): String =
    s"""CAST(list_sum(list_transform(generate_series(1, 12), mi ->
       |    CAST(strpos('0123456789abcdef', substr(md5($expr), mi, 1)) - 1 AS BIGINT)
       |      * (CAST(1 AS BIGINT) << CAST((12 - mi) * 4 AS BIGINT)))) AS BIGINT)""".stripMargin

  /** DuckDB twin of planeSign: odd first nibble → +1.0 else -1.0.
    * `pExpr`/`dExpr` are integer SQL expressions. */
  def duckPlaneSign(pExpr: String, dExpr: String): String =
    s"(CASE WHEN strpos('13579bdf', substr(md5(CAST($pExpr AS VARCHAR) || ',' || CAST($dExpr AS VARCHAR)), 1, 1)) > 0 THEN 1.0 ELSE -1.0 END)"
}
