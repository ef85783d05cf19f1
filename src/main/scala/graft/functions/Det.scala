package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.expressions

/** Deterministic, oracle-safe numeric helpers.
  *
  * Summing doubles is order-dependent, and shuffle order differs run to
  * run and engine to engine. Every oracle-checked aggregate therefore
  * casts to DECIMAL(38,6) first (exact integer arithmetic, associative),
  * sums exactly, and converts to double only at the very end — the same
  * recipe the paired DuckDB oracle SQL uses, giving bit-identical output
  * regardless of partitioning, AQE re-plans, or engine.
  *
  * This is also the 100 TB-safe pattern: decimal sums stay inside
  * whole-stage codegen and partial (map-side) aggregation still applies.
  */
object Det {
  private val Dec = DecimalType(38, 6)
  private val DecWide = DecimalType(38, 0)

  /** Exact sum of a numeric column, returned as double.
    *
    * Each value is rounded to 6 decimal places once, by the codegen'd
    * [[graft.expressions.ToFixed6]] expression — the identical HALF_UP
    * rounding a `DECIMAL(38,6)` cast (and the DuckDB oracle) performs,
    * but as primitive arithmetic instead of a per-row
    * `Double.toString` + BigDecimal. The resulting unscaled long is
    * split into three 20-bit limbs summed as plain codegen'd LONG
    * aggregates — exact, associative, map-side-combined, and free of
    * per-row decimal allocation (≈4× on the 4-sum q01 shape at sf0.1,
    * 1.6 s → 0.38 s; BASELINE.md, round 2). Limb sums stay inside long
    * range for < 2⁴³ rows per group (ample at 100 TB); the limbs are reassembled
    * in decimal once per GROUP, and the exact total converts to double
    * once at the end — bit-identical to a decimal-sum implementation
    * and to the oracle.
    *
    * Input domain: |x| < 10¹² (beyond it the value nulls out and is
    * skipped by the sum — the non-ANSI cast-overflow behavior; every
    * dataset column summed here is orders of magnitude below the cap).
    *
    * ORACLE-EXACTNESS envelope is tighter: |x| ≲ 9·10⁹ (2⁵³/10⁶).
    * Above that, the ×10⁶ fixed-point product exceeds double's exact
    * integer range, so the per-value rounding can differ by 1 μunit
    * from a true `DECIMAL(38,6)` cast — deterministic within Spark but
    * not bit-identical to the oracle. For larger magnitudes (e.g.
    * price² in q95_corr_covar) sum a true decimal cast instead:
    * `sum(col.cast(DecimalType(18,2)) * …)` stays exact at any scale.
    */
  def dsum(c: Column): Column = {
    val v = GraftBridge.column(
      expressions.ToFixed6(GraftBridge.expression(c.cast(DoubleType))))
    val s0 = sum(v.bitwiseAND(lit(0xFFFFFL)))
    val s1 = sum(shiftright(v, 20).bitwiseAND(lit(0xFFFFFL)))
    val s2 = sum(shiftright(v, 40))
    val total = s0.cast(DecWide) +
      s1.cast(DecWide) * lit(1048576L) +         // 2^20
      s2.cast(DecWide) * lit(1099511627776L)     // 2^40
    (total / lit(1000000L)).cast(DoubleType)
  }

  /** Exact-sum average, returned as double (one final IEEE division). */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** Windowed exact sum (same decimal trick over a frame). */
  def dsumOver(c: Column, w: WindowSpec): Column =
    sum(c.cast(Dec)).over(w).cast(DoubleType)

  /** Portable 60-bit hash: first 15 hex chars of md5, as a positive
    * BIGINT. Engine-independent (md5 is md5 everywhere), unlike
    * xxhash64/murmur whose seeds/variants differ between Spark and
    * DuckDB. Used for dedup fingerprints, MinHash permutations, LSH.
    * Runs as the codegen [[graft.expressions.Md560]] expression (one
    * thread-local digest, no hex round-trip) — bit-identical to
    * `conv(substring(md5(c), 1, 15), 16, 10)`.
    */
  def h60(c: Column): Column =
    GraftBridge.column(expressions.Md560(GraftBridge.expression(c)))

  /** Seeded variant: distinct hash families per seed. NULL input hashes
    * as the empty string on BOTH engines (DuckDB's concat ignores NULL
    * args while Spark's propagates them — coalesce pins the semantics).
    */
  def h60(c: Column, seed: Int): Column =
    h60(concat(lit(seed.toString), lit(":"), coalesce(c, lit(""))))

  /** Driver-side twin of [[h60]] for precomputing literal hash tables
    * (e.g. LSH plane signs) without per-row hashing. Must stay
    * bit-compatible with the Column/oracle forms (see FunctionsSpec).
    */
  def h60Local(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    val hex = d.map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  // ---- Oracle-SQL fragments mirroring the Column helpers above ----
  def oSum(e: String): String =
    s"CAST(SUM(CAST(($e) AS DECIMAL(38,6))) AS DOUBLE)"
  def oAvg(e: String): String = s"${oSum(e)} / COUNT(($e))"
  def oH60(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"
  def oH60(e: String, seed: Int): String =
    oH60(s"concat('$seed', ':', COALESCE($e, ''))")
}
