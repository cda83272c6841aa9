package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Cross-engine determinism toolkit.
  *
  * The driver's correctness gate hash-compares Spark results against a
  * DuckDB oracle, so every floating-point expression in an oracled query
  * must be **bit-identical** across engines. Two disciplines make that
  * true:
  *
  *  1. **Decimal-exact aggregation** — `sum(double)` is
  *     accumulation-order-dependent; `sum(decimal)` is exact and
  *     order-independent, and a final `cast(decimal → double)` is a single
  *     deterministic IEEE rounding in both engines.
  *  2. **md5-derived hashing** — Spark's `hash()` (Murmur3) and DuckDB's
  *     `hash()` differ, but `md5(s)` is identical; the first 8 hex chars
  *     parsed as an unsigned 32-bit int give a portable uniform hash.
  *
  * These helpers are used by every oracled query. Where raw throughput
  * matters more than oracle parity (a production deployment with no
  * cross-engine check), `xxhash64`/`hash` can replace [[md5u32]]
  * drop-in — the sketch math in [[graft.operators.Dedup]] only needs a
  * uniform 32-bit hash, not this specific one.
  */
object Parity {

  /** Exact-decimal view of a money/measure double column (values ≤ ~1e8,
    * ≤ 4 meaningful decimal digits in the testdata). */
  def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Narrower decimal for small factors (discount/tax ∈ [0, 1]) so
    * decimal multiplication stays well inside precision 38. */
  def dec4(c: Column): Column = c.cast(DecimalType(12, 4))

  /** Portable decimal→double conversion, bit-identical across engines.
    *
    * A plain `CAST(decimal AS DOUBLE)` diverges between engines once the
    * decimal's scaled integer exceeds 2^53: Java (Spark) correctly rounds
    * the exact value, DuckDB divides two already-rounded doubles. Splitting
    * into integer + fraction keeps every intermediate exactly
    * representable, so both engines perform the identical single IEEE
    * rounding: `floor(x)::bigint::double + (x - floor(x))::double`. */
  def decToDouble(c: Column): Column =
    floor(c).cast("bigint").cast(DoubleType) + (c - floor(c)).cast(DoubleType)

  /** SQL fragment producing the same value as [[decToDouble]] in DuckDB. */
  def d2dSql(e: String): String =
    s"(CAST(CAST(FLOOR($e) AS BIGINT) AS DOUBLE) + CAST(($e) - FLOOR($e) AS DOUBLE))"

  /** Order-independent sum of a double column, returned as double.
    * Two-limb long aggregation ([[LimbSum]]) — bit-identical to the
    * legacy decimal-buffer form `decToDouble(sum(dec(c)))`
    * (`LimbSumSpec`-pinned) with no Decimal buffer in the plan. */
  def dsum(c: Column): Column = LimbSum.limbSum(LimbSum.u4(c), 4)

  /** Deterministic average: exact decimal sum, then one double division.
    * (Built-in `avg(double)` accumulates in double → order-dependent.) */
  def davg(c: Column): Column =
    dsum(c) / count(lit(1)).cast(DoubleType)

  /** Exact revenue term: extendedprice * (1 - discount), all decimal. */
  def revenue(price: Column, discount: Column): Column =
    dec(price) * (lit(1).cast(DecimalType(12, 4)) - dec4(discount))

  /** Order-independent sum of the revenue term, as double: fused
    * unscaled-long product (scale 8) + two-limb sum — bit-identical to
    * the legacy decimal-buffer form `decToDouble(sum(revenue(price,
    * discount)))` (`LimbSumSpec`-pinned). */
  def dsumRevenue(price: Column, discount: Column): Column =
    LimbSum.limbSum(LimbSum.revU8(price, discount), 8)

  /** Portable uniform hash: unsigned 32-bit int from the md5 hex prefix.
    * DuckDB equivalent: `('0x' || substr(md5(x), 1, 8))::BIGINT`. */
  def md5u32(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast(LongType)

  /** SQL fragment producing the same value as [[md5u32]] in DuckDB. */
  def md5u32Sql(expr: String): String =
    s"(('0x' || substr(md5($expr), 1, 8))::BIGINT)"

  /** Second independent 32-bit lane of the same md5: hex chars 9–16.
    * Paired with [[md5u32]] it gives 64 bits of change-detection
    * fidelity while each lane stays a signed-BIGINT-safe value in both
    * engines (a single 64-bit unsigned parse would overflow DuckDB's
    * BIGINT for high-bit hashes). Collision bound for the manifest
    * family's XOR checksums: ~2^-64 per source-diff with both lanes,
    * vs ~2^-32 single-lane. */
  def md5u32b(c: Column): Column =
    conv(substring(md5(c.cast("string")), 9, 8), 16, 10).cast(LongType)

  /** SQL fragment producing the same value as [[md5u32b]] in DuckDB. */
  def md5u32bSql(expr: String): String =
    s"(('0x' || substr(md5($expr), 9, 8))::BIGINT)"

}
