package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal, Multiply, Subtract, UnscaledValue}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.plans.{SumProd128, SumUnscaled128}

/** Table loading + cross-engine determinism helpers shared by every query.
  *
  * Provenance: SURVEY.md §1.2 (measured schemas), Appendix A (determinism
  * rules). The reference (Morphl-AI/MorphL-Community-Edition) stores rows in
  * Cassandra and processes them as Spark DataFrames [SURVEY §1.1]; our engine
  * reads columnar parquet straight into DataFrames so Catalyst gets
  * pushdown/pruning for free.
  *
  * Scale notes (100 TB): all helpers are pure `Column` expressions — they stay
  * inside whole-stage codegen and never force a UDF/driver roundtrip. Decimal
  * fixed-point is used for every SUM so results are independent of partition
  * count and reduce order (FP addition is not associative; exact decimal is),
  * which is what makes the same query hash-identical at local[32] and on a
  * 1000-executor cluster.
  */
object Tables {

  /** Load one of the driver-provided parquet tables (TESTDATA.md).
    *
    * `events.parquet` has shipped with two physical encodings of the same
    * logical `ts` column across testdata generations:
    *   - TIMESTAMP(NANOS): Spark's vectorized reader surfaces it as raw
    *     BIGINT nanos (with legacy.parquet.nanosAsLong=true, set at session
    *     build by every entry point); we rebuild a TIMESTAMP_NTZ at micro
    *     precision (lossless: values are microsecond-aligned).
    *   - TIMESTAMP_MICROS (isAdjustedToUTC=false): Spark reads it natively
    *     as TIMESTAMP_NTZ (or TIMESTAMP under older session defaults); we
    *     just normalize to NTZ.
    * A lake engine must tolerate benign physical re-encodings of the same
    * logical schema, so we branch on the *actual read schema* rather than
    * assuming one encoding. NTZ matches the naive timestamps DuckDB and the
    * other tables use.
    */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val raw = parquet(spark, s"$sfDir/$name.parquet")
    if (name == "events") {
      raw.schema("ts").dataType match {
        case LongType => // legacy TIMESTAMP(NANOS) read as raw nanos
          raw.withColumn("ts",
            expr("timestamp_micros(ts div 1000)").cast(TimestampNTZType))
        case TimestampNTZType => raw
        case _: TimestampType =>
          raw.withColumn("ts", col("ts").cast(TimestampNTZType))
        case other =>
          throw new IllegalStateException(
            s"events.ts has unsupported physical type $other")
      }
    } else raw
  }

  /** A parquet read whose schema is bound without a Spark job: for a
    * single file, the footer's schema as Spark's inference converts it
    * ([[org.apache.spark.sql.graft.FooterSchema]]), given to the reader;
    * any other path is read with Spark's own inference. */
  private[graft] def parquet(spark: SparkSession, path: String): DataFrame =
    org.apache.spark.sql.graft.FooterSchema.of(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  val D184: DecimalType = DecimalType(18, 4)
  val D122: DecimalType = DecimalType(12, 2)
  val D42: DecimalType  = DecimalType(4, 2)
  val D384: DecimalType = DecimalType(38, 4)
  val D386: DecimalType = DecimalType(38, 6)

  /** Fixed-point cast for order-independent exact sums (SURVEY App. A r2). */
  def dec4(c: Column): Column = c.cast(D184)

  /** Money columns in this dataset are true 2-dp values stored as double. */
  def money(c: Column): Column = c.cast(D122)

  // ---- 128-bit integer spellings of the exact sums (OPTIMIZATION r16) ----
  //
  // Measured first (FloorProbe, guide §1): Spark's SUM over DECIMAL(18,4)
  // carries a DECIMAL(28,4) buffer — past Decimal's 18-digit compact-long
  // range — so every per-row update allocates java.math.BigDecimals; a
  // 4-sum groupBy ran 1.24–1.41 s warm at sf0.1 vs 0.60 s with integer
  // buffers. The quantization (one decimal CAST per row) is unchanged;
  // only the accumulation switches to an exact 128-bit integer
  // (plans/SumExprs.scala), which is associative and order-independent
  // exactly like decimal addition, so results are bit-identical. The
  // final DECIMAL(38,s) -> DOUBLE conversion happens once per group,
  // through the same value space as before.
  private def expr2col(e: Expression): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(e)

  private def col2expr(c: Column): Expression =
    org.apache.spark.sql.graft.ColumnBridge.expression(c)

  /** Exact unscaled value (x·10^4 as BIGINT) of the dec4 quantization. */
  private def unscaled4(c: Column): Column =
    expr2col(UnscaledValue(col2expr(dec4(c))))

  /** 128-bit exact SUM of a pre-scaled BIGINT column, as DECIMAL(38,s). */
  def sum128(c: Column, scale: Int): Column =
    expr2col(SumUnscaled128(col2expr(c), scale)
      .toAggregateExpression())

  /** Exact decimal SUM (order-independent), emitted as DOUBLE: both engines
    * convert the exact decimal to the nearest double identically (verified:
    * DuckDB's decimal->double cast is correctly rounded even past 2^53
    * scaled), and double columns materialize identically through every
    * parquet/pandas path — DECIMAL output columns do not.
    *
    * Spelled as the 128-bit integer sum of the dec4 unscaled value: same
    * per-row quantization, same exact total, same DECIMAL(38,4)->DOUBLE
    * final conversion — but the per-row accumulate is codegen'd long
    * arithmetic instead of BigDecimal allocation (see sum128). */
  def sum4(c: Column): Column = sum128(unscaled4(c), 4).cast(DoubleType)

  /** Truncate a double to 4dp. Unlike round(), floor() on the *same* double
    * bits gives the same answer in Spark (Math.floor) and DuckDB (std::floor)
    * — round() diverges because Spark rounds the shortest decimal repr
    * (BigDecimal via Double.toString) while DuckDB rounds the binary value.
    */
  def trunc4(c: Column): Column = floor(c * lit(10000)) / lit(10000.0)

  /** [[trunc4]] of one double on the driver, bit for bit: Spark's floor
    * to a long (NaN → 0), then /1e4. */
  def trunc4(x: Double): Double = math.floor(x * 10000).toLong / 10000.0

  def trunc6(c: Column): Column = floor(c * lit(1000000)) / lit(1000000.0)

  /** The first `k` hex digits of md5(c) as a decimal string — the
    * portable, partition-proof hash prefix (unlike hash()) behind hashed
    * splits, buckets, samples and A/B arms; callers cast it to a number.
    * `c` goes to md5 as given (a string binds through an implicit cast to
    * binary). Oracle twin [[oMd5Prefix]]. */
  def md5Prefix(c: Column, k: Int): Column = conv(substring(md5(c), 1, k), 16, 10)

  /** The hashed A/B arm (0 or 1) of a key: the first 16 bits of md5 of its
    * string form, mod 2. Oracle twin [[oAbArm]]. */
  def abArm(c: Column): Column = md5Prefix(c.cast(StringType), 4).cast(LongType) % 2

  /** Whitespace tokens of a text column: split on " ", empty tokens
    * dropped (`split` yields no null elements, so removing "" is the whole
    * filter). */
  def tokens(text: Column): Column = array_remove(split(text, " "), "")

  /** Deterministic mean: exact decimal sum -> double -> truncate. */
  def avg4(c: Column): Column =
    trunc4(sum128(unscaled4(c), 4).cast(DoubleType) / count(lit(1)))

  /** 128-bit spelling of `sum(revenue).cast(DOUBLE)`: the per-row product
    * is cents(price) · (100 − cents'(disc)) — two exact BIGINTs whose
    * product is the revenue term scaled 10^4 (≤ ~1e11/row, no overflow) —
    * summed 128-bit, emitted through the same DECIMAL(38,4) -> DOUBLE
    * path. Replaces a per-row decimal multiply + BigDecimal-buffered sum. */
  def sumRevenue: Column =
    sum128(unscaledMoney(col("l_extendedprice")) *
      (lit(100L) - unscaledD42(col("l_discount"))), 4).cast(DoubleType)

  /** 128-bit spelling of `sum(charge).cast(DOUBLE)`: revenue-scaled-1e4
    * times (100 + cents'(tax)) is the charge term scaled 10^6. */
  def sumCharge: Column =
    sum128(unscaledMoney(col("l_extendedprice")) *
      (lit(100L) - unscaledD42(col("l_discount"))) *
      (lit(100L) + unscaledD42(col("l_tax"))), 6).cast(DoubleType)

  /** 128-bit spelling of `sum((dec4(x)·dec4(y)).cast(DECIMAL(38,8)))`:
    * the exact moment sums (corr/OLS). Product of two 1e4-unscaled longs
    * is the moment scaled 10^8; per-row magnitude ≤ ~5e14, summed 128-bit.
    * Emitted as the same DECIMAL(38,8). */
  def sumProd8(x: Column, y: Column): Column =
    sum128(unscaled4(x) * unscaled4(y), 8)

  /** 128-bit spelling of `sum(dec4(c))` kept as DECIMAL (for moment sums
    * whose double cast happens downstream). Wider declared type
    * (DECIMAL(38,4) vs (28,4)) but the identical exact value. */
  def sumDec4(c: Column): Column = sum128(unscaled4(c), 4)

  /** Exact cents (x·10² as BIGINT) of the money quantization. */
  def cents(c: Column): Column = unscaledMoney(c)

  /** The exact 1e4-unscaled BIGINT of the dec4 quantization (public
    * twin of the private helper, for power-sum call sites). */
  def unscaled4Col(c: Column): Column = unscaled4(c)

  /** 128-bit SUM of the per-row 128-bit PRODUCT a·b of two BIGINT
    * columns, as DECIMAL(38,s) — for power/moment sums whose per-row
    * value itself exceeds 64 bits (c³, c⁴, squares of unbounded
    * columns). Values identical to `sum((decA·decB).cast(DECIMAL))`. */
  def sumProd128(a: Column, b: Column, scale: Int): Column =
    expr2col(SumProd128(col2expr(a), col2expr(b), scale)
      .toAggregateExpression())

  private def unscaledMoney(c: Column): Column =
    expr2col(UnscaledValue(col2expr(money(c))))

  private def unscaledD42(c: Column): Column =
    expr2col(UnscaledValue(col2expr(c.cast(D42))))

  /** The 128-bit sums under the SQL names the SQL-text keys (pipe
    * syntax, UNPIVOT, TPC-H Q3 text) call them by, bound into the parsed
    * text by [[org.apache.spark.sql.graft.SqlText]] — no session
    * function registry entry:
    *  - `g_sum4u(x)`   == SUM(CAST(x AS DECIMAL(18,4))) as DECIMAL(38,4)
    *  - `g_revsum4u(p, d)` == SUM(CAST(p AS DECIMAL(12,2)) *
    *    (1 - CAST(d AS DECIMAL(4,2)))) as DECIMAL(38,4)
    *  - `g_revrow4u(p, d)`: the exact 1e4-scaled BIGINT revenue term of
    *    one row (scalar)
    *  - `g_sumu4(x)`: the sum of an ALREADY 1e4-scaled BIGINT column
    * (same per-row quantization casts; only the accumulation changes —
    * values bit-identical, see sum128). */
  val sqlIntSums: Map[String, Seq[Expression] => Expression] = {
    def revRow(es: Seq[Expression]): Expression =
      Multiply(UnscaledValue(Cast(es.head, D122)),
        Subtract(Literal(100L), UnscaledValue(Cast(es(1), D42))))
    Map(
      "g_sum4u" -> ((es: Seq[Expression]) =>
        SumUnscaled128(UnscaledValue(Cast(es.head, D184)), 4)),
      "g_revsum4u" -> ((es: Seq[Expression]) => SumUnscaled128(revRow(es), 4)),
      "g_revrow4u" -> revRow _,
      "g_sumu4" -> ((es: Seq[Expression]) => SumUnscaled128(es.head, 4)))
  }

  // ---- Oracle-side (DuckDB SQL) twins of the helpers above ----

  def oSum4(x: String): String =
    s"CAST(SUM(CAST($x AS DECIMAL(18,4))) AS DOUBLE)"

  def oAvg4(x: String): String =
    s"floor(CAST(SUM(CAST($x AS DECIMAL(18,4))) AS DOUBLE)/count(*)*10000)/10000.0"

  def oTrunc4(x: String): String = s"floor(($x)*10000)/10000.0"

  def oTrunc6(x: String): String = s"floor(($x)*1000000)/1000000.0"

  /** Oracle twin of [[md5Prefix]], already a BIGINT. */
  def oMd5Prefix(x: String, k: Int): String =
    s"CAST(concat('0x', substr(md5($x), 1, $k)) AS BIGINT)"

  def oAbArm(x: String): String = s"${oMd5Prefix(s"CAST($x AS VARCHAR)", 4)} % 2"

  /** Exact revenue term: price * (1 - discount), all decimal, scale 4. */
  def revenue: Column =
    (money(col("l_extendedprice")) * (lit(1) - col("l_discount").cast(D42)))

  val oRevenue: String =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"

  /** price * (1-disc) * (1+tax): true scale 6, kept exact end-to-end. */
  def charge: Column =
    revenue * (lit(1) + col("l_tax").cast(D42))

  val oCharge: String = s"$oRevenue * (1 + CAST(l_tax AS DECIMAL(4,2)))"
}
