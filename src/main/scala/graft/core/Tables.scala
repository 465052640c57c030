package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType}

/** Table loading + deterministic-arithmetic helpers.
  *
  * The engine's correctness gate is a differential compare against a DuckDB
  * oracle, so every aggregate we emit must be *bit-deterministic* across
  * engines. A double SUM depends on the order partitions combine in; an
  * integer sum does not (integer addition is associative). Every exact sum
  * is therefore an integer sum of scaled terms, converted back to double
  * once per group, and variance/correlation are fixed closed formulas over
  * those sums instead of the engines' (different) streaming algorithms.
  *
  * The sum contract, one kernel per path:
  *  - Decimal path, [[exactSum]] (DECIMAL(38,6)) and [[detSum]]
  *    (round(term, scale) as DECIMAL(38, scale+2), scale 12 by default):
  *    any magnitude the decimal holds, per-row BigDecimal cost. NULL, NaN
  *    and ±Inf terms are skipped; a group with no finite term sums to NULL.
  *  - Grid path, [[gridSum]] at scale 6 or 12: bit-identical to the
  *    decimal path at that scale (exactSum at 6, detSum at 12) while every
  *    scaled term k = round(term·10^scale) of a group lies in
  *    −2⁵¹ ≤ k < 2⁵¹, i.e. |term| < 2.25·10⁹ at scale 6 and |term| < 2251.8
  *    at scale 12. Per row it is branch-free long arithmetic; per group it
  *    checks that envelope and fails with "gridSum(scale=…): a term left
  *    the grid envelope |term|·10^scale < 2^51 …" when a term leaves it.
  *    Same NULL rule as the decimal path.
  *  - A call site names the decimal path for every sum whose terms can
  *    leave the envelope (money-scale squares such as extendedprice² ≈
  *    1.3·10¹⁰, raw distances, coarse-scale [[detSum]] callers). The
  *    moment formulas take one [[Sum]] per power sum for that reason.
  *  - [[scaledLongSum]] is the exact sum of round(term·10¹²) as longs,
  *    correctly rounded to double and divided by 10¹²: the aggregate twin
  *    of the JVM [[ScaledLongSums]] and of SqlGen.sqlScaledLongSum.
  *
  * Scale note: decimal sums are whole-stage-codegen'd in Spark and shuffle
  * exactly like double sums (map-side partial aggregation), so the plan
  * shape is unchanged — only the accumulator type widens.
  */
object Tables {

  val AllTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one fixture table from an sf directory. Parquet → columnar scan
    * with predicate pushdown + column pruning for free.
    *
    * events.ts has been generated both as int64 epoch NANOSECONDS (read
    * as LONG under the nanosAsLong conf) and as a parquet µs timestamp;
    * normalize to the int64-nanos form every downstream window/gap
    * computation assumes — exact integer arithmetic, no double epoch()
    * precision loss above 2^53 ns. Sessions pin UTC, so the NTZ→LTZ cast
    * is wall-clock-preserving. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events" && df.schema.fieldNames.contains("ts") &&
        df.schema("ts").dataType != LongType)
      df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
    else df
  }

  /** Frees the block-manager storage behind an EAGER
    * `df.localCheckpoint(...)` result. Iterative operators (Lloyd
    * rounds, BPE merge rounds, label propagation) re-checkpoint a
    * frame every round; without this, every superseded round's blocks
    * linger until driver GC happens to collect the RDD reference — at
    * sweep scale that's hundreds of orphaned block sets inflating
    * NEIGHBORING queries' wall time (the r15 in-sweep contamination).
    * Only call on frames whose checkpoint is fully superseded: a
    * locally-checkpointed RDD cannot be recomputed after unpersist, so
    * any surviving reference would fail loudly rather than respill. */
  def unpersistLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  // ---------------------------------------------------------------------
  // Deterministic aggregate building blocks (oracle-exact)
  // ---------------------------------------------------------------------

  /** One exact sum, named at the call site: [[exactSum]], [[grid6]] or a
    * [[detSum]]/[[gridSum]] at a fixed scale. */
  type Sum = Column => Column

  /** Order-independent exact sum of a double column (decimal path). */
  def exactSum(c: Column): Column = sum(c.cast(DecimalType(38, 6))).cast(DoubleType)

  /** Order-independent sum of derived double terms (decimal path): round
    * each term to `scale` decimals, sum as DECIMAL — deterministic across
    * engines up to the per-term libm ulp (absorbed by the rounding). Used
    * wherever a sum of *derived* doubles (entropy terms, distances,
    * densities) feeds an oracle-compared result. Use a COARSER scale for
    * large-magnitude terms: round(t, 12) on |t| ≳ 10⁴ makes t·10¹² exceed
    * 2⁵³, where DuckDB's float-path ROUND loses ulps that Spark's
    * decimal-semantics ROUND doesn't. Pick scale so max|t|·10^scale < 2⁵³. */
  def detSum(term: Column, scale: Int = 12): Column =
    sum(round(term, scale).cast(DecimalType(38, scale + 2))).cast(DoubleType)

  /** The checked long grid at [[exactSum]]'s scale. */
  val grid6: Sum = gridSum(_, 6)

  /** The grid path of the sum contract (see the header): bit-identical to
    * [[exactSum]] at scale 6 and to [[detSum]] at scale 12 inside the
    * envelope, a loud error outside it.
    *
    * Why it is exact: round(t, s) is the double nearest k·10⁻ˢ for the
    * integer k the decimal cast produces (Spark's double→DECIMAL cast is
    * HALF_UP of the double's shortest decimal repr, which round() applies
    * too), so d·10ˢ lands within |k|·2⁻⁵² < 0.5 of k and the half-up floor
    * recovers k exactly while |k| < 2⁵¹. The bound is not widenable by
    * splitting off the integer part: that changes the shortest-repr digits
    * the cast sees (1.0000025 − 1 = 2.4999999999…e-6, a different half-up
    * image). Σk is exact in [[digitSum]] (two radix-2²⁶ digits cover
    * |k| < 2⁵¹), and the string-exponent cast parses it correctly rounded
    * — the same double the decimal sum produces.
    *
    * Per row the kernel is branch-free: t + t·0 is the bit-exact identity
    * on finite terms and NaN on ±Inf/NaN, which the floor→long cast lands
    * at 0 (an additive identity). A CASE guard per row defeated codegen
    * subexpression elimination and re-evaluated the term once per digit
    * sum (ml_linear_regression 3.8 → 8.2 s at sf1m). Per group one max
    * over ⌊(k xor k≫63)/2⌋ + [term finite] carries both checks: it is 0
    * when no term is finite (NULL, as the decimal path) and above 2⁵⁰
    * when some k leaves [−2⁵¹, 2⁵¹) — floor's saturation at Long.MinValue
    * and Long.MaxValue included, since xor with the sign never overflows.
    * The checks are nested `if`s over a two-digit core, not a CASE over
    * three digits: the final aggregate's generated method holds every
    * result expression, and HotSpot does not JIT-compile a method past
    * 8000 bytes of bytecode (DontCompileHugeMethods), so the stage would
    * run interpreted (basic_stats: 7201 bytes before the check, 9385 with
    * three digits and a CASE, 7628 as written). */
  def gridSum(term: Column, scale: Int): Column = {
    val u = term + term * lit(0.0)
    val k = floor(round(u, scale) * lit(s"1e$scale".toDouble) + lit(0.5))
    val env = max(shiftright(k.bitwiseXOR(shiftright(k, 63)), 1) +
      (!isnan(u)).cast(LongType))
    val total = concat(digitSum(k, 26, 2).cast(StringType), lit(s"E-$scale"))
      .cast(DoubleType)
    val bound = f"${math.pow(2, 51) / s"1e$scale".toDouble}%.6g"
    call_function("if", env > (1L << 50), raise_error(lit(
        s"gridSum(scale=$scale): a term left the grid envelope " +
        s"|term|·10^$scale < 2^51 (|term| < $bound); " +
        "sum it on the decimal path (Tables.exactSum / Tables.detSum)")),
      call_function("if", env === 0L, lit(null).cast(DoubleType), total))
  }

  /** Exact, overflow-proof sum of round(c·10¹²) at long speed: the
    * aggregate twin of [[ScaledLongSums]] and SqlGen.sqlScaledLongSum.
    * The result is bit-identical to sum(x::DECIMAL(38,0))::double / 10¹²
    * (both sum the same longs exactly), but the hot path stays in
    * whole-stage codegen long arithmetic with no per-row Decimal
    * allocation (~3× on the corr moment scans; a bare sum(long) wrapped
    * at the sf10 rehearsal's 60M rows where Σ|term|·10¹² first passed
    * 2⁶³). Three radix-2²¹ digits cover the full long. */
  def scaledLongSum(c: Column): Column =
    (digitSum(round(c * lit(1e12), 0).cast(LongType), 21, 3).cast(DoubleType) /
      lit(1e12)).cast(DoubleType)

  /** Exact Σk of a long column, split into `digits` radix-2^width digits:
    * k ≡ Σᵢ ((k≫width·i) & M)·2^(width·i) in two's complement, the top
    * digit signed (the arithmetic shift, unmasked). Each digit is summed as
    * a plain long and the digit sums recombine in DECIMAL(38,0) — a few
    * scalar ops per group, never per row. A digit is below 2^width in
    * magnitude per row, so a digit sum overflows only past 2^(63−width)
    * rows per group (2³⁷ at width 26, 2⁴² at width 21). */
  private def digitSum(k: Column, width: Int, digits: Int): Column = {
    val mask = lit((1L << width) - 1)
    (digits - 1 to 0 by -1).map { i =>
      val shifted = if (i == 0) k else shiftright(k, width * i)
      val d = if (i == digits - 1) shifted else shifted.bitwiseAND(mask)
      val s = sum(d).cast(DecimalType(38, 0))
      if (i == 0) s else s * lit(1L << (width * i))
    }.reduce(_ + _)
  }

  /** Exact mean = exact sum / non-null count (single double division). */
  def exactMean(c: Column, s: Sum = exactSum): Column = s(c) / count(c)

  /** Sample variance (ddof=1, Orange's convention — reference
    * Orange/widgets/data/owgroupby.py:60-96) from exact sums:
    * (Σx² − (Σx)²/n) / (n−1); `s` sums x, `sq` sums x². */
  def exactVarSamp(c: Column, s: Sum = exactSum, sq: Sum = exactSum): Column = {
    val sx = s(c)
    val n  = count(c)
    (sq(c * c) - sx * sx / n) / (n - lit(1))
  }

  def exactStdSamp(c: Column, s: Sum = exactSum, sq: Sum = exactSum): Column =
    sqrt(exactVarSamp(c, s, sq))

  /** Pearson correlation from exact sums — fixed closed formula, identical
    * bit pattern in Spark and DuckDB. `s` sums x and y, `xy`, `xx` and `yy`
    * the products. */
  def exactCorr(x: Column, y: Column, s: Sum = exactSum, xy: Sum = exactSum,
                xx: Sum = exactSum, yy: Sum = exactSum): Column = {
    val n   = count(x).cast(DoubleType)
    val sx  = s(x);      val sy  = s(y)
    val sxx = xx(x * x); val syy = yy(y * y)
    val sxy = xy(x * y)
    (n * sxy - sx * sy) /
      (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
  }

  /** Sample covariance from exact sums; `s` sums x and y, `xy` sums x·y. */
  def exactCovarSamp(x: Column, y: Column, s: Sum = exactSum,
                     xy: Sum = exactSum): Column = {
    val n   = count(x).cast(DoubleType)
    val sx  = s(x); val sy = s(y)
    val sxy = xy(x * y)
    (sxy - sx * sy / n) / (n - lit(1))
  }

  // ---------------------------------------------------------------------
  // Portable string hash (same value in Spark and in DuckDB oracle SQL)
  // ---------------------------------------------------------------------

  /** 32-bit unsigned integer from the first 8 hex chars of md5(s).
    * Spark side parses the hex directly via conv(); the oracle side
    * (hashVal32Sql) reconstructs the identical integer with an
    * instr-based nibble sum. Used for MinHash permutations, SimHash
    * bits and seeded "random" tie-breaks. */
  def hashVal32(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast(LongType)

  /** DuckDB-SQL twin of [[hashVal32]]: Σ nibble(i)·16^(8−i) over the
    * first 8 hex chars of md5. */
  def hashVal32Sql(sExpr: String): String =
    (1 to 8).map { i =>
      s"(instr('0123456789abcdef', substring(md5($sExpr), $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}"
    }.mkString("(", " + ", ")")

  /** [[hashVal32]] read from hex chars [off, off+8) of the SAME digest —
    * one md5 yields several near-independent 32-bit draws (offsets up to
    * 25 fit the 32-char digest). Callers that need k hashes per row pay
    * ONE md5 instead of k: within a single projection Spark's
    * subexpression elimination evaluates the shared md5 once. */
  def hashVal32At(s: Column, off: Int): Column =
    conv(substring(md5(s), off, 8), 16, 10).cast(LongType)

  /** DuckDB-SQL twin of [[hashVal32At]]. */
  def hashVal32AtSql(sExpr: String, off: Int): String =
    (0 until 8).map { i =>
      s"(instr('0123456789abcdef', substring(md5($sExpr), ${off + i}, 1)) - 1) * ${math.pow(16, 7 - i).toLong}"
    }.mkString("(", " + ", ")")
}
