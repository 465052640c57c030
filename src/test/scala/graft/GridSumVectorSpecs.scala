package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.core.Tables

/** Fixed-vector checks that the checked long grid `gridSum(t, scale)` is
  * BIT-IDENTICAL to its decimal formulation at one scale. The two specs
  * below keep the names of the specs of the grid's two scales,
  * `exactSumFast` (scale 6) and `detSumFast` (scale 12), which `gridSum`
  * replaced. Generated data, all-non-finite groups and out-of-envelope
  * terms are checked in [[SumKernelSpec]]. */
abstract class GridVectorSpec(scale: Int, decimal: Column => Column) extends SparkSpec {
  import spark.implicits._

  protected def compareOn(vals: Seq[java.lang.Double], groups: Int = 1): Unit = {
    val df = vals.zipWithIndex
      .map { case (v, i) => (i % groups, v) }
      .toDF("g", "t")
    val both = df.groupBy(col("g"))
      .agg(Tables.gridSum(col("t"), scale).as("grid"), decimal(col("t")).as("dec"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      val f = if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))
      val d = if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2))
      assert(f == d || (f != null && d != null &&
               java.lang.Double.doubleToRawLongBits(f) ==
               java.lang.Double.doubleToRawLongBits(d)),
        s"group ${r.get(0)}: grid=$f dec=$d")
    }
  }

  protected def allNullStaysNull(): Unit = {
    val df = Seq[(Int, java.lang.Double)]((0, null), (0, null)).toDF("g", "t")
    val r = df.groupBy(col("g"))
      .agg(Tables.gridSum(col("t"), scale).as("grid"), decimal(col("t")).as("dec"))
      .collect().head
    assert(r.isNullAt(1) && r.isNullAt(2))
  }

  protected def boxed(vs: Double*): Seq[java.lang.Double] = vs.map(java.lang.Double.valueOf)
}

/** `gridSum(t, 12)` ≡ sum(round(t,12)::DECIMAL(38,14))::double, the
  * oracle-visible value of its call sites (pre-scaled moment scans). */
class DetSumFastSpec extends GridVectorSpec(12,
    t => sum(round(t, 12).cast(DecimalType(38, 14))).cast(DoubleType)) {

  test("random terms across magnitudes match bit-for-bit") {
    val rnd = new scala.util.Random(42)
    // magnitudes from 1e-13 (below the grid) up to ~2e3 (the
    // |t|·1e12 < 2^51 envelope edge), both signs
    val vals: Seq[java.lang.Double] = (1 to 4000).map { _ =>
      val mag = math.pow(10.0, rnd.nextDouble() * 16 - 13)
      java.lang.Double.valueOf((if (rnd.nextBoolean()) 1 else -1) * mag * rnd.nextDouble())
    }
    compareOn(vals, groups = 7)
  }

  test("half-up ties at the 13th decimal round identically") {
    // values whose shortest repr ends in 5 at the 13th decimal: the
    // HALF_UP edge the grid must inherit from round(), not re-derive
    compareOn(boxed(
      0.0000000000005, 1.0000000000015, -0.0000000000025,
      123.4567890123455, -123.4567890123465, 2047.0000000000005,
      0.12345678901235, -0.9999999999995))
  }

  test("nulls skip and all-null groups stay null in both paths") {
    compareOn(Seq[java.lang.Double](
      java.lang.Double.valueOf(1.25), null, java.lang.Double.valueOf(-2.5),
      null, java.lang.Double.valueOf(0.0)))
    allNullStaysNull()
  }

  test("NaN terms contribute nothing in either path") {
    compareOn(boxed(1.5, Double.NaN, -0.25, Double.NaN, 3.75))
  }

  test("contract-edge magnitudes (|t|·1e12 near 2^51) still agree") {
    // 2^51 / 1e12 = 2251.79...; stay just inside
    compareOn(boxed(
      2251.0, -2251.0, 2250.999999999999, -2250.999999999999,
      1125.5, -1125.5, 2000.000000000001))
  }
}

/** `gridSum(t, 6)` ≡ sum(t::DECIMAL(38,6))::double while |t| < 2⁵¹/1e6.
  * Spark's double→DECIMAL cast is HALF_UP at scale 6 of the double's
  * shortest decimal repr, and round(t, 6) applies the same operation, so
  * the tie vectors below pin that the grid inherits it. */
class ExactSumFastSpec extends GridVectorSpec(6,
    c => sum(c.cast(DecimalType(38, 6))).cast(DoubleType)) {
  import spark.implicits._

  test("half-up ties at the 7th decimal round identically") {
    // 2251799813.6852465 replaces the old tie 2251799813.6852485, which
    // rounds to k = 2^51 + 1, past the envelope: SumKernelSpec checks
    // that it now fails loudly
    compareOn(boxed(
      0.0000005, -0.0000015, 1.0000025, -1.0000035,
      12345.6789995, -12345.6789985, 0.9999995, -0.9999995,
      2251799813.6852465, -2251799813.6852475))
  }

  test("nulls skip, all-null groups stay null") {
    compareOn(Seq[java.lang.Double](
      java.lang.Double.valueOf(1.25), null,
      java.lang.Double.valueOf(-2.5), null))
    allNullStaysNull()
  }

  test("NaN and ±Inf are skipped like the decimal cast") {
    compareOn(boxed(1.5, Double.NaN, Double.PositiveInfinity, -0.25,
      Double.NegativeInfinity, 3.75))
  }

  test("detSumFast: ±Inf now skips like the decimal path (ADVICE r16)") {
    // the scale-12 grid (detSumFast's successor) skips non-finite terms
    // like the decimal path's NULL-on-overflow cast
    val decimal12 = (t: Column) =>
      sum(round(t, 12).cast(DecimalType(38, 14))).cast(DoubleType)
    val r = Seq((0, 1.5), (0, Double.PositiveInfinity), (0, -0.25),
        (0, Double.NegativeInfinity), (0, Double.NaN))
      .toDF("g", "t").groupBy(col("g"))
      .agg(Tables.gridSum(col("t"), 12).as("grid"), decimal12(col("t")).as("dec"))
      .collect().head
    assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
      java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
      s"grid=${r.getDouble(1)} dec=${r.getDouble(2)}")
  }
}
