package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import graft.core.{ScaledLongSums, Tables}
import graft.core.Tables.{exactSum, grid6}

/** Property spec for the exact-sum kernels of [[graft.core.Tables]]:
  *
  *  - the checked long grid, `gridSum(t, 6)` ≡ sum(t::DECIMAL(38,6)) and
  *    `gridSum(t, 12)` ≡ sum(round(t,12)::DECIMAL(38,14)), bit-for-bit
  *    inside the envelope |t|·10^scale < 2⁵¹, with the same NULL rule, and
  *    a loud error outside it;
  *  - the moment formulas over named sums against their decimal twins;
  *  - `scaledLongSum` ≡ the DECIMAL(38,0) sum of the scaled longs, and the
  *    JVM `ScaledLongSums` ≡ `scaledLongSum` on the same terms, across
  *    BigInteger spills.
  *
  * The decimal formulations below are the reference, verbatim from the
  * helpers the grid replaced; the fixed tie and contract-edge vectors of
  * each scale are in [[DetSumFastSpec]] and [[ExactSumFastSpec]]. Generated data runs through ScalaCheck with a
  * fixed seed, so a failure reproduces. */
class SumKernelSpec extends SparkSpec {
  import spark.implicits._

  private def exactSumDec(c: Column): Column =
    sum(c.cast(DecimalType(38, 6))).cast(DoubleType)
  private def detSumDec(t: Column): Column =
    sum(round(t, 12).cast(DecimalType(38, 14))).cast(DoubleType)
  private def decimalAt(scale: Int): Column => Column =
    if (scale == 6) exactSumDec else detSumDec

  /** Largest |term| inside the envelope at `scale`: 2⁵¹ / 10^scale. */
  private def edge(scale: Int): Double = math.pow(2, 51) / s"1e$scale".toDouble

  private def same(a: Row, b: Row, i: Int, j: Int): Boolean =
    (a.isNullAt(i) && b.isNullAt(j)) ||
      (!a.isNullAt(i) && !b.isNullAt(j) &&
        java.lang.Double.doubleToRawLongBits(a.getDouble(i)) ==
          java.lang.Double.doubleToRawLongBits(b.getDouble(j)))

  private def show(r: Row, i: Int): String =
    if (r.isNullAt(i)) "NULL" else java.lang.Double.toString(r.getDouble(i))

  /** Per-group (grid, decimal) mismatches of `groups` at `scale`. */
  private def gridVsDecimal(groups: Seq[Seq[java.lang.Double]], scale: Int): Seq[String] = {
    val df = groups.zipWithIndex
      .flatMap { case (g, i) => g.map(v => (i, v)) }
      .toDF("g", "t")
    df.groupBy(col("g"))
      .agg(Tables.gridSum(col("t"), scale).as("grid"),
        decimalAt(scale)(col("t")).as("dec"))
      .collect().toSeq
      .filterNot(r => same(r, r, 1, 2))
      .map(r => s"scale $scale group ${r.get(0)}: grid=${show(r, 1)} dec=${show(r, 2)}")
  }

  private def check(p: Prop, runs: Int = 6): Unit = {
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(runs).withInitialSeed(20261018L), p)
    assert(res.passed, res.status)
  }

  /** Terms from below the grid up to just inside the envelope edge, both
    * signs, with NULLs mixed in. */
  private def termsUpToEdge(scale: Int): Gen[Seq[java.lang.Double]] = {
    val lo = -(scale + 2).toDouble
    val hi = math.log10(edge(scale) * 0.999999)
    val finite = for {
      e <- Gen.choose(lo, hi)
      u <- Gen.choose(0.0, 1.0)
      neg <- Gen.oneOf(true, false)
    } yield java.lang.Double.valueOf((if (neg) -1 else 1) * math.pow(10, e) * u)
    val nearEdge = Gen.choose(0.999, 0.999999).flatMap(f =>
      Gen.oneOf(edge(scale) * f, -edge(scale) * f).map(java.lang.Double.valueOf))
    val term = Gen.frequency(12 -> finite, 1 -> nearEdge,
      1 -> Gen.const(null: java.lang.Double))
    Gen.choose(1, 80).flatMap(n => Gen.listOfN(n, term))
  }

  private def groupsOf(g: Gen[Seq[java.lang.Double]]): Gen[Seq[Seq[java.lang.Double]]] =
    Gen.choose(1, 7).flatMap(k => Gen.listOfN(k, g))

  private val NaN = java.lang.Double.valueOf(Double.NaN)
  private val PosInf = java.lang.Double.valueOf(Double.PositiveInfinity)
  private val NegInf = java.lang.Double.valueOf(Double.NegativeInfinity)
  private def d(v: Double): java.lang.Double = java.lang.Double.valueOf(v)

  test("grid ≡ decimal at scale 6: generated magnitudes up to the envelope edge") {
    check(Prop.forAllNoShrink(groupsOf(termsUpToEdge(6))) { groups =>
      val bad = gridVsDecimal(groups, 6)
      bad.isEmpty :| bad.mkString("; ")
    })
    assert(gridVsDecimal(Seq(Seq(2251799813.0, -2251799813.0, 2251799813.685247,
      1125899906.5, 2e9).map(d)), 6).isEmpty)
  }

  test("grid ≡ decimal at scale 12: generated magnitudes up to the envelope edge") {
    check(Prop.forAllNoShrink(groupsOf(termsUpToEdge(12))) { groups =>
      val bad = gridVsDecimal(groups, 12)
      bad.isEmpty :| bad.mkString("; ")
    })
  }

  test("NULL, NaN and ±Inf terms skip; all-NULL and all-non-finite groups are NULL on both paths") {
    val groups = Seq(
      Seq(d(1.5), NaN, PosInf, d(-0.25), NegInf, d(3.75), null),
      Seq(d(1.25), null, d(-2.5), null, d(0.0)),
      Seq(null, null),
      Seq(NaN, PosInf, NegInf),
      Seq(NaN, null),
      Seq(PosInf))
    for (scale <- Seq(6, 12)) {
      assert(gridVsDecimal(groups, scale).isEmpty)
      val rows = groups.zipWithIndex.flatMap { case (g, i) => g.map(v => (i, v)) }
        .toDF("g", "t").groupBy(col("g"))
        .agg(Tables.gridSum(col("t"), scale).as("s")).collect()
        .map(r => r.getInt(0) -> r).toMap
      for (g <- 2 to 5) assert(rows(g).isNullAt(1), s"scale $scale group $g")
    }
    // no group at all: NULL, like sum()
    val none = Seq.empty[java.lang.Double].toDF("t")
      .agg(Tables.gridSum(col("t"), 6).as("s")).collect()
    assert(none.head.isNullAt(0))
  }

  /** The messages along an exception's cause chain. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString(" | ")

  test("out-of-envelope terms of either sign fail loudly, naming the bound") {
    val cases = Seq(6, 12).flatMap(scale => Seq(edge(scale) * 1.5,
      -edge(scale) * 1.5, edge(scale), 1e300, -1e300).map(scale -> _)) :+
      (6 -> 2251799813.6852485)
    for ((scale, bad) <- cases) {
      val df = Seq((0, 1.0), (0, bad), (0, -2.0), (1, 4.0)).toDF("g", "t")
      val e = intercept[Exception] {
        df.groupBy(col("g")).agg(Tables.gridSum(col("t"), scale).as("s")).collect()
      }
      val msg = messages(e)
      assert(msg.contains(s"gridSum(scale=$scale)") && msg.contains("2^51"),
        s"scale $scale term $bad: $msg")
    }
    // the last in-envelope negative term passes: k = −2⁵¹ keeps |k| ≤ 2⁵¹
    val ok = Seq(-edge(6)).toDF("t").agg(Tables.gridSum(col("t"), 6)).collect()
    assert(ok.head.getDouble(0) == -edge(6))
  }

  test("moment formulas over named sums match their decimal twins") {
    def exactVarSampDec(c: Column): Column = {
      val s = exactSumDec(c); val n = count(c)
      (exactSumDec(c * c) - s * s / n) / (n - lit(1))
    }
    def exactCorrDec(x: Column, y: Column): Column = {
      val n = count(x).cast(DoubleType)
      val sx = exactSumDec(x); val sy = exactSumDec(y)
      val sxx = exactSumDec(x * x); val syy = exactSumDec(y * y)
      val sxy = exactSumDec(x * y)
      (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
    }
    val rnd = new scala.util.Random(99)
    val df = (1 to 3000).map { i =>
      val x = 1.0 + rnd.nextInt(50).toDouble
      val y = 900.0 + rnd.nextDouble() * 113000.0 // y² ≈ 1.3e10 > envelope
      (i, x, y)
    }.toDF("id", "x", "y")
    val (x, y) = (col("x"), col("y"))
    val r = df.agg(
      Tables.exactCorr(x, y, grid6, grid6, xx = grid6).as("cf"),
      exactCorrDec(x, y).as("cd"),
      Tables.exactVarSamp(y, grid6, exactSum).as("vf"),
      exactVarSampDec(y).as("vd"),
      Tables.exactCovarSamp(x, y, grid6, grid6).as("sf"),
      Tables.exactCovarSamp(x, y).as("sd"),
      Tables.exactMean(y, grid6).as("mf"),
      Tables.exactMean(y).as("md"),
      Tables.exactVarSamp(x, grid6, grid6).as("xf"),
      exactVarSampDec(x).as("xd")).collect().head
    Seq((0, 1), (2, 3), (4, 5), (6, 7), (8, 9)).foreach { case (a, b) =>
      assert(same(r, r, a, b), s"cols $a/$b: ${show(r, a)} vs ${show(r, b)}")
    }
    // naming the grid for the out-of-envelope square fails loudly
    val e = intercept[Exception] {
      df.agg(Tables.exactVarSamp(y, grid6, grid6)).collect()
    }
    assert(messages(e).contains("gridSum(scale=6)"))
  }

  test("scaledLongSum ≡ DECIMAL(38,0) sum on adversarial magnitudes and signs") {
    // values chosen so the scaled longs exercise all three radix-2²¹
    // digits, both signs, the ±1e6 magnitude edge (|x| ≈ 2⁶⁰), zero,
    // sub-digit values, and a group whose long sum would wrap 2⁶³
    // (eight near-max terms) — the device must match the exact decimal
    // sum bit-for-bit in every group
    val vals = Seq(
      ("g1", 1e6), ("g1", -1e6), ("g1", 0.0), ("g1", 1e-12),
      ("g1", -3.5e-7), ("g1", 123456.789012), ("g2", 9.0e5),
      ("g2", 9.0e5), ("g2", 9.0e5), ("g2", 9.0e5), ("g2", 9.0e5),
      ("g2", 9.0e5), ("g2", 9.0e5), ("g2", 9.0e5), // Σ·10¹² = 7.2e18 > 2⁶³
      ("g3", -9.0e5), ("g3", -9.0e5), ("g3", -9.0e5), ("g3", -9.0e5),
      ("g3", -9.0e5), ("g3", -9.0e5), ("g3", -9.0e5), ("g3", -9.0e5),
      ("g4", 2.0e-6), ("g4", -1.0e-6)).toDF("g", "v")
    val dec = (sum(round(col("v") * lit(1e12), 0).cast("long")
      .cast("decimal(38,0)")).cast("double") / lit(1e12)).cast("double")
    val got = vals.groupBy("g")
      .agg(Tables.scaledLongSum(col("v")).as("sr"), dec.as("dc"))
      .collect()
    assert(got.length == 4)
    got.foreach(r => assert(same(r, r, 1, 2), s"group ${r.get(0)}: ${show(r, 1)} vs ${show(r, 2)}"))
    // empty input: NULL, like sum()
    val empty = vals.filter(col("g") === "nope")
      .agg(Tables.scaledLongSum(col("v")).as("s")).collect()
    assert(empty.head.isNullAt(0))
  }

  test("JVM ScaledLongSums ≡ scaledLongSum on the same terms, across spills") {
    // terms up to ±4e6 scale to ±4e18, so the long slot spills into its
    // BigInteger every few adds, and group totals pass 2⁶³ and 2⁶⁴
    val term = Gen.frequency(
      3 -> Gen.choose(-1.0, 1.0),
      3 -> Gen.choose(-4e6, 4e6),
      1 -> Gen.oneOf(4e6, -4e6, 0.5e-12, -0.5e-12, 2.5e-12, 0.0))
    val data = Gen.choose(1, 4).flatMap(k =>
      Gen.listOfN(k, Gen.choose(1, 120).flatMap(n => Gen.listOfN(n, term))))
    check(Prop.forAllNoShrink(data) { groups =>
      // one accumulator per group and per chunk of 7 terms, merged like
      // the per-partition accumulators of a treeReduce
      val jvm = groups.map { g =>
        g.grouped(7).map { chunk =>
          val s = new ScaledLongSums(2)
          chunk.foreach { v => s.add(0, v); s.add(1, -v) }
          s
        }.reduce(_ merge _).result
      }
      val agg = groups.zipWithIndex.flatMap { case (g, i) => g.map(v => (i, v)) }
        .toDF("g", "v").groupBy(col("g"))
        .agg(Tables.scaledLongSum(col("v")).as("s"),
          Tables.scaledLongSum(-col("v")).as("n"))
        .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      val bad = groups.indices.filterNot { i =>
        val (s, n) = agg(i)
        java.lang.Double.doubleToRawLongBits(jvm(i)(0)) == java.lang.Double.doubleToRawLongBits(s) &&
          java.lang.Double.doubleToRawLongBits(jvm(i)(1)) == java.lang.Double.doubleToRawLongBits(n)
      }.map(i => s"group $i: jvm=${jvm(i).mkString(",")} spark=${agg(i)}")
      bad.isEmpty :| bad.mkString("; ")
    })
  }
}
