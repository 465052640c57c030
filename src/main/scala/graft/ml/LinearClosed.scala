package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Tables._
import graft.queries.SqlGen._

/** Closed-form regularized linear regression (reference
  * Orange/regression/linear.py:42 RidgeRegressionLearner, :53
  * LassoRegressionLearner, :65 ElasticNetLearner — sklearn objectives).
  *
  * The reference delegates to sklearn's iterative solvers; for the small
  * feature counts these learners are used with in Orange workflows the
  * normal equations have exact closed forms, which is what we compute —
  * so the fit is ONE or TWO distributed aggregations instead of an
  * iterative descent, and the result is oracle-verifiable.
  *
  * Numerics: every sufficient statistic is computed CENTERED
  * (Σ(x−x̄)(y−ȳ) with the means joined back, never Σxy − ΣxΣy/n), the
  * same catastrophic-cancellation-safe shape the ANOVA scorer uses:
  * centered product terms are O(spread²) and survive the 12-decimal
  * deterministic-sum grid at any row count. Callers pre-scale features
  * to ~[0,1] like the GD learners do — which also licenses the scale-12 grid
  * (all terms ≤ O(1) ≪ the 2⁵¹/10¹² ≈ 2.2·10³ long-grid bound).
  *
  * Scale shape: pass 1 = one map-side-combined agg (means), pass 2 = one
  * agg over the mean-broadcast rows (centered moments). Weights come out
  * as scalar expressions in the same plan — no driver round-trips, no
  * iteration; this is the 100 TB shape (2 scans total, both reductions).
  */
object LinearClosed {

  /** Ridge with two features: solve (XᶜᵀXᶜ + αI)w = Xᶜᵀyᶜ on centered
    * data via Cramer's rule (intercept unpenalized, as sklearn does —
    * centering achieves exactly that), b = ȳ − w·x̄. */
  def ridge2(df: DataFrame, f1: (String, Column), f2: (String, Column),
             y: Column, alpha: Double): DataFrame = {
    val base = df.select(f1._2.as("x1"), f2._2.as("x2"), y.cast("double").as("yy"))
    val means = base.agg(
      (gridSum(col("x1"), 12) / count(lit(1))).as("m1"),
      (gridSum(col("x2"), 12) / count(lit(1))).as("m2"),
      (gridSum(col("yy"), 12) / count(lit(1))).as("my"))
    val c = base.crossJoin(broadcast(means))
    val d1 = col("x1") - col("m1"); val d2 = col("x2") - col("m2")
    val dy = col("yy") - col("my")
    val mom = c.agg(
      gridSum(d1 * d1, 12).as("s11"), gridSum(d2 * d2, 12).as("s22"),
      gridSum(d1 * d2, 12).as("s12"),
      gridSum(d1 * dy, 12).as("s1y"), gridSum(d2 * dy, 12).as("s2y"),
      max(col("m1")).as("m1"), max(col("m2")).as("m2"), max(col("my")).as("my"))
    val a11 = col("s11") + alpha; val a22 = col("s22") + alpha
    val det = a11 * a22 - col("s12") * col("s12")
    val w1 = (col("s1y") * a22 - col("s2y") * col("s12")) / det
    val w2 = (col("s2y") * a11 - col("s1y") * col("s12")) / det
    mom.select(
      round(w1, 8).as(s"w_${f1._1}"),
      round(w2, 8).as(s"w_${f2._1}"),
      round(col("my") - w1 * col("m1") - w2 * col("m2"), 8).as("intercept"))
  }

  /** DuckDB twin of [[ridge2]] — identical centered sums and Cramer
    * arithmetic, so the doubles agree bit-for-bit after the final ROUND. */
  def ridge2Sql(table: String, f1: (String, String), f2: (String, String),
                ySql: String, alpha: Double): String = {
    val (n1, e1) = f1; val (n2, e2) = f2
    s"""WITH means AS (
       |  SELECT ${sqlDetSum(e1)} / COUNT(*) AS m1,
       |         ${sqlDetSum(e2)} / COUNT(*) AS m2,
       |         ${sqlDetSum(ySql)} / COUNT(*) AS my
       |  FROM $table),
       |mom AS (
       |  SELECT
       |    ${sqlDetSum(s"(($e1) - m1) * (($e1) - m1)")} AS s11,
       |    ${sqlDetSum(s"(($e2) - m2) * (($e2) - m2)")} AS s22,
       |    ${sqlDetSum(s"(($e1) - m1) * (($e2) - m2)")} AS s12,
       |    ${sqlDetSum(s"(($e1) - m1) * (($ySql) - my)")} AS s1y,
       |    ${sqlDetSum(s"(($e2) - m2) * (($ySql) - my)")} AS s2y,
       |    MAX(m1) AS m1, MAX(m2) AS m2, MAX(my) AS my
       |  FROM $table CROSS JOIN means)
       |SELECT
       |  ROUND((s1y * (s22 + $alpha) - s2y * s12) /
       |        ((s11 + $alpha) * (s22 + $alpha) - s12 * s12), 8) AS w_$n1,
       |  ROUND((s2y * (s11 + $alpha) - s1y * s12) /
       |        ((s11 + $alpha) * (s22 + $alpha) - s12 * s12), 8) AS w_$n2,
       |  ROUND(my - ((s1y * (s22 + $alpha) - s2y * s12) /
       |              ((s11 + $alpha) * (s22 + $alpha) - s12 * s12)) * m1
       |           - ((s2y * (s11 + $alpha) - s1y * s12) /
       |              ((s11 + $alpha) * (s22 + $alpha) - s12 * s12)) * m2,
       |        8) AS intercept
       |FROM mom""".stripMargin
  }

  /** Lasso + elastic net, single feature — the soft-threshold coordinate
    * solution, which IS the converged sklearn solution for one feature:
    *   lasso (objective 1/(2n)‖yᶜ−xᶜw‖² + α|w|):
    *     w = soft(ρ/n, α) / (S/n)
    *   enet (…+ α·l1r|w| + ½α(1−l1r)w²):
    *     w = soft(ρ/n, α·l1r) / (S/n + α(1−l1r))
    * with ρ = Σxᶜyᶜ, S = Σxᶜ², soft(z,t) = sign(z)·max(|z|−t, 0).
    * Emits both fits in one row (shared sufficient statistics). */
  def lassoEnet1(df: DataFrame, feat: (String, Column), y: Column,
                 alphaLasso: Double, alphaEnet: Double,
                 l1Ratio: Double): DataFrame = {
    val base = df.select(feat._2.as("x"), y.cast("double").as("yy"))
    val means = base.agg(
      (gridSum(col("x"), 12) / count(lit(1))).as("mx"),
      (gridSum(col("yy"), 12) / count(lit(1))).as("my"), count(lit(1)).as("n"))
    val c = base.crossJoin(broadcast(means))
    val dx = col("x") - col("mx"); val dy = col("yy") - col("my")
    val mom = c.agg(
      gridSum(dx * dy, 12).as("rho"), gridSum(dx * dx, 12).as("s"),
      max(col("mx")).as("mx"), max(col("my")).as("my"), max(col("n")).as("n"))
    def soft(z: Column, t: Double): Column =
      signum(z) * greatest(abs(z) - t, lit(0.0))
    val n = col("n").cast("double")
    val wL = soft(col("rho") / n, alphaLasso) / (col("s") / n)
    val wE = soft(col("rho") / n, alphaEnet * l1Ratio) /
      (col("s") / n + alphaEnet * (1.0 - l1Ratio))
    mom.select(
      round(wL, 8).as("w_lasso"),
      round(col("my") - wL * col("mx"), 8).as("b_lasso"),
      round(wE, 8).as("w_enet"),
      round(col("my") - wE * col("mx"), 8).as("b_enet"))
  }

  /** DuckDB twin of [[lassoEnet1]]. */
  def lassoEnet1Sql(table: String, featSql: String, ySql: String,
                    alphaLasso: Double, alphaEnet: Double,
                    l1Ratio: Double): String = {
    def soft(z: String, t: String) =
      s"(CASE WHEN ($z) > 0 THEN 1.0 WHEN ($z) < 0 THEN -1.0 ELSE 0.0 END" +
      s" * GREATEST(ABS($z) - ($t), 0.0))"
    val tE = s"$alphaEnet * $l1Ratio"
    val wL = soft("rho / n", alphaLasso.toString) + " / (s / n)"
    val wE = soft("rho / n", tE) + s" / (s / n + $alphaEnet * (1.0 - $l1Ratio))"
    s"""WITH means AS (
       |  SELECT ${sqlDetSum(featSql)} / COUNT(*) AS mx,
       |         ${sqlDetSum(ySql)} / COUNT(*) AS my,
       |         CAST(COUNT(*) AS DOUBLE) AS n
       |  FROM $table),
       |mom AS (
       |  SELECT
       |    ${sqlDetSum(s"(($featSql) - mx) * (($ySql) - my)")} AS rho,
       |    ${sqlDetSum(s"(($featSql) - mx) * (($featSql) - mx)")} AS s,
       |    MAX(mx) AS mx, MAX(my) AS my, MAX(n) AS n
       |  FROM $table CROSS JOIN means)
       |SELECT
       |  ROUND($wL, 8) AS w_lasso,
       |  ROUND(my - ($wL) * mx, 8) AS b_lasso,
       |  ROUND($wE, 8) AS w_enet,
       |  ROUND(my - ($wE) * mx, 8) AS b_enet
       |FROM mom""".stripMargin
  }

  /** PolynomialLearner (reference Orange/regression/linear.py:106-129 —
    * PolynomialFeatures ∘ linear fit): degree-3 expansion of one
    * feature, fitted with the [[ols3]] Cramer closed form on (x, x²,
    * x³). Callers pre-scale x to ~[0,1] so the powers stay on the
    * detSum grid; same two-scan shape, oracle-exact. */
  def poly3(df: DataFrame, x: Column, y: Column): DataFrame =
    ols3(df, ("x1", x), ("x2", x * x), ("x3", x * x * x), y)

  /** DuckDB twin of [[poly3]]. */
  def poly3Sql(table: String, xSql: String, ySql: String): String =
    ols3Sql(table, ("x1", xSql), ("x2", s"($xSql) * ($xSql)"),
      ("x3", s"($xSql) * ($xSql) * ($xSql)"), ySql)

  /** Plain OLS with three features (reference Orange/regression/
    * linear.py LinearRegressionLearner — sklearn's lstsq): Cramer solve
    * of the 3×3 centered normal equations, plus training RMSE from the
    * same moments via SSR = Syy − w·Sxy (residuals ⊥ columns of X).
    * Same two-scan shape and numerics as [[ridge2]]; the cofactor
    * expansion is written in one fixed order so Spark and DuckDB walk
    * identical IEEE operation sequences. */
  def ols3(df: DataFrame, f1: (String, Column), f2: (String, Column),
           f3: (String, Column), y: Column): DataFrame = {
    val base = df.select(f1._2.as("x1"), f2._2.as("x2"), f3._2.as("x3"),
      y.cast("double").as("yy"))
    val means = base.agg(
      (gridSum(col("x1"), 12) / count(lit(1))).as("m1"),
      (gridSum(col("x2"), 12) / count(lit(1))).as("m2"),
      (gridSum(col("x3"), 12) / count(lit(1))).as("m3"),
      (gridSum(col("yy"), 12) / count(lit(1))).as("my"),
      count(lit(1)).as("n"))
    val c = base.crossJoin(broadcast(means))
    val d1 = col("x1") - col("m1"); val d2 = col("x2") - col("m2")
    val d3 = col("x3") - col("m3"); val dy = col("yy") - col("my")
    val mom = c.agg(
      gridSum(d1 * d1, 12).as("s11"), gridSum(d1 * d2, 12).as("s12"),
      gridSum(d1 * d3, 12).as("s13"), gridSum(d2 * d2, 12).as("s22"),
      gridSum(d2 * d3, 12).as("s23"), gridSum(d3 * d3, 12).as("s33"),
      gridSum(d1 * dy, 12).as("s1y"), gridSum(d2 * dy, 12).as("s2y"),
      gridSum(d3 * dy, 12).as("s3y"), gridSum(dy * dy, 12).as("syy"),
      max(col("m1")).as("m1"), max(col("m2")).as("m2"),
      max(col("m3")).as("m3"), max(col("my")).as("my"),
      max(col("n")).as("n"))
    val det =
      col("s11") * (col("s22") * col("s33") - col("s23") * col("s23")) -
      col("s12") * (col("s12") * col("s33") - col("s23") * col("s13")) +
      col("s13") * (col("s12") * col("s23") - col("s22") * col("s13"))
    val w1 = (col("s1y") * (col("s22") * col("s33") - col("s23") * col("s23")) -
      col("s12") * (col("s2y") * col("s33") - col("s23") * col("s3y")) +
      col("s13") * (col("s2y") * col("s23") - col("s22") * col("s3y"))) / det
    val w2 = (col("s11") * (col("s2y") * col("s33") - col("s3y") * col("s23")) -
      col("s1y") * (col("s12") * col("s33") - col("s23") * col("s13")) +
      col("s13") * (col("s12") * col("s3y") - col("s2y") * col("s13"))) / det
    val w3 = (col("s11") * (col("s22") * col("s3y") - col("s2y") * col("s23")) -
      col("s12") * (col("s12") * col("s3y") - col("s2y") * col("s13")) +
      col("s1y") * (col("s12") * col("s23") - col("s22") * col("s13"))) / det
    val r1 = round(w1, 8); val r2 = round(w2, 8); val r3 = round(w3, 8)
    val ssr = col("syy") - (r1 * col("s1y") + r2 * col("s2y") + r3 * col("s3y"))
    mom.select(
      r1.as(s"w_${f1._1}"), r2.as(s"w_${f2._1}"), r3.as(s"w_${f3._1}"),
      round(col("my") - r1 * col("m1") - r2 * col("m2") - r3 * col("m3"), 8)
        .as("intercept"),
      round(sqrt(greatest(ssr, lit(0.0)) / col("n")), 6).as("rmse"))
  }

  /** DuckDB twin of [[ols3]] — identical centered moments, cofactor
    * order and rounded-weight RMSE, so the doubles agree bit-for-bit. */
  def ols3Sql(table: String, f1: (String, String), f2: (String, String),
              f3: (String, String), ySql: String): String = {
    val (n1, e1) = f1; val (n2, e2) = f2; val (n3, e3) = f3
    s"""WITH means AS (
       |  SELECT ${sqlDetSum(e1)} / COUNT(*) AS m1,
       |         ${sqlDetSum(e2)} / COUNT(*) AS m2,
       |         ${sqlDetSum(e3)} / COUNT(*) AS m3,
       |         ${sqlDetSum(ySql)} / COUNT(*) AS my,
       |         COUNT(*) AS n
       |  FROM $table),
       |mom AS (
       |  SELECT
       |    ${sqlDetSum(s"(($e1) - m1) * (($e1) - m1)")} AS s11,
       |    ${sqlDetSum(s"(($e1) - m1) * (($e2) - m2)")} AS s12,
       |    ${sqlDetSum(s"(($e1) - m1) * (($e3) - m3)")} AS s13,
       |    ${sqlDetSum(s"(($e2) - m2) * (($e2) - m2)")} AS s22,
       |    ${sqlDetSum(s"(($e2) - m2) * (($e3) - m3)")} AS s23,
       |    ${sqlDetSum(s"(($e3) - m3) * (($e3) - m3)")} AS s33,
       |    ${sqlDetSum(s"(($e1) - m1) * (($ySql) - my)")} AS s1y,
       |    ${sqlDetSum(s"(($e2) - m2) * (($ySql) - my)")} AS s2y,
       |    ${sqlDetSum(s"(($e3) - m3) * (($ySql) - my)")} AS s3y,
       |    ${sqlDetSum(s"(($ySql) - my) * (($ySql) - my)")} AS syy,
       |    MAX(m1) AS m1, MAX(m2) AS m2, MAX(m3) AS m3, MAX(my) AS my,
       |    MAX(n) AS n
       |  FROM $table CROSS JOIN means),
       |solved AS (
       |  SELECT *,
       |    s11 * (s22 * s33 - s23 * s23) -
       |    s12 * (s12 * s33 - s23 * s13) +
       |    s13 * (s12 * s23 - s22 * s13) AS det
       |  FROM mom),
       |w AS (
       |  SELECT *,
       |    ROUND((s1y * (s22 * s33 - s23 * s23) -
       |           s12 * (s2y * s33 - s23 * s3y) +
       |           s13 * (s2y * s23 - s22 * s3y)) / det, 8) AS w1,
       |    ROUND((s11 * (s2y * s33 - s3y * s23) -
       |           s1y * (s12 * s33 - s23 * s13) +
       |           s13 * (s12 * s3y - s2y * s13)) / det, 8) AS w2,
       |    ROUND((s11 * (s22 * s3y - s2y * s23) -
       |           s12 * (s12 * s3y - s2y * s13) +
       |           s1y * (s12 * s23 - s22 * s13)) / det, 8) AS w3
       |  FROM solved)
       |SELECT w1 AS w_$n1, w2 AS w_$n2, w3 AS w_$n3,
       |  ROUND(my - w1 * m1 - w2 * m2 - w3 * m3, 8) AS intercept,
       |  ROUND(SQRT(GREATEST(syy - (w1 * s1y + w2 * s2y + w3 * s3y), 0.0)
       |        / n), 6) AS rmse
       |FROM w""".stripMargin
  }
}
