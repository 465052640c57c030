package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Tables._

/** Feature-scoring operators (SURVEY §2.10; reference
  * Orange/preprocess/score.py). All are pure aggregations over the
  * discrete×discrete contingency or per-group moments — one or two
  * shuffles, partial-aggregated map-side, no UDFs, no collect. Every
  * float reduction routes through Tables.detSum so the result is
  * bit-stable against the DuckDB oracle.
  */
object ScoreOps {

  private def log2c(c: Column): Column = log2(c)

  /** Pearson chi-squared statistic of feature `f` vs class `c`
    * (score.py:107-157 Chi2, sklearn-backed in the reference).
    * Includes zero cells via the nf × nc grid (expected > 0 there).
    * Returns one row: (chi2, dof). */
  def chi2(df: DataFrame, f: String, c: String): DataFrame = {
    val cont = df.filter(col(f).isNotNull && col(c).isNotNull)
      .groupBy(col(f).as("fv"), col(c).as("cv"))
      .agg(count(lit(1)).as("n"))
    val byF = cont.groupBy(col("fv")).agg(sum("n").as("nf"))
    val byC = cont.groupBy(col("cv")).agg(sum("n").as("nc"))
    val tot = cont.agg(sum("n").as("total"))
    val e = col("nf") * col("nc") / col("total")
    val o = coalesce(col("n"), lit(0L))
    byF.crossJoin(byC).crossJoin(tot)
      .join(cont, Seq("fv", "cv"), "left")
      .agg(
        round(detSum((o - e) * (o - e) / e), 6).as("chi2"),
        ((countDistinct(col("fv")) - 1) * (countDistinct(col("cv")) - 1))
          .as("dof"))
  }

  /** One-way ANOVA F statistic of continuous `x` across groups `g`
    * (score.py:107-157 ANOVA). Mean-centered formulation: the naive
    * ssb = Σ sg²/ng − S²/n cancels two ~|S|²-magnitude doubles whose
    * round-to-decimal images diverge between engines at that scale;
    * instead ssb = Σ ng·(mg − m)² keeps every detSum term O(spread²·ng)
    * and the cancellation (mg − m) in plain IEEE arithmetic, identical
    * on both engines. ssw is mean-centered the same way: join the group
    * mean back and accumulate (x − mg)² per row — every term is
    * O(spread²), always inside detSum's 12-decimal envelope, unlike the
    * ssg − sg²/ng form whose two ~|S|²-magnitude operands round
    * differently between engines. Costs a second scan, but the group
    * table is k rows → broadcast join, no extra shuffle. */
  def anovaF(df: DataFrame, x: String, g: String): DataFrame = {
    val rows = df.filter(col(x).isNotNull && col(g).isNotNull)
      .select(col(x).as("xv"), col(g).as("gv"))
    // per-row sums on the long grid (caller bound:
    // |x| < 2.25e9 — the score_anova fixture has x = l_quantity ≤ 51)
    val grp = rows.groupBy(col("gv")).agg(
        grid6(col("xv")).as("sg"),
        count(lit(1)).as("ng"))
    val tot = grp.agg(
      exactSum(col("sg")).as("s"), sum(col("ng")).as("n"),
      count(lit(1)).as("k"))
    val mg = col("sg") / col("ng")
    val m  = col("s") / col("n")
    val between = grp.crossJoin(broadcast(tot))
      .agg(
        round(detSum(col("ng") * (mg - m) * (mg - m)), 6).as("ssb"),
        max(col("n")).as("n"), max(col("k")).as("k"))
    val within = rows
      .join(broadcast(grp.select(col("gv"), mg.as("mg"))), "gv")
      .agg(round(detSum((col("xv") - col("mg")) * (col("xv") - col("mg"))), 6)
        .as("ssw")) // (x−mg)² can leave the scale-12 grid's 2.2e3 envelope — stays decimal
    between.crossJoin(within)
      .select(
        round((col("ssb") / (col("k") - 1)) /
              (col("ssw") / (col("n") - col("k"))), 6).as("f_stat"),
        (col("k") - 1).as("df_between"),
        (col("n") - col("k")).as("df_within"))
  }

  /** Symmetric uncertainty SU(f;c) = 2·IG/(H(f)+H(c)) — the FCBF score
    * (score.py:252-297). `f` may be any discrete-valued expression (the
    * reference discretizes continuous features first, score.py:252).
    * Returns one row (feature, su, info_gain). */
  def symmetricUncertainty(df: DataFrame, f: Column, fName: String,
                           c: String): DataFrame = {
    val cont = df.filter(f.isNotNull && col(c).isNotNull)
      .groupBy(f.as("fv"), col(c).as("cv"))
      .agg(count(lit(1)).as("n"))
    val tot = cont.agg(sum("n").as("total"))
    val byF = cont.groupBy(col("fv")).agg(sum("n").as("nf"))
    val byC = cont.groupBy(col("cv")).agg(sum("n").as("nc"))
    val hF = byF.crossJoin(tot)
      .agg(detSum(-(col("nf") / col("total")) * log2c(col("nf") / col("total")))
        .as("h_f"))
    val hC = byC.crossJoin(tot)
      .agg(detSum(-(col("nc") / col("total")) * log2c(col("nc") / col("total")))
        .as("h_c"))
    val hCond = cont.join(byF, "fv").crossJoin(tot)
      .agg(detSum((col("nf") / col("total")) *
        (-(col("n") / col("nf")) * log2c(col("n") / col("nf")))).as("h_cond"))
    hF.crossJoin(hC).crossJoin(hCond).select(
      lit(fName).as("feature"),
      round(lit(2.0) * (col("h_c") - col("h_cond")) / (col("h_f") + col("h_c")), 6)
        .as("su"),
      round(col("h_c") - col("h_cond"), 6).as("info_gain"))
  }

  /** Bhattacharyya distance between the class-conditional distributions
    * of a binned feature (distance/distance.py:788-806):
    * D = −ln Σ_i sqrt(p_i·q_i). Bins absent from either class contribute
    * 0 (inner join). */
  def bhattacharyya(df: DataFrame, bin: Column, classCol: String,
                    classA: String, classB: String): DataFrame = {
    val binned = df.filter(col(classCol).isin(classA, classB))
      .select(bin.as("b"), col(classCol).as("c"))
    val counts = binned.groupBy(col("b"), col("c")).agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("c")).agg(sum("n").as("nc"))
    val p = counts.join(totals, "c")
      .select(col("b"), col("c"), (col("n") / col("nc")).as("p"))
    val pa = p.filter(col("c") === classA).select(col("b"), col("p").as("pa"))
    val pb = p.filter(col("c") === classB).select(col("b"), col("p").as("pb"))
    pa.join(pb, "b")
      .agg(round(-log(detSum(sqrt(col("pa") * col("pb")))), 6)
        .as("bhattacharyya"))
  }
}
