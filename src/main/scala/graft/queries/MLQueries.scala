package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.core.Tables._
import graft.ml.{ClusterEval, Correspondence, Learners}
import graft.queries.SqlGen._

/** Learner/evaluation queries (SURVEY §2.11). Aggregation-based learners
  * (NaiveBayes-from-contingencies, Majority, MeanRegressor) and metric
  * computations are deterministic → SQL oracles. Iterative MLlib fits
  * (logreg/kmeans/pca) are seeded but oracle-free (rows-only checks). */
object MLQueries {

  private def li(s: SparkSession, d: String) = Tables.load(s, d, "lineitem")
  private def ord(s: SparkSession, d: String) = Tables.load(s, d, "orders")
  private def emb(s: SparkSession, d: String) = Tables.load(s, d, "embeddings")

  val all: Seq[Q] = Seq(

    Q("ml_naive_bayes", // NB from contingencies (classification/naive_bayes.py)
      (s, d) => {
        val base = li(s, d)
          .withColumn("qty_bin",
            floor(col("l_quantity") / 10).cast("int").cast("string"))
        val model = Learners.NaiveBayes(
          Seq("l_returnflag", "qty_bin"), "l_linestatus").fit(base)
        model.predict(base)
          .groupBy(col("l_returnflag"), col("qty_bin"), col("prediction"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("l_returnflag"), col("qty_bin"), col("prediction"))
      },
      Some {
        // log p(c) + Σ log((n_vc+1)/(n_c+|V_f|)), argmax (tie → asc class)
        s"""WITH base AS (
           |  SELECT l_returnflag AS f1,
           |         CAST(CAST(FLOOR(l_quantity / 10) AS INT) AS VARCHAR) AS f2,
           |         l_linestatus AS c
           |  FROM lineitem),
           |n AS (SELECT COUNT(*) AS n FROM base),
           |prior AS (SELECT c, COUNT(*) AS nc FROM base GROUP BY c),
           |nv1 AS (SELECT COUNT(DISTINCT f1) AS nv FROM base),
           |nv2 AS (SELECT COUNT(DISTINCT f2) AS nv FROM base),
           |t1 AS (SELECT f1, c, COUNT(*) AS nvc FROM base GROUP BY f1, c),
           |t2 AS (SELECT f2, c, COUNT(*) AS nvc FROM base GROUP BY f2, c),
           |combos AS (SELECT DISTINCT f1, f2 FROM base),
           |scored AS (
           |  SELECT combos.f1, combos.f2, prior.c,
           |    LN(prior.nc * 1.0 / n.n)
           |    + LN((COALESCE(t1.nvc, 0) + 1.0) / (prior.nc + nv1.nv))
           |    + LN((COALESCE(t2.nvc, 0) + 1.0) / (prior.nc + nv2.nv)) AS score
           |  FROM combos CROSS JOIN prior CROSS JOIN n CROSS JOIN nv1 CROSS JOIN nv2
           |  LEFT JOIN t1 ON t1.f1 = combos.f1 AND t1.c = prior.c
           |  LEFT JOIN t2 ON t2.f2 = combos.f2 AND t2.c = prior.c),
           |pred AS (
           |  SELECT f1, f2, c AS prediction,
           |    ROW_NUMBER() OVER (PARTITION BY f1, f2
           |                       ORDER BY score DESC, c ASC) AS rn
           |  FROM scored)
           |SELECT base.f1 AS l_returnflag, base.f2 AS qty_bin,
           |       pred.prediction, COUNT(*) AS n
           |FROM base JOIN pred ON pred.f1 = base.f1 AND pred.f2 = base.f2
           |WHERE pred.rn = 1
           |GROUP BY base.f1, base.f2, pred.prediction
           |ORDER BY l_returnflag, qty_bin, prediction""".stripMargin
      }),

    Q("ml_eval_classification", // CA/precision/recall/F1/MCC from a
      // deterministic rule classifier's confusion counts (scoring.py).
      (s, d) => {
        val pred = when(col("l_shipdate") < lit("1998-07-01").cast("timestamp"), "F")
          .otherwise("O")
        val S = Learners.Scoring
        li(s, d).select(col("l_linestatus").as("actual"), pred.as("pred"))
          .agg(
            round(S.ca(col("actual"), col("pred")), 6).as("ca"),
            round(S.precision(col("actual"), col("pred"), "F"), 6).as("precision_f"),
            round(S.recall(col("actual"), col("pred"), "F"), 6).as("recall_f"))
      },
      Some("""SELECT
             |  ROUND(SUM(CASE WHEN actual = pred THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS ca,
             |  ROUND(SUM(CASE WHEN pred = 'F' AND actual = 'F' THEN 1 ELSE 0 END) * 1.0
             |    / SUM(CASE WHEN pred = 'F' THEN 1 ELSE 0 END), 6) AS precision_f,
             |  ROUND(SUM(CASE WHEN pred = 'F' AND actual = 'F' THEN 1 ELSE 0 END) * 1.0
             |    / SUM(CASE WHEN actual = 'F' THEN 1 ELSE 0 END), 6) AS recall_f
             |FROM (SELECT l_linestatus AS actual,
             |        CASE WHEN l_shipdate < TIMESTAMP '1998-07-01' THEN 'F' ELSE 'O' END AS pred
             |      FROM lineitem)""".stripMargin)),

    Q("ml_eval_regression", // MSE/RMSE/MAE/R2 of the mean regressor
      (s, d) => {
        val S = Learners.Scoring
        val model = Learners.MeanRegressor("o_totalprice").fit(ord(s, d))
        model.predict(ord(s, d))
          .agg(
            round(S.mse(col("o_totalprice"), col("prediction")), 4).as("mse"),
            round(S.rmse(col("o_totalprice"), col("prediction")), 6).as("rmse"),
            round(S.mae(col("o_totalprice"), col("prediction")), 6).as("mae"),
            // + 0.0 normalizes IEEE -0.0 (R² of the mean predictor is
            // exactly zero; the engines disagree on the sign bit)
            (round(S.r2(col("o_totalprice"), col("prediction")), 6) + 0.0).as("r2"))
      },
      Some {
        val m = sqlMean("o_totalprice")
        val dsum = (x: String) => sqlSum(x)
        s"""SELECT
           |  ROUND(${dsum("(o_totalprice - m) * (o_totalprice - m)")} / COUNT(*), 4) AS mse,
           |  ROUND(SQRT(${dsum("(o_totalprice - m) * (o_totalprice - m)")} / COUNT(*)), 6) AS rmse,
           |  ROUND(${dsum("ABS(o_totalprice - m)")} / COUNT(*), 6) AS mae,
           |  ROUND(1.0 - ${dsum("(o_totalprice - m) * (o_totalprice - m)")} /
           |    (${dsum("o_totalprice * o_totalprice")} - ${dsum("o_totalprice")} * ${dsum("o_totalprice")} / COUNT(*)), 6) + 0.0 AS r2
           |FROM orders CROSS JOIN (SELECT $m AS m FROM orders)""".stripMargin
      }),

    Q("ml_crossval_majority", // 3-fold CV of the majority classifier
      (s, d) => Learners.crossValidateCA(
          ord(s, d), () => Learners.Majority("o_orderstatus"),
          "o_orderstatus", col("o_orderkey"), 3)
        .select(col("fold"), round(col("ca"), 6).as("ca"), col("n_test"))
        .orderBy(col("fold")),
      Some("""WITH folds AS (
             |  SELECT o_orderstatus, o_orderkey % 3 AS fold FROM orders),
             |maj AS (
             |  SELECT t.fold,
             |    (SELECT o_orderstatus FROM folds f
             |     WHERE f.fold <> t.fold
             |     GROUP BY o_orderstatus
             |     ORDER BY COUNT(*) DESC, o_orderstatus ASC LIMIT 1) AS m
             |  FROM (SELECT DISTINCT fold FROM folds) t)
             |SELECT fold,
             |  ROUND(SUM(CASE WHEN o_orderstatus = m THEN 1 ELSE 0 END) * 1.0
             |        / COUNT(*), 6) AS ca,
             |  COUNT(*) AS n_test
             |FROM folds JOIN maj USING (fold)
             |GROUP BY fold ORDER BY fold""".stripMargin)),

    Q("ml_crossval_stratified", // Orange's DEFAULT CV protocol
      // (evaluation/testing.py CrossValidation stratified=True): folds
      // preserve class proportions. Assignment = round-robin within
      // class by key order, (row_number within class − 1) mod k — exact
      // per-fold proportions ±1. The within-class rank comes from
      // RankOps' two-pass distributed row_number (a per-class window
      // would funnel the majority class through one task).
      (s, d) => {
        val withFold = graft.functions.RankOps
          .rowNumberWithin(ord(s, d), "o_orderstatus", "o_orderkey", "__rn")
          .withColumn("__fold", pmod(col("__rn") - 1, lit(3L)))
        Learners.crossValidateCAFolds(
            withFold, () => Learners.Majority("o_orderstatus"),
            "o_orderstatus", 3)
          .select(col("fold"), round(col("ca"), 6).as("ca"), col("n_test"))
          .orderBy(col("fold"))
      },
      Some("""WITH folds AS (
             |  SELECT o_orderstatus,
             |    (ROW_NUMBER() OVER (PARTITION BY o_orderstatus
             |                        ORDER BY o_orderkey) - 1) % 3 AS fold
             |  FROM orders),
             |maj AS (
             |  SELECT t.fold,
             |    (SELECT o_orderstatus FROM folds f
             |     WHERE f.fold <> t.fold
             |     GROUP BY o_orderstatus
             |     ORDER BY COUNT(*) DESC, o_orderstatus ASC LIMIT 1) AS m
             |  FROM (SELECT DISTINCT fold FROM folds) t)
             |SELECT fold,
             |  ROUND(SUM(CASE WHEN o_orderstatus = m THEN 1 ELSE 0 END) * 1.0
             |        / COUNT(*), 6) AS ca,
             |  COUNT(*) AS n_test
             |FROM folds JOIN maj USING (fold)
             |GROUP BY fold ORDER BY fold""".stripMargin)),

    Q("ml_eval_auc", // ROC AUC (scoring.py:226) as the Mann–Whitney rank
      // statistic with midranks for ties — positives l_returnflag='R'
      // scored by l_quantity (50 distinct values → heavy ties exercise
      // the midrank path). groupBy-on-score first, window over the
      // 50-row grouped table only.
      (s, d) => Learners.Scoring.auc(
        li(s, d), col("l_returnflag") === "R", col("l_quantity")),
      Some("""WITH by_score AS (
             |  SELECT l_quantity AS s,
             |         SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS np,
             |         SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS nn
             |  FROM lineitem GROUP BY 1),
             |w AS (
             |  SELECT np, nn,
             |         SUM(nn) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
             |                       AND CURRENT ROW) - nn AS cumn
             |  FROM by_score)
             |SELECT ROUND((CAST(SUM(np * cumn) AS DOUBLE)
             |              + CAST(SUM(np * nn) AS DOUBLE) / 2.0)
             |       / (CAST(SUM(np) AS DOUBLE) * SUM(nn)), 6) AS auc
             |FROM w""".stripMargin)),

    Q("ml_roc_curve", // performance_curves.py / owrocanalysis.py: one
      // (threshold, fpr, tpr) point per distinct score. The scan
      // aggregates by score first (map-side combine); the window runs
      // over the ~50-row grouped table only — the 100 TB shape.
      (s, d) => Learners.Scoring.rocCurve(
        li(s, d), col("l_returnflag") === "R", col("l_quantity")),
      Some("""WITH by_score AS (
             |  SELECT l_quantity AS threshold,
             |         SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS np,
             |         SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS nn
             |  FROM lineitem GROUP BY 1),
             |w AS (
             |  SELECT threshold,
             |    SUM(np) OVER (ORDER BY threshold DESC ROWS BETWEEN
             |      UNBOUNDED PRECEDING AND CURRENT ROW) AS ctp,
             |    SUM(nn) OVER (ORDER BY threshold DESC ROWS BETWEEN
             |      UNBOUNDED PRECEDING AND CURRENT ROW) AS cfp,
             |    SUM(np) OVER () AS p, SUM(nn) OVER () AS n
             |  FROM by_score)
             |SELECT threshold,
             |  ROUND(CAST(cfp AS DOUBLE) / n, 6) AS fpr,
             |  ROUND(CAST(ctp AS DOUBLE) / p, 6) AS tpr
             |FROM w ORDER BY threshold DESC""".stripMargin)),

    Q("ml_lift_curve", // owliftcurve.py cumulative gains + lift: per
      // score threshold, contacted fraction (rate), positives captured
      // (gain), lift = gain/rate. Same grouped-then-window shape.
      (s, d) => Learners.Scoring.liftCurve(
        li(s, d), col("l_returnflag") === "R", col("l_quantity")),
      Some("""WITH by_score AS (
             |  SELECT l_quantity AS threshold,
             |         SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS np,
             |         COUNT(*) AS cnt
             |  FROM lineitem GROUP BY 1),
             |w AS (
             |  SELECT threshold,
             |    SUM(np) OVER (ORDER BY threshold DESC ROWS BETWEEN
             |      UNBOUNDED PRECEDING AND CURRENT ROW) AS ctp,
             |    SUM(cnt) OVER (ORDER BY threshold DESC ROWS BETWEEN
             |      UNBOUNDED PRECEDING AND CURRENT ROW) AS crows,
             |    SUM(np) OVER () AS p, SUM(cnt) OVER () AS nall
             |  FROM by_score)
             |SELECT threshold,
             |  ROUND(CAST(crows AS DOUBLE) / nall, 6) AS rate,
             |  ROUND(CAST(ctp AS DOUBLE) / p, 6) AS gain,
             |  ROUND((CAST(ctp AS DOUBLE) / p) /
             |        (CAST(crows AS DOUBLE) / nall), 6) AS lift
             |FROM w ORDER BY threshold DESC""".stripMargin)),

    Q("ml_calibration_curve", // owcalibrationplot.py reliability
      // diagram: 10 equal-width probability cells, mean predicted vs
      // observed positive rate — one map-side-combined aggregation;
      // probability is the same deterministic affine map as
      // ml_eval_classification_ext.
      (s, d) => Learners.Scoring.calibrationCurve(
        li(s, d), col("l_returnflag") === "R",
        col("l_discount") * 9 + 0.05, bins = 10),
      Some("""SELECT LEAST(CAST(FLOOR((l_discount * 9 + 0.05) * 10) AS BIGINT), 9) AS bin,
             |  ROUND(CAST(SUM(CAST(ROUND(l_discount * 9 + 0.05, 12) AS DECIMAL(38,14))) AS DOUBLE)
             |        / COUNT(*), 6) AS mean_pred,
             |  ROUND(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
             |        * 1.0 / COUNT(*), 6) AS frac_pos,
             |  COUNT(*) AS n
             |FROM lineitem GROUP BY 1 ORDER BY bin""".stripMargin)),

    Q("ml_performance_curves", // evaluation/performance_curves.py Curves:
      // the full threshold-sweep zoo (ca/f1/sens/spec/ppv/npv/fpr) on the
      // distinct-score grid. Fact table collapses to per-score counts
      // (map-side combine); the cumulative window runs over ~50 grouped
      // rows only.
      (s, d) => Learners.Scoring.performanceCurves(
        li(s, d), col("l_returnflag") === "R", col("l_quantity")),
      Some("""WITH by_score AS (
             |  SELECT l_quantity AS threshold,
             |         SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS np,
             |         SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS nn
             |  FROM lineitem GROUP BY 1),
             |w AS (
             |  SELECT threshold,
             |    SUM(np) OVER (ORDER BY threshold DESC ROWS BETWEEN
             |      UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             |    SUM(nn) OVER (ORDER BY threshold DESC ROWS BETWEEN
             |      UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
             |    SUM(np) OVER () AS p, SUM(nn) OVER () AS n
             |  FROM by_score)
             |SELECT threshold,
             |  ROUND(CAST(tp + (n - fp) AS DOUBLE) / (p + n), 6) AS ca,
             |  ROUND(2.0 * tp / (2.0 * tp + fp + (p - tp)), 6) AS f1,
             |  ROUND(CAST(tp AS DOUBLE) / p, 6) AS sens,
             |  ROUND(CAST(n - fp AS DOUBLE) / n, 6) AS spec,
             |  CASE WHEN tp + fp = 0 THEN NULL
             |       ELSE ROUND(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS ppv,
             |  CASE WHEN (n - fp) + (p - tp) = 0 THEN NULL
             |       ELSE ROUND(CAST(n - fp AS DOUBLE) / ((n - fp) + (p - tp)), 6) END AS npv,
             |  ROUND(CAST(fp AS DOUBLE) / n, 6) AS fpr
             |FROM w ORDER BY threshold DESC""".stripMargin)),

    Q("ml_ami_clustering", // evaluation/clustering.py:63
      // AdjustedMutualInfoScore (sklearn adjusted_mutual_info_score,
      // arithmetic average): deterministic quantity-bucket "clustering"
      // vs l_returnflag. Distributed work is ONE contingency groupBy
      // (k·c rows out regardless of input size); MI/H/E[MI] are driver
      // scalar math over that tiny matrix, like the LDA closed form.
      (s, d) => ClusterEval.adjustedMutualInfo(
        li(s, d),
        floor((col("l_quantity") - 1) / 10).cast("int").cast("string"),
        col("l_returnflag")),
      Some("""WITH lab AS (
             |  SELECT CAST(CAST(FLOOR((l_quantity - 1) / 10) AS INT) AS VARCHAR) AS u,
             |         l_returnflag AS v
             |  FROM lineitem),
             |cont AS (SELECT u, v, COUNT(*) AS n FROM lab GROUP BY 1, 2),
             |tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS nn FROM cont),
             |ma AS (SELECT u, CAST(SUM(n) AS DOUBLE) AS au FROM cont GROUP BY 1),
             |mb AS (SELECT v, CAST(SUM(n) AS DOUBLE) AS bv FROM cont GROUP BY 1),
             |mi AS (SELECT SUM((n / nn) * LN(nn * n / (au * bv))) AS mi
             |       FROM cont JOIN ma USING (u) JOIN mb USING (v), tot),
             |hu AS (SELECT -SUM((au / nn) * LN(au / nn)) AS h FROM ma, tot),
             |hv AS (SELECT -SUM((bv / nn) * LN(bv / nn)) AS h FROM mb, tot),
             |grid AS (
             |  SELECT au, bv, nn,
             |    UNNEST(GENERATE_SERIES(CAST(GREATEST(1, au + bv - nn) AS BIGINT),
             |                           CAST(LEAST(au, bv) AS BIGINT))) AS nij
             |  FROM ma, mb, tot),
             |emi AS (
             |  SELECT SUM((nij / nn) * LN(nn * nij / (au * bv)) * EXP(
             |      LGAMMA(au + 1) + LGAMMA(bv + 1) + LGAMMA(nn - au + 1)
             |    + LGAMMA(nn - bv + 1) - LGAMMA(nn + 1) - LGAMMA(nij + 1)
             |    - LGAMMA(au - nij + 1) - LGAMMA(bv - nij + 1)
             |    - LGAMMA(nn - au - bv + nij + 1))) AS emi
             |  FROM grid)
             |SELECT ROUND(mi.mi, 6) AS mi, ROUND(emi.emi, 6) AS emi,
             |       ROUND(hu.h, 6) AS h_u, ROUND(hv.h, 6) AS h_v,
             |       ROUND((mi.mi - emi.emi) / ((hu.h + hv.h) / 2 - emi.emi), 6) AS ami
             |FROM mi, emi, hu, hv""".stripMargin)),

    Q("ml_correspondence", // owcorrespondence.py:381-421: CA of the
      // quantity-bucket × returnflag contingency. Distributed stage =
      // one contingency groupBy (k·c rows out); the generalized SVD is
      // deflated power iteration on the 3×3 BᵀB with every scalar step
      // on the 1e-12 grid (the PowerPCA device) and caller-pinned
      // categories, so the whole trajectory — coordinates, per-axis
      // inertia, χ²/N shares — is oracle-exact via the scalar-CTE twin.
      // Was rows-only under the driver Jacobi SVD.
      (s, d) => Correspondence.rowCoordinatesPower(
          li(s, d),
          floor((col("l_quantity") - 1) / 10).cast("int"),
          col("l_returnflag"),
          rowCats = (0 to 4).map(_.toString),
          colCats = Seq("A", "N", "R"), axes = 2, iters = 30)
        .orderBy(col("category"), col("axis")),
      Some(Correspondence.rowCoordinatesPowerSql(
        "lineitem",
        "CAST(FLOOR((l_quantity - 1) / 10) AS INT)", "l_returnflag",
        rowCats = (0 to 4).map(_.toString),
        colCats = Seq("A", "N", "R"), axes = 2, iters = 30))),

    Q("ml_eval_classification_ext", // F1 / specificity / MCC / LogLoss
      // (scoring.py:207,340,394,288) over the same deterministic rule
      // classifier as ml_eval_classification; log-loss probability is a
      // deterministic affine map of l_discount into [0.05, 0.95].
      (s, d) => {
        val S = Learners.Scoring
        val pred = when(col("l_shipdate") < lit("1998-07-01").cast("timestamp"), "F")
          .otherwise("O")
        val p = col("l_discount") * 9 + 0.05
        li(s, d).select(col("l_linestatus").as("actual"), pred.as("pred"),
            p.as("p"))
          .agg(
            round(S.f1(col("actual"), col("pred"), "F"), 6).as("f1_f"),
            round(S.specificity(col("actual"), col("pred"), "F"), 6).as("specificity_f"),
            round(S.mcc(col("actual"), col("pred"), "F"), 6).as("mcc_f"),
            round(S.logLoss(col("actual") === "F", col("p")), 6).as("logloss"))
      },
      Some {
        val tp = "CAST(SUM(CASE WHEN pred = 'F' AND actual = 'F' THEN 1 ELSE 0 END) AS DOUBLE)"
        val tn = "CAST(SUM(CASE WHEN pred <> 'F' AND actual <> 'F' THEN 1 ELSE 0 END) AS DOUBLE)"
        val fp = "CAST(SUM(CASE WHEN pred = 'F' AND actual <> 'F' THEN 1 ELSE 0 END) AS DOUBLE)"
        val fn = "CAST(SUM(CASE WHEN pred <> 'F' AND actual = 'F' THEN 1 ELSE 0 END) AS DOUBLE)"
        val prec = s"($tp / SUM(CASE WHEN pred = 'F' THEN 1 ELSE 0 END))"
        val rec  = s"($tp / SUM(CASE WHEN actual = 'F' THEN 1 ELSE 0 END))"
        s"""SELECT
           |  ROUND(2.0 * $prec * $rec / ($prec + $rec), 6) AS f1_f,
           |  ROUND($tn / SUM(CASE WHEN actual <> 'F' THEN 1 ELSE 0 END), 6) AS specificity_f,
           |  ROUND(($tp * $tn - $fp * $fn) /
           |    SQRT(($tp + $fp) * ($tp + $fn) * ($tn + $fp) * ($tn + $fn)), 6) AS mcc_f,
           |  ROUND(-${sqlDetSum("CASE WHEN actual = 'F' THEN LN(LEAST(GREATEST(p, 1e-15), 1.0 - 1e-15)) ELSE LN(1.0 - LEAST(GREATEST(p, 1e-15), 1.0 - 1e-15)) END")} / COUNT(*), 6) AS logloss
           |FROM (SELECT l_linestatus AS actual,
           |        CASE WHEN l_shipdate < TIMESTAMP '1998-07-01' THEN 'F' ELSE 'O' END AS pred,
           |        l_discount * 9 + 0.05 AS p
           |      FROM lineitem)""".stripMargin
      }),

    Q("ml_eval_regression_ext", // MAPE / SMAPE / CV(RMSE)
      // (scoring.py:403-461) of the mean regressor on o_totalprice.
      (s, d) => {
        val S = Learners.Scoring
        val model = Learners.MeanRegressor("o_totalprice").fit(ord(s, d))
        model.predict(ord(s, d))
          .agg(
            round(S.mape(col("o_totalprice"), col("prediction")), 6).as("mape"),
            round(S.smape(col("o_totalprice"), col("prediction")), 6).as("smape"),
            round(S.cvrmse(col("o_totalprice"), col("prediction")), 6).as("cvrmse"))
      },
      Some {
        val m = sqlMean("o_totalprice")
        s"""SELECT
           |  ROUND(${sqlDetSum("ABS((o_totalprice - m) / o_totalprice)")} / COUNT(*), 6) AS mape,
           |  ROUND(${sqlDetSum("2.0 * ABS(o_totalprice - m) / (ABS(o_totalprice) + ABS(m))")} / COUNT(*), 6) AS smape,
           |  ROUND(SQRT(${sqlSum("(o_totalprice - m) * (o_totalprice - m)")} / COUNT(*))
           |        / (${sqlSum("o_totalprice")} / COUNT(*)), 6) AS cvrmse
           |FROM orders CROSS JOIN (SELECT $m AS m FROM orders)""".stripMargin
      }),

    Q("ml_eval_loo_majority", // LeaveOneOut (testing.py:638) of Majority,
      // closed form: the held-out prediction depends only on the row's
      // own class (argmax over n_c − [c = own], ties → smallest label) —
      // n refits collapse to one aggregate + a row-local expression.
      (s, d) => Learners.leaveOneOutMajorityCA(ord(s, d), "o_orderstatus"),
      Some("""WITH cnt AS (
             |  SELECT o_orderstatus AS c, COUNT(*) AS n FROM orders GROUP BY 1),
             |pred AS (
             |  SELECT o.o_orderkey, o.o_orderstatus, c.c AS p
             |  FROM orders o CROSS JOIN cnt c
             |  QUALIFY ROW_NUMBER() OVER (
             |    PARTITION BY o.o_orderkey
             |    ORDER BY c.n - CASE WHEN c.c = o.o_orderstatus THEN 1 ELSE 0 END DESC,
             |             c.c ASC) = 1)
             |SELECT ROUND(SUM(CASE WHEN o_orderstatus = p THEN 1 ELSE 0 END) * 1.0
             |             / COUNT(*), 6) AS ca,
             |       COUNT(*) AS n_test
             |FROM pred""".stripMargin)),

    Q("ml_eval_shuffle_split", // ShuffleSplit (testing.py:654): 5 seeded
      // 80/20 hash splits of Majority on o_orderstatus; each split is a
      // row-local md5-bucket filter (no shuffle), scored via
      // TestOnTestData.
      (s, d) => Learners.shuffleSplitCA(
        ord(s, d), () => Learners.Majority("o_orderstatus"),
        "o_orderstatus", col("o_orderkey"), k = 5, trainPct = 80)
        .orderBy(col("split")),
      Some(s"""WITH seeds AS (SELECT * FROM (VALUES (0),(1),(2),(3),(4)) s(seed)),
              |tagged AS (
              |  SELECT seed, o_orderstatus AS c,
              |         ${sqlHash32("CAST(o_orderkey AS VARCHAR) || '_' || CAST(seed AS VARCHAR)")} % 100 AS b
              |  FROM orders CROSS JOIN seeds),
              |maj AS (
              |  SELECT seed, c AS pred FROM tagged WHERE b < 80 GROUP BY seed, c
              |  QUALIFY ROW_NUMBER() OVER (PARTITION BY seed
              |    ORDER BY COUNT(*) DESC, c ASC) = 1)
              |SELECT t.seed AS split,
              |       ROUND(SUM(CASE WHEN t.c = m.pred THEN 1 ELSE 0 END) * 1.0
              |             / COUNT(*), 6) AS ca,
              |       COUNT(*) AS n_test
              |FROM tagged t JOIN maj m USING (seed) WHERE t.b >= 80
              |GROUP BY t.seed ORDER BY split""".stripMargin)),

    Q("ml_eval_test_on_training", // TestOnTrainingData (testing.py:779):
      // fit Majority on orders and score it on the same table.
      (s, d) => Learners.testOnTrainingCA(
        ord(s, d), Learners.Majority("o_orderstatus"), "o_orderstatus"),
      Some("""WITH maj AS (
             |  SELECT o_orderstatus AS pred FROM orders GROUP BY 1
             |  ORDER BY COUNT(*) DESC, o_orderstatus ASC LIMIT 1)
             |SELECT ROUND(SUM(CASE WHEN o_orderstatus = pred THEN 1 ELSE 0 END) * 1.0
             |             / COUNT(*), 6) AS ca,
             |       COUNT(*) AS n_test
             |FROM orders CROSS JOIN maj""".stripMargin)),

    Q("ml_eval_cv_feature", // CrossValidationFeature (testing.py:610):
      // folds = values of o_orderpriority; fit Majority on the other
      // values, score the held-out value. Fold count is the feature's
      // cardinality — bounded and discrete.
      (s, d) => Learners.crossValidateByFeatureCA(
        ord(s, d), () => Learners.Majority("o_orderstatus"),
        "o_orderstatus", "o_orderpriority")
        .orderBy(col("fold")),
      Some("""WITH folds AS (
             |  SELECT DISTINCT CAST(o_orderpriority AS VARCHAR) AS f FROM orders),
             |maj AS (
             |  SELECT f.f, o.o_orderstatus AS pred
             |  FROM folds f JOIN orders o
             |    ON CAST(o.o_orderpriority AS VARCHAR) <> f.f
             |  GROUP BY f.f, o.o_orderstatus
             |  QUALIFY ROW_NUMBER() OVER (PARTITION BY f.f
             |    ORDER BY COUNT(*) DESC, o.o_orderstatus ASC) = 1)
             |SELECT m.f AS fold,
             |       ROUND(SUM(CASE WHEN o.o_orderstatus = m.pred THEN 1 ELSE 0 END) * 1.0
             |             / COUNT(*), 6) AS ca,
             |       COUNT(*) AS n_test
             |FROM orders o JOIN maj m ON CAST(o.o_orderpriority AS VARCHAR) = m.f
             |GROUP BY m.f ORDER BY fold""".stripMargin)),

    Q("ml_knn_class", // kNN classifier (classification/knn.py): 5-NN
      // euclidean majority vote over (c_acctbal, c_nationkey), test =
      // every 100th customer, train = the rest. Test side broadcast;
      // ties → train id, vote ties → smallest label.
      (s, d) => {
        val cust = Tables.load(s, d, "customer")
        graft.ml.KNN.classify(
          cust.filter(col("c_custkey") % 100 === 0),
          cust.filter(col("c_custkey") % 100 =!= 0),
          "c_custkey", Seq("c_acctbal", "c_nationkey"), "c_mktsegment", 5)
          .orderBy(col("c_custkey"))
      },
      Some("""WITH test AS (
             |  SELECT c_custkey AS tid, CAST(c_acctbal AS DOUBLE) AS t1,
             |         CAST(c_nationkey AS DOUBLE) AS t2
             |  FROM customer WHERE c_custkey % 100 = 0),
             |train AS (
             |  SELECT c_custkey AS rid, CAST(c_acctbal AS DOUBLE) AS r1,
             |         CAST(c_nationkey AS DOUBLE) AS r2, c_mktsegment AS cls
             |  FROM customer WHERE c_custkey % 100 <> 0),
             |topk AS (
             |  SELECT tid, cls FROM (
             |    SELECT tid, rid, (t1-r1)*(t1-r1) + (t2-r2)*(t2-r2) AS d2, cls
             |    FROM test CROSS JOIN train)
             |  QUALIFY ROW_NUMBER() OVER (
             |    PARTITION BY tid ORDER BY d2 ASC, rid ASC) <= 5),
             |vote AS (SELECT tid, cls, COUNT(*) AS n FROM topk GROUP BY 1, 2)
             |SELECT tid AS c_custkey, cls AS prediction FROM vote
             |QUALIFY ROW_NUMBER() OVER (
             |  PARTITION BY tid ORDER BY n DESC, cls ASC) = 1
             |ORDER BY c_custkey""".stripMargin)),

    Q("ml_knn_class_ivf", // the SCALE path of ml_knn_class as a
      // first-class gated query (was script-only evidence): IVF coarse
      // lists + probe-limited exact re-rank (KNN.neighborsIVF — the
      // zero-expansion argmax assignment). Run at nprobe = nlist, where
      // the output is provably bit-identical to the exact path (KNNSpec
      // pins the identity), so the oracle is the exact-kNN SQL itself;
      // production sets nprobe << nlist to shrink the candidate scan.
      (s, d) => {
        val cust = Tables.load(s, d, "customer")
        graft.ml.KNN.classify(
          cust.filter(col("c_custkey") % 100 === 0),
          cust.filter(col("c_custkey") % 100 =!= 0),
          "c_custkey", Seq("c_acctbal", "c_nationkey"), "c_mktsegment", 5,
          ivf = Some((8, 8)))
          .orderBy(col("c_custkey"))
      },
      Some("""WITH test AS (
             |  SELECT c_custkey AS tid, CAST(c_acctbal AS DOUBLE) AS t1,
             |         CAST(c_nationkey AS DOUBLE) AS t2
             |  FROM customer WHERE c_custkey % 100 = 0),
             |train AS (
             |  SELECT c_custkey AS rid, CAST(c_acctbal AS DOUBLE) AS r1,
             |         CAST(c_nationkey AS DOUBLE) AS r2, c_mktsegment AS cls
             |  FROM customer WHERE c_custkey % 100 <> 0),
             |topk AS (
             |  SELECT tid, cls FROM (
             |    SELECT tid, rid, (t1-r1)*(t1-r1) + (t2-r2)*(t2-r2) AS d2, cls
             |    FROM test CROSS JOIN train)
             |  QUALIFY ROW_NUMBER() OVER (
             |    PARTITION BY tid ORDER BY d2 ASC, rid ASC) <= 5),
             |vote AS (SELECT tid, cls, COUNT(*) AS n FROM topk GROUP BY 1, 2)
             |SELECT tid AS c_custkey, cls AS prediction FROM vote
             |QUALIFY ROW_NUMBER() OVER (
             |  PARTITION BY tid ORDER BY n DESC, cls ASC) = 1
             |ORDER BY c_custkey""".stripMargin)),

    Q("ml_knn_regress", // kNN regressor (regression/knn.py): mean
      // c_acctbal of the 5 nearest customers in (nationkey, key-mod)
      // space. Test side = every 100th customer — the broadcast pair
      // volume stays at |test|·|train| ≈ 2M at sf0.1, the same proven
      // shape as ml_knn_class (an orders-table fixture measured 10×
      // that and 70 s in the bench).
      (s, d) => {
        val c = Tables.load(s, d, "customer").select(col("c_custkey"),
          col("c_nationkey"), (col("c_custkey") % 97).as("c_mod"),
          col("c_acctbal"))
        graft.ml.KNN.regress(
          c.filter(col("c_custkey") % 100 === 0),
          c.filter(col("c_custkey") % 100 =!= 0),
          "c_custkey", Seq("c_nationkey", "c_mod"), "c_acctbal", 5)
          .select(col("c_custkey"), round(col("prediction"), 6).as("prediction"))
          .orderBy(col("c_custkey"))
      },
      Some("""WITH test AS (
             |  SELECT c_custkey AS tid, CAST(c_nationkey AS DOUBLE) AS t1,
             |         CAST(c_custkey % 97 AS DOUBLE) AS t2
             |  FROM customer WHERE c_custkey % 100 = 0),
             |train AS (
             |  SELECT c_custkey AS rid, CAST(c_nationkey AS DOUBLE) AS r1,
             |         CAST(c_custkey % 97 AS DOUBLE) AS r2,
             |         c_acctbal AS y
             |  FROM customer WHERE c_custkey % 100 <> 0),
             |topk AS (
             |  SELECT tid, y FROM (
             |    SELECT tid, rid,
             |      (t1-r1)*(t1-r1) + (t2-r2)*(t2-r2) AS d2, y
             |    FROM test CROSS JOIN train)
             |  QUALIFY ROW_NUMBER() OVER (
             |    PARTITION BY tid ORDER BY d2 ASC, rid ASC) <= 5)
             |SELECT tid AS c_custkey,
             |  ROUND(CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6)
             |    AS prediction
             |FROM topk GROUP BY tid ORDER BY c_custkey""".stripMargin)),

    Q("ml_curvefit_exp", // CurveFitLearner (regression/curvefit.py) —
      // closed-form y = a·e^(bx) via log-linearization; the Gauss-Newton
      // general path is CurveFitSpec-pinned against this twin.
      (s, d) => graft.ml.CurveFit.fitExpLinearized(
        li(s, d), col("l_quantity") / 10, col("l_extendedprice")),
      Some {
        val slope = "((n * sxy - sx * sy) / (n * sxx - sx * sx))"
        s"""WITH base AS (
           |  SELECT l_quantity / 10 AS x, LN(l_extendedprice) AS ly
           |  FROM lineitem WHERE l_extendedprice > 0),
           |s AS (SELECT ${sqlSum("x")} AS sx, ${sqlSum("ly")} AS sy,
           |             ${sqlSum("x * x")} AS sxx,
           |             ${sqlDetSum("x * ly")} AS sxy, COUNT(*) AS n
           |      FROM base)
           |SELECT ROUND(EXP((sy - $slope * sx) / n), 6) AS a,
           |       ROUND($slope, 6) AS b
           |FROM s""".stripMargin
      }),

    Q("ml_threshold_optimize", // ThresholdLearner(OptimizeCA)
      // (calibration.py:48-84): CA-optimal decision threshold over the
      // distinct predicted probabilities; ties → closest to 0.5, then
      // smallest. Same groupBy-then-tiny-window shape as AUC.
      (s, d) => graft.ml.Calibration.optimizeThresholdCA(
        li(s, d), col("l_linestatus") === "F",
        col("l_discount") * 9 + 0.05),
      Some("""WITH base AS (
             |  SELECT l_discount * 9 + 0.05 AS p,
             |         CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END AS pos
             |  FROM lineitem),
             |byp AS (
             |  SELECT p, SUM(pos) AS np, SUM(1 - pos) AS nn
             |  FROM base GROUP BY p),
             |w AS (
             |  SELECT p,
             |    CAST(SUM(np) OVER (ORDER BY p DESC ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
             |    CAST(SUM(nn) OVER (ORDER BY p ASC ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND CURRENT ROW) - nn AS BIGINT) AS tn,
             |    CAST(SUM(np + nn) OVER () AS BIGINT) AS n
             |  FROM byp)
             |SELECT ROUND(p, 6) AS threshold,
             |       ROUND(CAST(tp + tn AS DOUBLE) / n, 6) AS ca, n
             |FROM w
             |ORDER BY CAST(tp + tn AS DOUBLE) / n DESC, ABS(p - 0.5) ASC, p ASC
             |LIMIT 1""".stripMargin)),

    Q("ml_pls_regression", // PLS1 NIPALS (regression/pls.py): 2-component
      // fit of l_extendedprice on (l_quantity, l_discount); coefficients
      // + training RMSE. Oracle via the A=d ⇒ OLS identity (pinned by
      // PLSSpec): with as many components as features, the converged
      // NIPALS solution IS the least-squares fit, so the oracle computes
      // the 2-feature Cramer closed form on centered decimal moments and
      // the 6/4-decimal output rounding absorbs the ~1e-12 relative gap
      // between the two solvers' float paths.
      (s, d) => {
        // fit on ~unit-scaled features: NIPALS's A×A recovery solve is
        // ill-conditioned when the feature variances differ by 10⁵
        // (the disc direction lost ~5 digits raw); OLS — which the A=d
        // fit converges to — is exactly scale-invariant, so the betas
        // un-scale back to the original domain losslessly.
        val data = li(s, d)
          .withColumn("qty_s", col("l_quantity") / 50.0)
          .withColumn("disc_s", col("l_discount") * 10.0)
          .withColumn("y_s", col("l_extendedprice") / 100000.0)
        val m = graft.ml.PLS.fit(data, Seq("qty_s", "disc_s"), "y_s", 2,
          // scaled-long 1e-12 sums on the SAME grid as the oracle's
          // ROUND(t,12) decimal sums (terms are centered unit-scale
          // products, |t|·1e12 ≪ 2⁵³). The previous detSum(_, 18)
          // forced DECIMAL(38,20) — heap BigDecimal per row, 13 s for
          // the two scans at sf0.1; the split-radix long grid is exact
          // to 2⁴² rows and runs them in ~3 s (Tables.scaledLongSum).
          sumFn = Tables.scaledLongSum)
        val bQty = m.beta.head * 100000.0 / 50.0
        val bDisc = m.beta(1) * 100000.0 * 10.0
        val b0 = m.intercept * 100000.0
        // moment-derived training RMSE (PLS.fit computes it from the
        // same scatter — no further corpus scan), un-scaled like the
        // betas; HALF_UP to match both engines' ROUND of positives
        // HALF_UP for ALL four outputs (math.round is half-toward-+inf,
        // which diverges from DuckDB ROUND on negative half-ties —
        // beta_disc and intercept can be negative)
        def r4(v: Double) = new java.math.BigDecimal(v)
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
        data.limit(1)
          .select(lit(r4(b0)).as("intercept"),
            lit(r4(bQty)).as("beta_qty"),
            lit(r4(bDisc)).as("beta_disc"),
            lit(r4(m.trainRmse * 100000.0)).as("rmse"))
      },
      Some(s"""WITH base AS (
              |  SELECT l_quantity / 50.0 AS q, l_discount * 10.0 AS dd,
              |         l_extendedprice / 100000.0 AS y
              |  FROM lineitem),
              |means AS (
              |  SELECT ${sqlDetSum("q")} / COUNT(*) AS m1,
              |         ${sqlDetSum("dd")} / COUNT(*) AS m2,
              |         ${sqlDetSum("y")} / COUNT(*) AS my,
              |         COUNT(*) AS n
              |  FROM base),
              |mom AS (
              |  SELECT
              |    ${sqlDetSum("(q - m1) * (q - m1)")} AS s11,
              |    ${sqlDetSum("(q - m1) * (dd - m2)")} AS s12,
              |    ${sqlDetSum("(dd - m2) * (dd - m2)")} AS s22,
              |    ${sqlDetSum("(q - m1) * (y - my)")} AS s1y,
              |    ${sqlDetSum("(dd - m2) * (y - my)")} AS s2y,
              |    ${sqlDetSum("(y - my) * (y - my)")} AS syy,
              |    MAX(m1) AS m1, MAX(m2) AS m2, MAX(my) AS my, MAX(n) AS n
              |  FROM base CROSS JOIN means),
              |w AS (
              |  SELECT *,
              |    (s1y * s22 - s2y * s12) / (s11 * s22 - s12 * s12) AS w1,
              |    (s2y * s11 - s1y * s12) / (s11 * s22 - s12 * s12) AS w2
              |  FROM mom)
              |SELECT ROUND((my - w1 * m1 - w2 * m2) * 100000.0, 4) AS intercept,
              |  ROUND(w1 * 2000.0, 4) AS beta_qty,
              |  ROUND(w2 * 1000000.0, 4) AS beta_disc,
              |  ROUND(SQRT(GREATEST(
              |    syy - 2 * (w1 * s1y + w2 * s2y)
              |        + (w1 * w1 * s11 + 2 * w1 * w2 * s12 + w2 * w2 * s22),
              |    0.0) / n) * 100000.0, 4) AS rmse
              |FROM w""".stripMargin)),

    Q("ml_calibrated_platt", // CalibratedLearner(Sigmoid)
      // (calibration.py:87-140): Platt scaling = 1-D logistic fit of the
      // outcome on the score — reuses the deterministic full-batch GD
      // whose SQL twin (iterations unrolled as chained CTEs) makes the
      // fitted sigmoid oracle-exact, same device as ml_sgd_logreg.
      (s, d) => graft.ml.Calibration.plattCalibrate(
        li(s, d), col("l_discount") * 10,
        col("l_quantity") > 25, iters = 10),
      Some(graft.ml.SGD.logRegGDSql(
        "lineitem",
        Seq(("score", "l_discount * 10")),
        "CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END",
        iterations = 10, lr = 1.0))),

    Q("ml_scoring_sheet", // scoringsheet.py (fasterrisk): binarize →
      // sparse integer points via deterministic logistic GD. Oracle:
      // quantile_disc reproduces Spark's exact-percentile thresholds
      // (verified convention match), the 6-indicator GD unrolls as CTEs,
      // and the top-|w| selection + integer rescale is an UNPIVOT +
      // rank + FLOOR(x+0.5) (the java round twin). Assumes the 3
      // quartile cuts per feature stay distinct (true on this data at
      // both SFs; a collapse would change the indicator count).
      (s, d) => {
        val c = Tables.load(s, d, "customer")
        val sheet = graft.ml.ScoringSheet.fit(c,
          Seq("c_acctbal", "c_nationkey"),
          col("c_mktsegment") === "BUILDING")
        graft.ml.ScoringSheet.sheetDF(s, sheet)
      },
      Some {
        val gd = graft.ml.SGD.logRegGDSql("ind",
          (0 until 6).map(i => (s"i$i", s"i$i")), "y",
          iterations = 10, lr = 1.0)
        val candRows = (0 until 6).map { i =>
          val (feat, q) =
            if (i < 3) ("c_acctbal", s"qa[${i + 1}]")
            else ("c_nationkey", s"qn[${i - 2}]")
          s"SELECT '$feat' AS feature, $q AS threshold, g.w_i$i AS w " +
            "FROM g CROSS JOIN thr"
        }.mkString("\n  UNION ALL\n  ")
        s"""WITH thr AS (
           |  SELECT quantile_disc(CAST(c_acctbal AS DOUBLE),
           |           [0.25, 0.5, 0.75]) AS qa,
           |         quantile_disc(CAST(c_nationkey AS DOUBLE),
           |           [0.25, 0.5, 0.75]) AS qn
           |  FROM customer),
           |ind AS (
           |  SELECT
           |    ${(0 until 3).map(i =>
                s"CASE WHEN c_acctbal >= qa[${i + 1}] THEN 1.0 ELSE 0.0 END AS i$i")
                .mkString(",\n    ")},
           |    ${(0 until 3).map(i =>
                s"CASE WHEN c_nationkey >= qn[${i + 1}] THEN 1.0 ELSE 0.0 END AS i${i + 3}")
                .mkString(",\n    ")},
           |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS y
           |  FROM customer CROSS JOIN thr),
           |g AS ($gd),
           |cand AS (
           |  $candRows),
           |ranked AS (
           |  SELECT *, ROW_NUMBER() OVER (
           |    ORDER BY ABS(w) DESC, feature ASC, threshold ASC) AS rk
           |  FROM cand),
           |kept AS (SELECT * FROM ranked WHERE rk <= 5 AND w <> 0.0),
           |wmax AS (SELECT MAX(ABS(w)) AS m FROM kept)
           |SELECT feature, ROUND(threshold, 6) AS threshold,
           |  CAST(FLOOR(w / wmax.m * 5 + 0.5) AS INT) AS points
           |FROM kept CROSS JOIN wmax
           |WHERE CAST(FLOOR(w / wmax.m * 5 + 0.5) AS INT) <> 0
           |ORDER BY feature, ROUND(threshold, 6)""".stripMargin
      }),

    Q("ml_logreg_embeddings", // classification/logistic_regression.py
      // LogisticRegressionLearner — binary logistic fit (label < 5 vs
      // rest) over the 8 leading embedding coordinates, re-expressed as
      // the deterministic full-batch GD device (same machinery as
      // ml_sgd_logreg: partition-local scaled-long gradient sums,
      // per-step 10-decimal weight rounding) instead of MLlib's LBFGS —
      // was rows-only, now oracle-exact via the unrolled-CTE twin. The
      // MLlib adapter surface stays covered by ml_random_forest/ml_gbt/
      // ml_mlp_embeddings.
      (s, d) => graft.ml.SGD.logRegGD(
        emb(s, d),
        (0 until 8).map(i =>
          (s"e$i", element_at(col("embedding"), i + 1).cast("double"))),
        when(col("label") < 5, 1).otherwise(0),
        iterations = 15, lr = 2.0),
      Some(graft.ml.SGD.logRegGDSql(
        "embeddings",
        (0 until 8).map(i => (s"e$i", s"embedding[${i + 1}]")),
        "CASE WHEN label < 5 THEN 1 ELSE 0 END",
        iterations = 15, lr = 2.0))),

    Q("ml_softmax_regression", // softmax_regression.py:11-101
      // SoftmaxRegressionLearner — the reference's exact L2
      // cross-entropy gradient (bias regularized too), fit by
      // full-batch GD instead of L-BFGS: one scan per iteration with
      // partition-local scaled-long gradient sums, θ on the driver.
      // Deterministic end to end → unrolled-CTE oracle (the argmax
      // prediction compares raw z scores, never exp'd probabilities).
      // 16 leading embedding coordinates (|x| ≤ 0.52, inside the
      // scaled-long envelope), 10 classes; lr/iterations chosen so the
      // convergence is visible (accuracy ≈ 0.21 vs 0.1 chance at
      // sf0.01).
      (s, d) => graft.ml.Softmax.fit(
        emb(s, d),
        (0 until 16).map(i =>
          (s"e$i", element_at(col("embedding"), i + 1).cast("double"))),
        col("label"), numClasses = 10, iterations = 20, lr = 10.0,
        lambda = 1.0),
      Some(graft.ml.Softmax.fitSql(
        "embeddings",
        (0 until 16).map(i => (s"e$i", s"embedding[${i + 1}]")),
        "label", numClasses = 10, iterations = 20, lr = 10.0,
        lambda = 1.0))),

    Q("ml_kmeans_embeddings", // clustering/kmeans.py over the embedding
      // table at working dimensionality (8 dims, k=5) — deterministic
      // Lloyd (first-k-by-id seeding) instead of MLlib's seeded random
      // init — was rows-only, now oracle-exact via the unrolled
      // (assign, group, update) CTE trajectory. Distinct from
      // ml_kmeans_lloyd (4 dims, k=4) in shape: wider argmin CASE
      // chain, more centroid columns through the same one-scan-per-
      // iteration plan.
      (s, d) => graft.ml.Lloyd.fit(
        emb(s, d), col("vec_id"),
        (0 until 8).map(i =>
          (s"e$i", element_at(col("embedding"), i + 1).cast("double"))),
        k = 5, iterations = 6),
      Some(graft.ml.Lloyd.fitSql(
        "embeddings", "vec_id",
        (0 until 8).map(i => (s"e$i", s"embedding[${i + 1}]")),
        k = 5, iterations = 6))),

    Q("ml_kmeans_lloyd", // clustering/kmeans.py KMeans re-expressed as
      // deterministic Lloyd iterations (first-k-by-id seeding instead
      // of sklearn's random restarts): one scan per iteration —
      // broadcast centroids, argmin CASE assignment, k-group centroid
      // update through the scaled-long grid. Fully oracle-checked
      // (sizes, per-cluster inertia, final centroids) via the
      // unrolled-CTE twin — the iterative-clustering analogue of the
      // GD device.
      (s, d) => graft.ml.Lloyd.fit(
        emb(s, d), col("vec_id"),
        (0 until 4).map(i =>
          (s"e$i", element_at(col("embedding"), i + 1).cast("double"))),
        k = 4, iterations = 8),
      Some(graft.ml.Lloyd.fitSql(
        "embeddings", "vec_id",
        (0 until 4).map(i => (s"e$i", s"embedding[${i + 1}]")),
        k = 4, iterations = 8))),

    Q("ml_pca_embeddings", // projection/pca.py PCA explained variance —
      // top-5 eigenvalues of the 12-dim leading-coordinate covariance
      // by deflated power iteration (PowerPCA: ONE moments scan, all
      // iteration scalar algebra driver-side on the 1e-12 grid) instead
      // of MLlib's SVD — was rows-only, now oracle-exact via the
      // scalar-CTE twin (same device as ml_cur_leverage).
      (s, d) => graft.ml.PowerPCA.eigs(
        emb(s, d),
        (0 until 12).map(i =>
          (s"e$i", element_at(col("embedding"), i + 1).cast("double"))),
        nComp = 5, iters = 25),
      Some(graft.ml.PowerPCA.eigsSql(
        "embeddings",
        (0 until 12).map(i => (s"e$i", s"embedding[${i + 1}]")),
        nComp = 5, iters = 25))),

    Q("ml_decision_tree", // tree.py TreeLearner on discrete attributes —
      // depth-2 multiway entropy tree as pure contingency algebra (two
      // corpus scans, all ranks over the tiny contingency), oracle-exact
      // against the same induction unrolled as CTEs. The MLlib CART
      // wrapper remains under ml_random_forest/ml_gbt.
      (s, d) => graft.ml.DecisionTree.depth2(
        li(s, d),
        Seq(("flag", col("l_returnflag")),
          ("qty_bin", floor((col("l_quantity") - 1) / 10)),
          ("disc_bin", floor(col("l_discount") * 20))),
        col("l_linestatus")),
      Some(graft.ml.DecisionTree.depth2Sql(
        "lineitem",
        Seq(("flag", "l_returnflag"),
          ("qty_bin", "CAST(FLOOR((l_quantity - 1) / 10) AS BIGINT)"),
          ("disc_bin", "CAST(FLOOR(l_discount * 20) AS BIGINT)")),
        "l_linestatus"))),

    Q("ml_tree_regression", // regression/tree.py:16 TreeLearner —
      // Orange's own regression inducer (binarize=False default):
      // depth-2 multiway tree, splits scored by the grouped-MSE
      // decrease of _tree_scorers.pyx:323 compute_grouped_MSE
      // ((Σ s_v²/n_v − (Σs_v)²/n)/N over ≥min_leaf groups, 0 under 2
      // valid groups), mean leaves (test_tree.py:24 test_regression).
      // Same two-scan moment-algebra shape as ml_decision_tree; the
      // oracle replays the induction CTE-for-CTE, coarse detSum grid
      // on the s²/n terms.
      (s, d) => graft.ml.DecisionTree.depth2Regression(
        li(s, d),
        Seq(("flag", col("l_returnflag")),
          ("status", col("l_linestatus")),
          ("disc_bin", floor(col("l_discount") * 20)),
          ("tax_bin", floor(col("l_tax") * 25))),
        col("l_quantity")),
      Some(graft.ml.DecisionTree.depth2RegressionSql(
        "lineitem",
        Seq(("flag", "l_returnflag"),
          ("status", "l_linestatus"),
          ("disc_bin", "CAST(FLOOR(l_discount * 20) AS BIGINT)"),
          ("tax_bin", "CAST(FLOOR(l_tax * 25) AS BIGINT)")),
        "l_quantity"))),

    Q("ml_random_forest", // classification/random_forest.py (sklearn
      // RandomForestClassifier) — deterministic forest of bagged depth-2
      // contingency trees: md5-hash Bernoulli(0.632) row bags, cyclic
      // per-tree feature subsets, majority vote with pinned ties. Was
      // rows-only on the MLlib RF (RNG-bound); now oracle-exact — the
      // twin replays every tree's induction over the same hash bags and
      // the identical vote algebra. 2T contingency scans + one vote
      // scan; the model never leaves the driver.
      (s, d) => graft.ml.RandomForest.fitVote(
        li(s, d),
        Seq(("flag", col("l_returnflag")),
          ("qty_bin", floor((col("l_quantity") - 1) / 10)),
          ("disc_bin", floor(col("l_discount") * 20)),
          ("tax_bin", floor(col("l_tax") * 25))),
        col("l_linestatus"),
        concat_ws("#", col("l_orderkey"), col("l_linenumber")),
        trees = 5),
      Some(graft.ml.RandomForest.fitVoteSql(
        "lineitem",
        Seq(("flag", "l_returnflag"),
          ("qty_bin", "CAST(FLOOR((l_quantity - 1) / 10) AS BIGINT)"),
          ("disc_bin", "CAST(FLOOR(l_discount * 20) AS BIGINT)"),
          ("tax_bin", "CAST(FLOOR(l_tax * 25) AS BIGINT)")),
        "l_linestatus",
        "concat_ws('#', l_orderkey, l_linenumber)",
        trees = 5))),

    Q("ml_gbt", { // classification/gb.py GBClassifier (sklearn
      // GradientBoostingClassifier) — in-house Newton boosting over
      // depth-1 regression stumps (Friedman 2001 gain/leaf algebra),
      // one scaled-long-sum pass per round over the primitive-array
      // cache instead of MLlib's per-tree job storm. Deterministic end
      // to end — was rows-only on the MLlib wrapper, now oracle-exact
      // against the CTE-unrolled twin that replays the identical
      // split-selection trajectory.
      val cands = graft.ml.GradBoost.splits(Seq(
        "qty" -> Seq(10.0, 20.0, 30.0, 40.0),
        "disc" -> Seq(0.02, 0.05, 0.08),
        "tax" -> Seq(0.03, 0.06)))
      (s: SparkSession, d: String) => graft.ml.GradBoost.fitLogistic(
        li(s, d),
        Seq("qty" -> col("l_quantity"), "disc" -> col("l_discount"),
          "tax" -> col("l_tax")),
        when(col("l_extendedprice") > 30000, 1.0).otherwise(0.0),
        cands, rounds = 6, lr = 0.3)
    },
      Some(graft.ml.GradBoost.fitLogisticSql(
        "lineitem",
        Seq("qty" -> "l_quantity", "disc" -> "l_discount",
          "tax" -> "l_tax"),
        "CASE WHEN l_extendedprice > 30000 THEN 1.0 ELSE 0.0 END",
        graft.ml.GradBoost.splits(Seq(
          "qty" -> Seq(10.0, 20.0, 30.0, 40.0),
          "disc" -> Seq(0.02, 0.05, 0.08),
          "tax" -> Seq(0.03, 0.06))), rounds = 6, lr = 0.3))),

    Q("ml_xgb_adapter", { // classification/xgb.py XGBBase / catgb.py —
      // the external-booster hyperparameter surface (learning_rate,
      // reg_lambda, subsample, colsample_bytree) on the in-house
      // Newton booster: per-round md5-hash row bagging (stochastic
      // gradient boosting with a replayable random source) and a
      // cyclic colsample feature rotation — was rows-only on the MLlib
      // wrapper, now oracle-exact (the twin replays the same bags from
      // the same portable hash).
      val cands = graft.ml.GradBoost.splits(Seq(
        "qty" -> Seq(10.0, 20.0, 30.0, 40.0),
        "disc" -> Seq(0.02, 0.05, 0.08),
        "tax" -> Seq(0.03, 0.06)))
      (s: SparkSession, d: String) => graft.ml.GradBoost.fitLogistic(
        li(s, d),
        Seq("qty" -> col("l_quantity"), "disc" -> col("l_discount"),
          "tax" -> col("l_tax")),
        when(col("l_extendedprice") > 30000, 1.0).otherwise(0.0),
        cands, rounds = 6, lr = 0.3, lambda = 2.0, subsample = 0.8,
        colsample = 0.67,
        rowKey = concat_ws("#", col("l_orderkey"), col("l_linenumber")))
    },
      Some(graft.ml.GradBoost.fitLogisticSql(
        "lineitem",
        Seq("qty" -> "l_quantity", "disc" -> "l_discount",
          "tax" -> "l_tax"),
        "CASE WHEN l_extendedprice > 30000 THEN 1.0 ELSE 0.0 END",
        graft.ml.GradBoost.splits(Seq(
          "qty" -> Seq(10.0, 20.0, 30.0, 40.0),
          "disc" -> Seq(0.02, 0.05, 0.08),
          "tax" -> Seq(0.03, 0.06))), rounds = 6, lr = 0.3,
        lambda = 2.0, subsample = 0.8, colsample = 0.67,
        rowKeySql = "concat_ws('#', l_orderkey, l_linenumber)"))),

    Q("ml_linear_svc", // svm.py LinearSVC — the full 4-feature linear
      // SVM fit (hinge subgradient, deterministic full-batch GD with
      // scaled-long gradient sums) instead of MLlib's OWLQN — was
      // rows-only, now oracle-exact via the unrolled-CTE twin.
      // l_linestatus is shipdate-separable, so the fit converges to
      // high accuracy; features pre-scaled inside the |x| ≤ 1 envelope.
      (s, d) => graft.ml.SGD.linearGD(
        li(s, d),
        Seq(("qty", col("l_quantity") / 50.0),
          ("price", col("l_extendedprice") / 120000.0),
          ("disc", col("l_discount") * 10.0),
          ("tax", col("l_tax") * 10.0)),
        when(col("l_linestatus") === "F", 1).otherwise(-1),
        iterations = 12, lr = 1.0, graft.ml.SGD.HingeLoss),
      Some(graft.ml.SGD.linearGDSql(
        "lineitem",
        Seq(("qty", "l_quantity / 50.0"),
          ("price", "l_extendedprice / 120000.0"),
          ("disc", "l_discount * 10.0"),
          ("tax", "l_tax * 10.0")),
        "CASE WHEN l_linestatus = 'F' THEN 1 ELSE -1 END",
        iterations = 12, lr = 1.0, graft.ml.SGD.HingeLoss))),

    Q("ml_linear_regression", // regression/linear.py
      // LinearRegressionLearner (sklearn lstsq) — for the 3-feature fits
      // Orange workflows use, the normal equations have an exact Cramer
      // closed form on centered moments, so the fit is TWO aggregation
      // scans and oracle-exact (same device as ml_ridge_regression).
      // Features pre-scaled to ~[0,1] to stay on the detSum grid.
      (s, d) => graft.ml.LinearClosed.ols3(
        li(s, d),
        ("qty", col("l_quantity") / 50.0),
        ("disc", col("l_discount") * 10.0),
        ("tax", col("l_tax") * 10.0),
        col("l_extendedprice") / 100000.0),
      Some(graft.ml.LinearClosed.ols3Sql(
        "lineitem",
        ("qty", "l_quantity / 50.0"),
        ("disc", "l_discount * 10.0"),
        ("tax", "l_tax * 10.0"),
        "l_extendedprice / 100000.0"))),

    Q("ml_bisecting_kmeans", // hierarchical.py's divisive complement
      // (MLlib BisectingKMeans) re-expressed as deterministic bisecting
      // Lloyd: split the largest cluster with lowest-id-seeded 2-means,
      // repeat to k — every choice pinned, centroid updates through the
      // scaled-long grid, so the trajectory is oracle-exact via the
      // unrolled split/iteration CTE blocks. Was rows-only under the
      // seeded-random MLlib fit.
      (s, d) => graft.ml.Bisect.fit(
        emb(s, d), col("vec_id"),
        (0 until 6).map(i =>
          (s"e$i", element_at(col("embedding"), i + 1).cast("double"))),
        k = 5, iterations = 4),
      Some(graft.ml.Bisect.fitSql(
        "embeddings", "vec_id",
        (0 until 6).map(i => (s"e$i", s"embedding[${i + 1}]")),
        k = 5, iterations = 4))),

    Q("ml_mlp_embeddings", // classification/neural_network.py
      // NNClassificationLearner (sklearn MLPClassifier) — 1-hidden-layer
      // net as a random-feature network (the same extreme-learning-
      // machine construction as ml_mlp_regression): FIXED md5-keyed
      // softsign hidden units over 16 embedding coordinates + a softmax
      // output layer trained by full-batch GD (Softmax.fit's one-scan-
      // per-iteration scaled-long gradient path). Softsign (not the
      // exp-composed tanh): the softmax loss feeds activations through
      // EXP, and a libm-exp ulp inside the FEATURE would amplify across
      // iterations — softsign is pure IEEE arithmetic, bit-identical in
      // both engines. Was rows-only on the MLlib MLP (LBFGS,
      // non-replayable); now oracle-exact.
      (s, d) => graft.ml.Softmax.fit(
        emb(s, d),
        graft.ml.KernelSVM.softsignFeatures(
          (0 until 16).map(i =>
            element_at(col("embedding"), i + 1).cast("double")),
          16, 1.0).zipWithIndex.map { case (f, j) => (s"z$j", f) },
        col("label"), numClasses = 10, iterations = 15, lr = 10.0,
        lambda = 1.0),
      Some(graft.ml.Softmax.fitSql(
        "embeddings",
        graft.ml.KernelSVM.softsignFeatureSqls(
          // cast BEFORE the projection arithmetic: DuckDB evaluates
          // FLOAT * DOUBLE in FLOAT (the literal is truncated!), while
          // Spark widens — uncast, the twin's features differ at 1e-8
          (0 until 16).map(i => s"CAST(embedding[${i + 1}] AS DOUBLE)"),
          16, 1.0)
          .zipWithIndex.map { case (z, j) => (s"z$j", z) },
        "label", numClasses = 10, iterations = 15, lr = 10.0,
        lambda = 1.0))),

    Q("ml_dbscan_1d", // clustering/dbscan.py — exact 1-D DBSCAN as
      // range-frame window algebra, chunk-partitioned with ghost rows so
      // no global single-partition window exists; eps=10, minPts=3.
      // chunkWidth 100 (was 2000): acctbal spans ~11000, so 2000-wide
      // chunks gave only ~6 window tasks — the sf1 rehearsal measured
      // 109 s from that serialization. ~110 chunks parallelize the
      // window at a 20% ghost-row overhead; results are chunkWidth-
      // invariant (any width ≥ 2·eps), which the oracle re-gate pins.
      (s, d) => graft.ml.Clustering
        .dbscan1dChunked(Tables.load(s, d, "customer").select(
          col("c_custkey").as("id"), col("c_acctbal").as("v")),
          "id", "v", 10.0, 3, chunkWidth = 100.0)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"), min(col("v")).as("lo"),
          max(col("v")).as("hi"), sum(col("is_core")).as("n_core"))
        .orderBy(col("cluster")),
      Some("""WITH base AS (SELECT c_custkey AS id, c_acctbal AS v FROM customer),
             |f AS (SELECT id, v,
             |  COUNT(*) OVER (ORDER BY v RANGE BETWEEN 10.0 PRECEDING
             |                 AND 10.0 FOLLOWING) AS n_nbr
             |  FROM base),
             |g AS (SELECT id, v, n_nbr,
             |  CASE WHEN n_nbr >= 3 THEN 1 ELSE 0 END AS is_core,
             |  LAST_VALUE(CASE WHEN n_nbr >= 3 THEN v END IGNORE NULLS) OVER
             |    (ORDER BY v ASC, id ASC
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pcb
             |  FROM f),
             |h AS (SELECT *, CASE WHEN is_core = 1
             |    AND (pcb IS NULL OR v - pcb > 10.0) THEN 1 ELSE 0 END AS brk
             |  FROM g),
             |i AS (SELECT *, CASE WHEN is_core = 1 THEN
             |    CAST(SUM(brk) OVER (ORDER BY v ASC, id ASC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT)
             |  END AS core_cluster FROM h),
             |j AS (SELECT *,
             |  LAST_VALUE(CASE WHEN is_core = 1 THEN v END IGNORE NULLS) OVER wp AS prev_v,
             |  LAST_VALUE(core_cluster IGNORE NULLS) OVER wp AS prev_cl,
             |  FIRST_VALUE(CASE WHEN is_core = 1 THEN v END IGNORE NULLS) OVER wn AS next_v,
             |  FIRST_VALUE(core_cluster IGNORE NULLS) OVER wn AS next_cl
             |  FROM i
             |  WINDOW wp AS (ORDER BY v ASC, id ASC
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |  wn AS (ORDER BY v ASC, id ASC
             |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
             |assigned AS (SELECT v, is_core,
             |  CAST(CASE WHEN is_core = 1 THEN core_cluster
             |    WHEN prev_v IS NOT NULL AND v - prev_v <= 10.0
             |      AND (next_v IS NULL OR next_v - v > 10.0
             |           OR v - prev_v <= next_v - v) THEN prev_cl
             |    WHEN next_v IS NOT NULL AND next_v - v <= 10.0 THEN next_cl
             |    ELSE -1 END AS BIGINT) AS cluster
             |  FROM j)
             |SELECT cluster, COUNT(*) AS n, MIN(v) AS lo, MAX(v) AS hi,
             |  CAST(SUM(is_core) AS BIGINT) AS n_core
             |FROM assigned GROUP BY cluster ORDER BY cluster""".stripMargin)),

    Q("ml_louvain_lpa", // louvain.py:103 — kNN graph from embeddings
      // (LSH-bucketed candidates, equi-join on bucket — no all-pairs
      // scan) + LPA scaffold + modularity-greedy refinement. Now
      // oracle-exact end-to-end: the refinement rounds unroll as CTEs
      // (rejection is idempotent, so the unrolled rounds agree with the
      // early-stopping loop — Community.louvainSql); all modularity
      // inputs are integer counts/degrees. Was rows-only.
      (s, d) => {
        val e = emb(s, d).filter(col("vec_id") < 500)
        val graph = graft.ml.Community.knnGraphLSH(
          e, "vec_id", "embedding", 64, 5, nPlanes = 4)
        graft.ml.Community.louvain(graph, "src", "dst", 5, 3)
          .groupBy(col("label").as("community"))
          .agg(count(lit(1)).as("size"))
          .filter(col("size") >= 3)
          .orderBy(col("community"))
      },
      Some(graft.ml.Community.louvainSql(
        SimilarityQueries.lshSymGraphPrefix(500, 5, nPlanes = 4),
        lpaRounds = 5, refineRounds = 3,
        select = """SELECT label AS community, COUNT(*) AS size
                   |FROM rl3 GROUP BY label HAVING COUNT(*) >= 3
                   |ORDER BY community""".stripMargin))),

    Q("ml_hierarchical", // hierarchical.py:437-470 — agglomerative
      // linkage fitted on a deterministic 40-point sample, extended to
      // all rows by nearest-centroid assignment (broadcast join). The
      // average-SQUARED-Euclidean linkage has a closed moment form
      // (ms_A + ms_B − 2·μ_A·μ_B), so the dendrogram is a scalar merge
      // trajectory that unrolls as 35 (pairs → argmin → state) CTE
      // triples — was rows-only under the Lance–Williams matrix loop.
      // The generic single/complete/average/ward path stays in
      // Hierarchical.cluster (HierarchicalSpec).
      (s, d) => graft.ml.Hierarchical.clusterMoments(
          emb(s, d), "vec_id",
          (0 until 8).map(i =>
            (s"e$i", element_at(col("embedding"), i + 1).cast("double"))),
          nClusters = 5, sampleN = 40)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"), min(col("vec_id")).as("min_id"))
        .orderBy(col("cluster")),
      Some(graft.ml.Hierarchical.clusterMomentsSql(
        "embeddings", "vec_id",
        (0 until 8).map(i => (s"e$i", s"embedding[${i + 1}]")),
        nClusters = 5, sampleN = 40,
        select = """SELECT cluster, COUNT(*) AS n, MIN(id) AS min_id
                   |FROM assigned GROUP BY cluster ORDER BY cluster"""
          .stripMargin))),

    Q("ml_mds_sampled", // manifold.py:119 MDS — classical scaling on a
      // deterministic 200-point sample (survey: driver-side, sampled,
      // non-goal at full scale), 16 leading coordinates. The
      // grid-rounded power-iteration trajectory (B/m scaling, DECIMAL
      // matvec sums) replays CTE-for-CTE in DuckDB — was rows-only
      // under the free-running eigensolver.
      (s, d) => graft.ml.Manifold.mdsSampledExact(
        emb(s, d), "vec_id", "embedding", dims = 16, n = 200, iters = 40),
      Some(graft.ml.Manifold.mdsSampledExactSql(
        "embeddings", "vec_id", k => s"embedding[${k + 1}]",
        dims = 16, n = 200, iters = 40))),

    Q("ml_permutation_test", // widgets/evaluate/owpermutationplot.py:62-94
      // permutation(): N label shuffles, each scored on-train + k-fold
      // CV (N_FOLD = 7) against |spearman(y, y_perm)|·100, with the
      // two-point linregress slopes — the classic overfitting check.
      // Learner = simple linear regression scored by R² (the reference
      // picks R2 for continuous targets); shuffles are the md5-order
      // device, all reductions exact-DECIMAL.
      (s, d) => graft.ml.PermutationTest.permutationDiag(
        emb(s, d).filter(col("vec_id") < 300), "vec_id",
        element_at(col("embedding"), 1), element_at(col("embedding"), 2),
        nPerm = 8, folds = 7),
      Some(graft.ml.PermutationTest.permutationDiagSql(
        "vec_id < 300", xIdx = 1, yIdx = 2, nPerm = 8, folds = 7))),

    Q("ml_isomap", // projection/manifold.py:169 Isomap (sklearn-wrapped,
      // n_neighbors default 5; tests test_manifold.py:80-88): symmetric
      // kNN graph with Euclidean weights → all-pairs geodesics by
      // min-plus path doubling (2^7 ≥ n−1 hops = full closure) →
      // Torgerson scaling of squared geodesics. Same sampled-projection
      // contract + grid-rounded trajectory replay as ml_mds_sampled.
      (s, d) => graft.ml.Manifold.isomapSampledExact(
        emb(s, d), "vec_id", "embedding", dims = 16, n = 128,
        kNei = 6, hops = 7, iters = 40),
      Some(graft.ml.Manifold.isomapSampledExactSql(
        "embeddings", "vec_id", k => s"embedding[${k + 1}]",
        dims = 16, n = 128, kNei = 6, hops = 7, iters = 40))),

    Q("ml_spectral_embedding", // projection/manifold.py:196
      // SpectralEmbedding (sklearn-wrapped, affinity =
      // 'nearest_neighbors'; tests test_manifold.py:118-124): kNN
      // connectivity affinity (A+Aᵀ)/2, normalized-adjacency Laplacian
      // eigenmap with the constant direction (λ=1, v ∝ √dᵢ) deflated
      // analytically, coordinates vᵢ/√dᵢ — grid power iteration, full
      // CTE replay.
      (s, d) => graft.ml.Manifold.spectralSampledExact(
        emb(s, d), "vec_id", "embedding", dims = 16, n = 200,
        kNei = 8, iters = 40),
      Some(graft.ml.Manifold.spectralSampledExactSql(
        "embeddings", "vec_id", k => s"embedding[${k + 1}]",
        dims = 16, n = 200, kNei = 8, iters = 40))),

    Q("ml_lle", // projection/manifold.py:182 LocallyLinearEmbedding
      // (standard method, n_neighbors=5, reg=1e-3 — the sklearn
      // barycenter_weights regularization rule; tests
      // test_manifold.py:90-116): per-point barycentric weights by
      // projected-gradient rounds on the regularized local Gram (a
      // trajectory that replays as CTEs where a closed-form solve
      // would not), embedding = smallest non-null eigenvectors of
      // (I−W)ᵀ(I−W) via Gershgorin shift + analytic constant
      // deflation.
      (s, d) => graft.ml.Manifold.lleSampledExact(
        emb(s, d), "vec_id", "embedding", dims = 16, n = 128,
        kNei = 5, reg = 0.001, wIters = 48, iters = 40),
      Some(graft.ml.Manifold.lleSampledExactSql(
        "embeddings", "vec_id", k => s"embedding[${k + 1}]",
        dims = 16, n = 128, kNei = 5, reg = 0.001, wIters = 48,
        iters = 40))),

    Q("ml_lle_ltsa", // projection/manifold.py:182 LLE method='ltsa'
      // (tests/test_manifold.py:99-102): Local Tangent Space Alignment
      // — per-point tangent basis = top-2 eigenvectors of the centered
      // local Gram (grid power iteration, the per-point twin of the
      // local SVD), alignment matrix M += I − GᵢGᵢᵀ with
      // Gᵢ = [1/√k, g₁, g₂], embedding = smallest non-null
      // eigenvectors of M (ones is grid-null by construction).
      (s, d) => graft.ml.Manifold.ltsaSampledExact(
        emb(s, d), "vec_id", "embedding", dims = 16, n = 128,
        kNei = 5, locIters = 24, iters = 40),
      Some(graft.ml.Manifold.ltsaSampledExactSql(
        "embeddings", "vec_id", k => s"embedding[${k + 1}]",
        dims = 16, n = 128, kNei = 5, locIters = 24, iters = 40))),

    Q("ml_lle_hessian", // projection/manifold.py:182 LLE
      // method='hessian' (tests/test_manifold.py:104-107): Hessian
      // eigenmaps — tangent coords from the shared per-point
      // eigensolve, design matrix [1, t₁, t₂, t₁², t₁t₂, t₂²],
      // 15-step modified Gram-Schmidt (each step a grid inner
      // product, so qr() replays as CTEs), Hessian estimator = last 3
      // columns with the hessian_tol column-sum guard, M += wwᵀ.
      (s, d) => graft.ml.Manifold.hessianSampledExact(
        emb(s, d), "vec_id", "embedding", dims = 16, n = 128,
        kNei = 8, locIters = 24, iters = 40),
      Some(graft.ml.Manifold.hessianSampledExactSql(
        "embeddings", "vec_id", k => s"embedding[${k + 1}]",
        dims = 16, n = 128, kNei = 8, locIters = 24, iters = 40))),

    Q("ml_lle_modified", // projection/manifold.py:182 LLE
      // method='modified' (tests/test_manifold.py:109-112): MLLE
      // (Zhang & Wang 2006) — the 4th and last sklearn LLE method.
      // Full k-component per-point eigensolve of the POINT-centered
      // local Gram (k ≤ d_in = sklearn's eigh branch, so no basis
      // ambiguity), regularized weights V(λ+reg)⁻¹Vᵀ1, median-η
      // almost-null-space sizing via the cumsum-ratio ladder
      // (numpy searchsorted), Householder-aligned multi-weights
      // W = V_s − 2(V_s h)hᵀ + (1−α)w_reg1ᵀ, M += the WWᵀ block with
      // the −W·1 borders and +s diagonal. Ones stays grid-null by the
      // Householder column-sum identity; embedding = two smallest
      // non-null eigenvectors of M.
      (s, d) => graft.ml.Manifold.mlleSampledExact(
        emb(s, d), "vec_id", "embedding", dims = 16, n = 128,
        kNei = 5, locIters = 16, iters = 40),
      Some(graft.ml.Manifold.mlleSampledExactSql(
        "embeddings", "vec_id", k => s"embedding[${k + 1}]",
        dims = 16, n = 128, kNei = 5, locIters = 16, iters = 40))),

    Q("ml_freeviz", // projection/freeviz.py:241-383 — force-optimized
      // linear projection: anchors fitted on a deterministic 200-point
      // sample (radial init inlined as literals, same-class attract /
      // clamped cross-class repel, unit-disc rescale per step), rows
      // projected distributively as X·A. The fixed-schedule trajectory
      // with 1e-6-grid force terms and DECIMAL(38,8) sums replays
      // CTE-for-CTE in DuckDB — was rows-only under the early-stopping
      // force loop (which stays as FreeViz.fitProject / FreeVizSpec).
      (s, d) => {
        val base = emb(s, d).select(
          col("vec_id") +: col("label") +:
            (0 until 4).map(i =>
              element_at(col("embedding"), i + 1).cast("double")
                .as(s"e$i")): _*)
        val (_, proj) = graft.ml.FreeViz.fitProjectExact(
          base, "vec_id", (0 until 4).map(i => s"e$i"), "label",
          sampleN = 200, iters = 12)
        proj.groupBy(col("label").cast("string").as("label"))
          .agg(count(lit(1)).as("n"),
            round(exactMean(col("fv1")), 6).as("mean_fv1"),
            round(exactMean(col("fv2")), 6).as("mean_fv2"))
          .orderBy(col("label"))
      },
      Some(graft.ml.FreeViz.fitProjectExactSql(
          "embeddings", "vec_id",
          (0 until 4).map(i => (s"e$i", s"embedding[${i + 1}]")),
          "label", sampleN = 200, iters = 12) +
        s"""SELECT cls AS label, COUNT(*) AS n,
           |  ROUND(${SqlGen.sqlMean("fv1")}, 6) AS mean_fv1,
           |  ROUND(${SqlGen.sqlMean("fv2")}, 6) AS mean_fv2
           |FROM proj GROUP BY cls ORDER BY label""".stripMargin)),

    Q("ml_tsne_sampled", // projection/manifold.py:287 TSNE — exact
      // perplexity-calibrated t-SNE on a deterministic 120-point sample
      // (pinned classical-scaling init, per-point β bisection on the
      // 1e-8/1e-9 grids so the only libm calls die at a grid,
      // early-exaggerated momentum GD in pure rational arithmetic with
      // DECIMAL gradient sums), every other row placed by the
      // deterministic top-3 inverse-distance landmark interpolation.
      // The whole trajectory replays CTE-for-CTE — was rows-only; the
      // free-running 250-iteration variant stays as tsneSampled
      // (ManifoldSpec).
      (s, d) => graft.ml.Manifold.tsneSampledExact(
          emb(s, d).filter(col("vec_id") < 1000), "vec_id", "embedding",
          dims = 16, n = 120, perplexity = 20.0, betaSteps = 40,
          iters = 80, exagIters = 40, mdsIters = 30)
        .agg(count(lit(1)).as("n"),
          round(min(col("tsne1")), 4).as("min1"),
          round(max(col("tsne1")), 4).as("max1"),
          round(min(col("tsne2")), 4).as("min2"),
          round(max(col("tsne2")), 4).as("max2")),
      Some(graft.ml.Manifold.tsneSampledExactSql(
          "(SELECT * FROM embeddings WHERE vec_id < 1000)", "vec_id",
          k => s"embedding[${k + 1}]", fullDim = 64, dims = 16, n = 120,
          perplexity = 20.0, betaSteps = 40, iters = 80, exagIters = 40,
          mdsIters = 30) +
        """SELECT COUNT(*) AS n,
          |  ROUND(MIN(tsne1), 4) AS min1, ROUND(MAX(tsne1), 4) AS max1,
          |  ROUND(MIN(tsne2), 4) AS min2, ROUND(MAX(tsne2), 4) AS max2
          |FROM allpts""".stripMargin)),

    Q("ml_cur_leverage", // cur.py:13 — CUR column selection via
      // leverage scores Σ_c v_cj² over the top-3 deflated
      // power-iteration components (sign-free, so no eigenvector sign
      // convention crosses engines). One moments scan; oracle-exact
      // against the scalar-CTE twin — was rows-only under MLlib SVD.
      (s, d) => graft.ml.PowerPCA.leverage(
        emb(s, d),
        (0 until 8).map(i =>
          (s"e$i", element_at(col("embedding"), i + 1).cast("double"))),
        nComp = 3, iters = 25),
      Some(graft.ml.PowerPCA.leverageSql(
        "embeddings",
        (0 until 8).map(i => (s"e$i", s"embedding[${i + 1}]")),
        nComp = 3, iters = 25))),

    Q("ml_pca_power", // projection/pca.py PCA — top-2 eigenvalues +
      // explained-variance ratios of the feature covariance by
      // DEFLATED POWER ITERATION: one distributed moments scan, then
      // pure scalar algebra on the driver, mirrored step-for-step by
      // scalar CTEs. The first eigen-family query with a full DuckDB
      // oracle — "T rounded power steps from e0" is deterministic
      // whether or not it has converged. The 64-dim MLlib PCA stays
      // under ml_pca_embeddings (rows-only).
      (s, d) => graft.ml.PowerPCA.eigs(
        emb(s, d),
        (0 until 8).map(i =>
          (s"e$i", element_at(col("embedding"), i + 1).cast("double"))),
        nComp = 2, iters = 25),
      Some(graft.ml.PowerPCA.eigsSql(
        "embeddings",
        (0 until 8).map(i => (s"e$i", s"embedding[${i + 1}]")),
        nComp = 2, iters = 25))),

    Q("ml_sgd_logreg", // sgd.py → from-scratch full-batch gradient
      // descent on logistic loss: each iteration is one map-side-combined
      // aggregation; per-step 10-decimal weight rounding pins Spark and
      // the SQL-unrolled DuckDB twin to the same trajectory.
      // y = (quantity > 25) is linearly separable in the scaled qty
      // feature, so the optimizer's convergence is visible in accuracy.
      (s, d) => graft.ml.SGD.logRegGD(
        li(s, d),
        Seq(("qty", col("l_quantity") / 50.0),
            ("disc", col("l_discount") * 10.0)),
        when(col("l_quantity") > 25, 1).otherwise(0),
        iterations = 15, lr = 60.0),
      Some(graft.ml.SGD.logRegGDSql(
        "lineitem",
        Seq(("qty", "l_quantity / 50.0"), ("disc", "l_discount * 10.0")),
        "CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END",
        iterations = 15, lr = 60.0))),

    Q("ml_svr_linear", // regression/svm.py LinearSVR → full-batch GD on
      // the ε-insensitive loss: subgradient sign(z−y)·x outside the
      // ε-tube, 0 inside. Same oracle-exact device as ml_sgd_logreg
      // (scaled-long gradient sums + per-step 10-decimal weight
      // rounding, SQL twin unrolled as CTEs); price ≈ β·qty is the
      // genuinely linear TPC-H relation, so the fit converges visibly.
      (s, d) => graft.ml.SGD.linearGD(
        li(s, d),
        Seq(("qty", col("l_quantity") / 50.0)),
        col("l_extendedprice") / 100000.0,
        iterations = 12, lr = 0.5,
        graft.ml.SGD.EpsilonInsensitiveLoss(0.05)),
      Some(graft.ml.SGD.linearGDSql(
        "lineitem",
        Seq(("qty", "l_quantity / 50.0")),
        "l_extendedprice / 100000.0",
        iterations = 12, lr = 0.5,
        graft.ml.SGD.EpsilonInsensitiveLoss(0.05)))),

    Q("ml_sgd_hinge", // classification/sgd.py with hinge loss (linear
      // SVC subgradient −y·x where y·z<1, y ∈ {−1,+1}) — the
      // oracle-exact twin of the MLlib LinearSVC fit (ml_linear_svc,
      // rows-only); same deterministic-GD machinery as ml_sgd_logreg.
      (s, d) => graft.ml.SGD.linearGD(
        li(s, d),
        Seq(("qty", col("l_quantity") / 50.0),
            ("disc", col("l_discount") * 10.0)),
        when(col("l_quantity") > 25, 1).otherwise(-1),
        iterations = 12, lr = 1.0, graft.ml.SGD.HingeLoss),
      Some(graft.ml.SGD.linearGDSql(
        "lineitem",
        Seq(("qty", "l_quantity / 50.0"), ("disc", "l_discount * 10.0")),
        "CASE WHEN l_quantity > 25 THEN 1 ELSE -1 END",
        iterations = 12, lr = 1.0, graft.ml.SGD.HingeLoss))),

    Q("ml_svm_rbf", // classification/svm.py:11-45 SVC(kernel='rbf') —
      // RFF-linearized RBF SVC (KernelSVM): interval label ±1 iff
      // 15 ≤ qty ≤ 35, which no linear SVC can separate in qty.
      // Deterministic (md5-keyed features + rounded GD) but the 64
      // cosine features make an unrolled SQL twin impractical →
      // rows-only; KernelSVMSpec pins the linear-vs-RBF capability gap
      // and partitioning determinism.
      (s, d) => graft.ml.KernelSVM.rbfSvcAccuracy(
        li(s, d), Seq(col("l_quantity") / 50.0),
        when(col("l_quantity") >= 15 && col("l_quantity") <= 35, 1)
          .otherwise(-1)),
      Some {
        // same device as outliers_oneclass_svm (commit 160d3ea): the RFF
        // constants inline as identical double literals in a MATERIALIZED
        // feature CTE, then linearGDSql unrolls the 30 hinge-GD steps
        val d = 32; val gamma = 8.0
        val (freqs, offs) = graft.ml.OneClassSVM.rffConstants(1, d, gamma)
        val amp = math.sqrt(2.0 / d)
        def dl(v: Double): String = if (v < 0) s"($v)" else v.toString
        val zCols = (0 until d).map { j =>
          s"COS((l_quantity / 50.0) * ${dl(freqs(j)(0))} + ${dl(offs(j))})" +
            s" * ${dl(amp)} AS z$j"
        }.mkString(",\n    ")
        val prelude = s"feats AS MATERIALIZED (\n  SELECT\n    $zCols,\n" +
          "    CASE WHEN l_quantity >= 15 AND l_quantity <= 35 " +
          "THEN 1.0 ELSE -1.0 END AS y\n  FROM lineitem),\n"
        val gd = graft.ml.SGD.linearGDSql("feats",
          (0 until d).map(j => (s"z$j", s"z$j")), "y",
          iterations = 30, lr = 1.0, graft.ml.SGD.HingeLoss, prelude)
        s"""SELECT accuracy, CAST($d AS INT) AS rff_dim, $gamma AS gamma
           |FROM ($gd) t""".stripMargin
      }),

    Q("ml_mlp_regression", // regression/neural_network.py:20
      // NNRegressionLearner (sklearn MLPRegressor) — MLlib has no MLP
      // regressor, so this is the random-feature form: fixed md5-keyed
      // tanh hidden layer + linear output trained by squared-loss GD
      // (KernelSVM.mlpRegressionSummary). Deterministic end to end →
      // full unrolled-CTE oracle, not just rows-only.
      (s, d) => graft.ml.KernelSVM.mlpRegressionSummary(
        li(s, d),
        Seq(col("l_quantity") / 50.0, col("l_discount") * 10.0),
        col("l_extendedprice") / 100000.0),
      Some(graft.ml.KernelSVM.mlpRegressionSummarySql(
        "lineitem",
        Seq("l_quantity / 50.0", "l_discount * 10.0"),
        "l_extendedprice / 100000.0"))),

    Q("ml_som", // projection/som.py — batch SOM, 3×3 grid over the
      // 64-dim embeddings. The whole trajectory is engine-identical
      // IEEE arithmetic (detSum unit sums, literal Gaussian
      // neighborhood weights, argmin on fixed-order distance forms), so
      // the epochs unroll as (assign, group, pivot, blend) CTE quads —
      // was rows-only.
      (s, d) => graft.ml.SOM.fit(emb(s, d), "vec_id", "embedding",
        rows = 3, cols = 3, epochs = 3, sigma = 1.0),
      Some(graft.ml.SOM.fitSql("embeddings", "vec_id",
        i => s"embedding[${i + 1}]", dim = 64, rows = 3, cols = 3,
        epochs = 3, sigma = 1.0))),

    Q("ml_radviz", // projection family (SURVEY §2.11, widgets/visualize
      // radviz): span-normalize each feature, place anchors on the unit
      // circle, project each row to the normalized weighted anchor sum.
      // Four features ⇒ axis-aligned anchors (1,0),(0,1),(−1,0),(0,−1) —
      // exact arithmetic, no trig, oracle-exact.
      (s, d) => {
        val feats = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val stats = feats.flatMap(f => Seq(
          min(col(f)).as(s"mn_$f"), max(col(f)).as(s"mx_$f")))
        val withS = li(s, d)
          .crossJoin(broadcast(li(s, d).agg(stats.head, stats.tail: _*)))
        val sCol = feats.map(f =>
          (col(f) - col(s"mn_$f")) / (col(s"mx_$f") - col(s"mn_$f")))
        val tot = sCol.reduce(_ + _)
        // + 0.0 normalizes IEEE −0.0 (engines disagree on the sign bit
        // when the rounded projection is exactly zero)
        withS.select(col("l_orderkey"), col("l_linenumber"),
            (round((sCol(0) - sCol(2)) / tot, 6) + 0.0).as("rx"),
            (round((sCol(1) - sCol(3)) / tot, 6) + 0.0).as("ry"))
          .orderBy(col("l_orderkey"), col("l_linenumber"), col("rx"), col("ry"))
      },
      Some {
        val fs = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val s = fs.map(f => s"(($f - mn_$f) / (mx_$f - mn_$f))")
        val tot = s.mkString(" + ")
        s"""SELECT l_orderkey, l_linenumber,
           |  ROUND((${s(0)} - ${s(2)}) / ($tot), 6) + 0.0 AS rx,
           |  ROUND((${s(1)} - ${s(3)}) / ($tot), 6) + 0.0 AS ry
           |FROM lineitem CROSS JOIN (
           |  SELECT ${fs.map(f => s"MIN($f) AS mn_$f, MAX($f) AS mx_$f").mkString(", ")}
           |  FROM lineitem)
           |ORDER BY l_orderkey, l_linenumber, rx, ry""".stripMargin
      }),

    Q("ml_lda_projection", // projection/lda.py — Fisher discriminant,
      // 2-class closed form from one conditional-aggregation pass.
      (s, d) => graft.ml.LDA2.fisher2(
        Tables.load(s, d, "customer"), "c_acctbal", "c_nationkey",
        "c_mktsegment", "AUTOMOBILE", "BUILDING"),
      Some {
        def cs(cls: String, v: String) =
          sqlSum(s"CASE WHEN c_mktsegment = '$cls' THEN $v END")
        def cn(cls: String) =
          s"COUNT(CASE WHEN c_mktsegment = '$cls' THEN 1 END)"
        s"""WITH stats AS (SELECT
           |  ${cs("AUTOMOBILE", "c_acctbal")} AS sxa,
           |  ${cs("AUTOMOBILE", "c_nationkey")} AS sya,
           |  ${cs("AUTOMOBILE", "c_acctbal * c_acctbal")} AS sxxa,
           |  ${cs("AUTOMOBILE", "c_acctbal * c_nationkey")} AS sxya,
           |  ${cs("AUTOMOBILE", "c_nationkey * c_nationkey")} AS syya,
           |  ${cn("AUTOMOBILE")} AS na,
           |  ${cs("BUILDING", "c_acctbal")} AS sxb,
           |  ${cs("BUILDING", "c_nationkey")} AS syb,
           |  ${cs("BUILDING", "c_acctbal * c_acctbal")} AS sxxb,
           |  ${cs("BUILDING", "c_acctbal * c_nationkey")} AS sxyb,
           |  ${cs("BUILDING", "c_nationkey * c_nationkey")} AS syyb,
           |  ${cn("BUILDING")} AS nb
           |  FROM customer
           |  WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')),
           |m AS (SELECT *,
           |  sxa / na AS muax, sya / na AS muay,
           |  sxb / nb AS mubx, syb / nb AS muby,
           |  (sxxa - sxa * sxa / na) + (sxxb - sxb * sxb / nb) AS sxx,
           |  (sxya - sxa * sya / na) + (sxyb - sxb * syb / nb) AS sxy,
           |  (syya - sya * sya / na) + (syyb - syb * syb / nb) AS syy
           |  FROM stats),
           |w AS (SELECT *, sxx * syy - sxy * sxy AS det,
           |  mubx - muax AS d1, muby - muay AS d2 FROM m),
           |f AS (SELECT *,
           |  (syy * d1 - sxy * d2) / det AS w1,
           |  (sxx * d2 - sxy * d1) / det AS w2 FROM w)
           |SELECT ROUND(w1, 8) AS w1, ROUND(w2, 8) AS w2,
           |  ROUND(w1 * muax + w2 * muay, 6) AS proj_a,
           |  ROUND(w1 * mubx + w2 * muby, 6) AS proj_b,
           |  ROUND(w1 * d1 + w2 * d2, 6) AS separation
           |FROM f""".stripMargin
      }),

    Q("ml_dbscan_grid_2d", // N-D DBSCAN scale path: grid-cell bucketed
      // neighbor join + large-star/small-star connected components.
      // Oracle: the same DBSCAN (core = |eps-ball| ≥ minPts, core
      // clusters = min-id component over core-core edges, borders adopt
      // the smallest neighboring core label, noise = −1) via a
      // brute-force pair join + WITH RECURSIVE transitive closure —
      // tractable at oracle scale, independent of the grid pruning.
      (s, d) => graft.ml.Clustering.dbscanGrid(
          Tables.load(s, d, "customer").select(col("c_custkey"),
            (col("c_acctbal") / 1000.0).as("xa"),
            col("c_nationkey").cast("double").as("xn")),
          "c_custkey", Seq("xa", "xn"), 1.0, 4)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"), sum(col("is_core")).as("n_core"))
        .orderBy(col("cluster")),
      Some("""WITH RECURSIVE pts AS (
             |  SELECT c_custkey AS pid, c_acctbal / 1000.0 AS x0,
             |         CAST(c_nationkey AS DOUBLE) AS x1
             |  FROM customer),
             |pairs AS (
             |  SELECT a.pid AS a_id, b.pid AS b_id
             |  FROM pts a JOIN pts b ON a.pid <> b.pid
             |   AND (a.x0 - b.x0) * (a.x0 - b.x0)
             |     + (a.x1 - b.x1) * (a.x1 - b.x1) <= 1.0 * 1.0),
             |ncnt AS (SELECT a_id, COUNT(*) AS n FROM pairs GROUP BY a_id),
             |flags AS (
             |  SELECT p.pid,
             |    CASE WHEN COALESCE(n.n, 0) + 1 >= 4 THEN 1 ELSE 0 END AS is_core
             |  FROM pts p LEFT JOIN ncnt n ON n.a_id = p.pid),
             |cores AS (SELECT pid FROM flags WHERE is_core = 1),
             |core_edges AS (
             |  SELECT a_id, b_id FROM pairs
             |  WHERE a_id IN (SELECT pid FROM cores)
             |    AND b_id IN (SELECT pid FROM cores)),
             |reach AS (
             |  SELECT pid, pid AS r FROM cores
             |  UNION
             |  SELECT e.a_id AS pid, reach.r
             |  FROM core_edges e JOIN reach ON reach.pid = e.b_id),
             |lbl AS (SELECT pid, MIN(r) AS lbl FROM reach GROUP BY pid),
             |border AS (
             |  SELECT p.a_id, MIN(l.lbl) AS border_lbl
             |  FROM pairs p JOIN lbl l ON l.pid = p.b_id GROUP BY p.a_id),
             |asg AS (
             |  SELECT f.pid, f.is_core,
             |    CASE WHEN f.is_core = 1 THEN l.lbl
             |         ELSE COALESCE(b.border_lbl, -1) END AS cluster
             |  FROM flags f
             |  LEFT JOIN lbl l ON l.pid = f.pid
             |  LEFT JOIN border b ON b.a_id = f.pid)
             |SELECT CAST(cluster AS BIGINT) AS cluster, COUNT(*) AS n,
             |  CAST(SUM(is_core) AS BIGINT) AS n_core
             |FROM asg GROUP BY cluster ORDER BY cluster""".stripMargin)),

    Q("ml_cn2_best_rule", // rules.py CN2: Laplace-accuracy evaluation of
      // every single-condition rule, top-5.
      (s, d) => graft.ml.Rules.bestRules(
        li(s, d).withColumn("qty_bin",
          floor(col("l_quantity") / 10).cast("string")),
        Seq("l_returnflag", "qty_bin"), "l_linestatus", 5),
      Some("""WITH base AS (
             |  SELECT l_returnflag AS f1,
             |    CAST(CAST(FLOOR(l_quantity / 10) AS BIGINT) AS VARCHAR) AS f2,
             |    l_linestatus AS c
             |  FROM lineitem),
             |kc AS (SELECT COUNT(DISTINCT c) AS k_cls FROM base),
             |cand AS (
             |  SELECT 'l_returnflag' AS feature, f1 AS value, c, COUNT(*) AS nc
             |  FROM base GROUP BY 2, 3
             |  UNION ALL
             |  SELECT 'qty_bin', f2, c, COUNT(*) FROM base GROUP BY 2, 3),
             |scored AS (
             |  SELECT feature, value, c, nc,
             |    CAST(SUM(nc) OVER (PARTITION BY feature, value) AS BIGINT) AS covered,
             |    ROW_NUMBER() OVER (PARTITION BY feature, value
             |      ORDER BY nc DESC, c ASC) AS rn
             |  FROM cand),
             |rules AS (
             |  SELECT feature, value, c AS predicted, nc AS n_correct, covered,
             |    ROUND((nc + 1) / ((covered + k_cls) * 1.0), 6) AS laplace
             |  FROM scored CROSS JOIN kc WHERE rn = 1)
             |SELECT * FROM (
             |  SELECT feature, value, predicted, n_correct, covered, laplace,
             |    ROW_NUMBER() OVER (ORDER BY laplace DESC, feature ASC,
             |      value ASC) AS rank
             |  FROM rules)
             |WHERE rank <= 5 ORDER BY rank""".stripMargin)),

    Q("ml_fitter_dispatch", // modelling/base.py:8-127 Fitter + constant.py
      // ConstantLearner: ONE learner object fit on a discrete and a
      // continuous target — dispatch picks Majority vs MeanRegressor
      // from the target kind, like Orange's __fits__ dict.
      (s, d) => {
        val base = li(s, d)
        val f = graft.ml.Fitter.Constant
        val clsRow = f.fit(base, "l_returnflag").predict(base.limit(1))
          .select(lit("l_returnflag").as("target"),
            lit("classification").as("problem"),
            col("prediction").as("prediction_label"),
            lit(null).cast("double").as("prediction_value"))
        val regRow = f.fit(base, "l_quantity").predict(base.limit(1))
          .select(lit("l_quantity").as("target"),
            lit("regression").as("problem"),
            lit(null).cast("string").as("prediction_label"),
            round(col("prediction"), 6).as("prediction_value"))
        clsRow.unionByName(regRow).orderBy(col("target"))
      },
      Some(s"""SELECT 'l_returnflag' AS target,
              |       'classification' AS problem,
              |       (SELECT l_returnflag FROM lineitem GROUP BY 1
              |        ORDER BY COUNT(*) DESC, l_returnflag ASC LIMIT 1)
              |         AS prediction_label,
              |       CAST(NULL AS DOUBLE) AS prediction_value
              |UNION ALL
              |SELECT 'l_quantity', 'regression', CAST(NULL AS VARCHAR),
              |       (SELECT ROUND(${sqlMean("l_quantity")}, 6) FROM lineitem)
              |ORDER BY target""".stripMargin)),

    Q("ml_cn2_ruleset", // rules.py:896-1007 CN2 separate-and-conquer:
      // ordered decision list — beam best single-condition rule, remove
      // covered rows, repeat; default majority rule appended. Oracle =
      // the covering loop unrolled as CTE rounds (the AdaBoost device).
      // ship_year is strongly predictive of linestatus, so the induced
      // list is a real classifier, not noise.
      (s, d) => {
        val base = li(s, d).select(
          year(col("l_shipdate")).cast("string").as("ship_year"),
          col("l_returnflag").cast("string").as("returnflag"),
          floor((col("l_quantity") - 1) / 10).cast("int").cast("string")
            .as("qty_bin"),
          col("l_linestatus").as("cls"))
        graft.ml.Rules.cn2Ordered(base,
          Seq("ship_year", "returnflag", "qty_bin"), "cls", maxRules = 5)
      },
      Some(graft.ml.Rules.cn2OrderedSql("lineitem",
        Seq(
          "ship_year" -> "CAST(YEAR(l_shipdate) AS VARCHAR)",
          "returnflag" -> "l_returnflag",
          "qty_bin" -> "CAST(CAST(FLOOR((l_quantity - 1) / 10) AS INT) AS VARCHAR)"),
        "l_linestatus", maxRules = 5))),

    Q("ml_cn2_unordered", // rules.py CN2UnorderedLearner: per-class
      // covering over the ORIGINAL data, removing covered positives
      // only; rules overlap across classes, prediction is a weighted
      // vote. Oracle = per-(class, round) CTE unrolling.
      (s, d) => {
        val base = li(s, d).select(
          year(col("l_shipdate")).cast("string").as("ship_year"),
          col("l_returnflag").cast("string").as("returnflag"),
          floor((col("l_quantity") - 1) / 10).cast("int").cast("string")
            .as("qty_bin"),
          col("l_linestatus").as("cls"))
        graft.ml.Rules.cn2Unordered(base,
          Seq("ship_year", "returnflag", "qty_bin"), "cls", maxPerClass = 3)
      },
      Some(graft.ml.Rules.cn2UnorderedSql("lineitem",
        Seq(
          "ship_year" -> "CAST(YEAR(l_shipdate) AS VARCHAR)",
          "returnflag" -> "l_returnflag",
          "qty_bin" -> "CAST(CAST(FLOOR((l_quantity - 1) / 10) AS INT) AS VARCHAR)"),
        "l_linestatus", Seq("F", "O"), maxPerClass = 3))),

    Q("ml_cn2sd_subgroups", // rules.py:1377-1423 CN2SDLearner (Lavrač
      // JMLR'04 subgroup discovery): weighted covering — covered rows
      // keep γ=0.7-decayed weights instead of being removed — scored by
      // Weighted Relative Accuracy over the CURRENT weighted
      // distributions. Weights live on the 1e-12 grid and reduce
      // through DECIMAL sums, so the data-dependent trajectory
      // (including the positive-WRAcc stop) is oracle-exact via the
      // unrolled weighted-covering CTE quads.
      (s, d) => {
        val base = li(s, d).select(
          year(col("l_shipdate")).cast("string").as("ship_year"),
          col("l_returnflag").cast("string").as("returnflag"),
          floor((col("l_quantity") - 1) / 10).cast("int").cast("string")
            .as("qty_bin"),
          col("l_linestatus").as("cls"))
        graft.ml.Rules.cn2SD(base,
          Seq("ship_year", "returnflag", "qty_bin"), "cls", maxRules = 4)
      },
      Some(graft.ml.Rules.cn2SDSql("lineitem",
        Seq(
          "ship_year" -> "CAST(YEAR(l_shipdate) AS VARCHAR)",
          "returnflag" -> "l_returnflag",
          "qty_bin" -> "CAST(CAST(FLOOR((l_quantity - 1) / 10) AS INT) AS VARCHAR)"),
        "l_linestatus", maxRules = 4))),

    Q("ml_ridge_regression", // regression/linear.py:42 Ridge — the
      // 2-feature normal equations have an exact Cramer closed form on
      // centered sums, so the "iterative sklearn solver" collapses to
      // TWO aggregation scans (means, then centered moments) and the
      // fit is oracle-exact. Features pre-scaled like the GD learners;
      // y is a known combination (0.7·qty + 0.2·disc + tax term), so
      // the recovered weights visibly shrink from (0.7, 0.2) with α.
      (s, d) => graft.ml.LinearClosed.ridge2(
        li(s, d),
        ("qty", col("l_quantity") / 50.0),
        ("disc", col("l_discount") * 10.0),
        col("l_quantity") / 50.0 * 0.7 + col("l_discount") * 10.0 * 0.2 +
          col("l_tax") * 0.5, alpha = 1.0),
      Some(graft.ml.LinearClosed.ridge2Sql(
        "lineitem",
        ("qty", "l_quantity / 50.0"),
        ("disc", "l_discount * 10.0"),
        "l_quantity / 50.0 * 0.7 + l_discount * 10.0 * 0.2 + l_tax * 0.5",
        alpha = 1.0))),

    Q("ml_polynomial", // regression/linear.py:106-129 PolynomialLearner —
      // degree-3 expansion + the ols3 Cramer closed form; oracle-exact
      // (same centered detSum moments + fixed cofactor order) on the
      // qty→price curve.
      (s, d) => graft.ml.LinearClosed.poly3(
        li(s, d), col("l_quantity") / 50.0,
        col("l_extendedprice") / 100000.0),
      Some(graft.ml.LinearClosed.poly3Sql(
        "lineitem", "l_quantity / 50.0", "l_extendedprice / 100000.0"))),

    Q("ml_confusion_matrix", // widgets/evaluate/owconfusionmatrix.py:
      // the (actual × predicted) count matrix with row proportions, from
      // the same deterministic rule classifier as ml_eval_classification.
      // One contingency groupBy; proportions via a window over the tiny
      // grouped table.
      (s, d) => {
        val pred = when(col("l_shipdate") < lit("1998-07-01").cast("timestamp"), "F")
          .otherwise("O")
        val cm = li(s, d)
          .select(col("l_linestatus").as("actual"), pred.as("predicted"))
          .groupBy(col("actual"), col("predicted"))
          .agg(count(lit(1)).as("n"))
        val byRow = org.apache.spark.sql.expressions.Window
          .partitionBy(col("actual"))
        cm.withColumn("row_frac",
            round(col("n").cast("double") / sum(col("n")).over(byRow), 6))
          .orderBy(col("actual"), col("predicted"))
      },
      Some("""WITH cm AS (
             |  SELECT l_linestatus AS actual,
             |    CASE WHEN l_shipdate < TIMESTAMP '1998-07-01'
             |         THEN 'F' ELSE 'O' END AS predicted,
             |    COUNT(*) AS n
             |  FROM lineitem GROUP BY 1, 2)
             |SELECT actual, predicted, n,
             |  ROUND(CAST(n AS DOUBLE) /
             |        SUM(n) OVER (PARTITION BY actual), 6) AS row_frac
             |FROM cm ORDER BY actual, predicted""".stripMargin)),

    Q("ml_feature_as_predictor", // widgets/evaluate/
      // owfeatureaspredictor.py: score a raw column directly as a
      // binary classifier (the column IS the model's score); AUC via
      // the grouped Mann-Whitney device of ml_eval_auc.
      (s, d) => Learners.Scoring.auc(
        li(s, d), col("l_returnflag") === "R", col("l_discount")),
      Some(s"""WITH by_score AS (
              |  SELECT l_discount AS s,
              |    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS np,
              |    SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS nn
              |  FROM lineitem GROUP BY 1),
              |w AS (
              |  SELECT np, nn,
              |    SUM(nn) OVER (ORDER BY s ASC ROWS BETWEEN UNBOUNDED
              |      PRECEDING AND CURRENT ROW) - nn AS cumn
              |  FROM by_score)
              |SELECT ROUND((SUM(np * cumn) + SUM(np * nn) / 2.0) /
              |  (SUM(np) * CAST(SUM(nn) AS DOUBLE)), 6) AS auc
              |FROM w""".stripMargin)),

    Q("ml_param_sweep_ridge", // widgets/evaluate/owparameterfitter.py:
      // fitted-parameter sweep — the ridge closed form at three alphas.
      // Each fit is the same two-scan centered-moment plan; the sweep is
      // a union of three tiny one-row results, not three data passes per
      // candidate model beyond those scans.
      (s, d) => Seq(0.1, 1.0, 10.0).map { a =>
        graft.ml.LinearClosed.ridge2(
            li(s, d),
            ("qty", col("l_quantity") / 50.0),
            ("disc", col("l_discount") * 10.0),
            col("l_quantity") / 50.0 * 0.7 + col("l_discount") * 10.0 * 0.2 +
              col("l_tax") * 0.5, alpha = a)
          .withColumn("alpha", lit(a))
      }.reduce(_.unionByName(_))
        .select(col("alpha"), col("w_qty"), col("w_disc"), col("intercept"))
        .orderBy(col("alpha")),
      Some(Seq(0.1, 1.0, 10.0).map { a =>
        val inner = graft.ml.LinearClosed.ridge2Sql(
          "lineitem",
          ("qty", "l_quantity / 50.0"),
          ("disc", "l_discount * 10.0"),
          "l_quantity / 50.0 * 0.7 + l_discount * 10.0 * 0.2 + l_tax * 0.5",
          alpha = a)
        s"SELECT CAST($a AS DOUBLE) AS alpha, r.* FROM ($inner) r"
      }.mkString("", "\nUNION ALL\n", "\nORDER BY alpha"))),

    Q("ml_lasso_elasticnet", // regression/linear.py:53 Lasso + :65
      // ElasticNet — single-feature soft-threshold coordinate solution
      // (the converged sklearn answer), same two-scan centered-moment
      // shape as ml_ridge_regression; both fits share one plan.
      (s, d) => graft.ml.LinearClosed.lassoEnet1(
        li(s, d),
        ("qty", col("l_quantity") / 50.0),
        col("l_quantity") / 50.0 * 0.7 + col("l_tax") * 0.5,
        alphaLasso = 0.001, alphaEnet = 0.001, l1Ratio = 0.5),
      Some(graft.ml.LinearClosed.lassoEnet1Sql(
        "lineitem", "l_quantity / 50.0",
        "l_quantity / 50.0 * 0.7 + l_tax * 0.5",
        alphaLasso = 0.001, alphaEnet = 0.001, l1Ratio = 0.5))),

    Q("ml_adaboost_stumps", { // ensembles/ada_boost.py (sklearn SAMME;
      // binary = AdaBoost.M1) over depth-1 stumps. Each round scores
      // ALL candidate stumps in ONE map-side-combined aggregation via
      // the w = exp(−y·F) identity (weights never materialized);
      // 10-decimal error/alpha rounding pins the stump sequence to the
      // CTE-unrolled DuckDB twin — an oracle-exact boosted ensemble.
      val cands = graft.ml.AdaBoost.candidates(Seq(
        "qty" -> Seq(10.0, 25.0, 40.0),
        "disc" -> Seq(0.02, 0.05, 0.08)))
      (s: SparkSession, d: String) => graft.ml.AdaBoost.fitStumps(
        li(s, d),
        Map("qty" -> col("l_quantity"), "disc" -> col("l_discount")),
        when(col("l_extendedprice") > 30000, 1.0).otherwise(-1.0),
        cands, rounds = 3)
    },
      Some(graft.ml.AdaBoost.fitStumpsSql(
        "lineitem",
        Map("qty" -> "l_quantity", "disc" -> "l_discount"),
        "CASE WHEN l_extendedprice > 30000 THEN 1.0 ELSE -1.0 END",
        graft.ml.AdaBoost.candidates(Seq(
          "qty" -> Seq(10.0, 25.0, 40.0),
          "disc" -> Seq(0.02, 0.05, 0.08))), rounds = 3))),

    Q("ml_stacking", // ensembles/stack.py StackedLearner: out-of-fold
      // Majority + NaiveBayes predictions feed a logistic-GD meta
      // learner. Deterministic end-to-end (hash folds, aggregation
      // bases, rounded GD) but the SQL twin would be NB-per-fold ×
      // unrolled GD — rows-only, pinned by StackingSpec. The class is
      // an OR of two bin-visible conditions (this synthetic data has no
      // natural cross-column signal), so NB genuinely beats Majority
      // and the meta weights visibly favor it (w_nb ≫ w_maj).
      (s, d) => graft.ml.Stacking.fitCA(
        li(s, d)
          .withColumn("qty_bin",
            floor(col("l_quantity") / 10).cast("int").cast("string"))
          .withColumn("disc_bin",
            floor(col("l_discount") * 100 / 3).cast("int").cast("string"))
          .withColumn("cls",
            when(col("l_quantity") > 25 || col("l_discount") > 0.05, "hi")
              .otherwise("lo")),
        nbFeatures = Seq("qty_bin", "disc_bin"),
        target = "cls", posClass = "hi",
        foldKey = col("l_orderkey"), k = 4),
      Some {
        // Set-based out-of-fold twin: every train-fold statistic is
        // (total − fold) counts, so NB-per-fold needs no per-fold scan;
        // the meta fit is the standard unrolled-CTE logistic GD.
        val gd = graft.ml.SGD.logRegGDSql("stacked",
          Seq(("nb", "nbi"), ("maj", "maji")), "y",
          iterations = 8, lr = 4.0)
        s"""WITH base AS (
           |  SELECT l_orderkey % 4 AS fold,
           |    CAST(CAST(FLOOR(l_quantity / 10) AS INT) AS VARCHAR) AS f1,
           |    CAST(CAST(FLOOR(l_discount * 100 / 3) AS INT) AS VARCHAR) AS f2,
           |    CASE WHEN l_quantity > 25 OR l_discount > 0.05
           |         THEN 'hi' ELSE 'lo' END AS cls
           |  FROM lineitem),
           |folds AS (SELECT DISTINCT fold FROM base),
           |klass AS (SELECT DISTINCT cls FROM base),
           |na AS (SELECT COUNT(*) AS n FROM base),
           |nf AS (SELECT fold, COUNT(*) AS n FROM base GROUP BY fold),
           |ca AS (SELECT cls, COUNT(*) AS n FROM base GROUP BY cls),
           |cf AS (SELECT fold, cls, COUNT(*) AS n FROM base GROUP BY 1, 2),
           |t1a AS (SELECT f1, cls, COUNT(*) AS n FROM base GROUP BY 1, 2),
           |t1f AS (SELECT fold, f1, cls, COUNT(*) AS n FROM base GROUP BY 1, 2, 3),
           |t2a AS (SELECT f2, cls, COUNT(*) AS n FROM base GROUP BY 1, 2),
           |t2f AS (SELECT fold, f2, cls, COUNT(*) AS n FROM base GROUP BY 1, 2, 3),
           |v1a AS (SELECT f1, COUNT(*) AS n FROM base GROUP BY 1),
           |v1f AS (SELECT fold, f1, COUNT(*) AS n FROM base GROUP BY 1, 2),
           |v2a AS (SELECT f2, COUNT(*) AS n FROM base GROUP BY 1),
           |v2f AS (SELECT fold, f2, COUNT(*) AS n FROM base GROUP BY 1, 2),
           |nv1 AS (
           |  SELECT folds.fold, COUNT(*) AS nv
           |  FROM folds CROSS JOIN v1a
           |  LEFT JOIN v1f ON v1f.fold = folds.fold AND v1f.f1 = v1a.f1
           |  WHERE v1a.n - COALESCE(v1f.n, 0) > 0 GROUP BY folds.fold),
           |nv2 AS (
           |  SELECT folds.fold, COUNT(*) AS nv
           |  FROM folds CROSS JOIN v2a
           |  LEFT JOIN v2f ON v2f.fold = folds.fold AND v2f.f2 = v2a.f2
           |  WHERE v2a.n - COALESCE(v2f.n, 0) > 0 GROUP BY folds.fold),
           |maj AS (
           |  SELECT fold, cls AS mj FROM (
           |    SELECT folds.fold, ca.cls,
           |      ROW_NUMBER() OVER (PARTITION BY folds.fold
           |        ORDER BY ca.n - COALESCE(cf.n, 0) DESC, ca.cls ASC) AS rk
           |    FROM folds CROSS JOIN ca
           |    LEFT JOIN cf ON cf.fold = folds.fold AND cf.cls = ca.cls)
           |  WHERE rk = 1),
           |combos AS (SELECT DISTINCT fold, f1, f2 FROM base),
           |scored AS (
           |  SELECT c.fold, c.f1, c.f2, k.cls,
           |    LN((ca.n - COALESCE(cf.n, 0)) * 1.0 / (na.n - nf.n))
           |    + LN((COALESCE(t1a.n, 0) - COALESCE(t1f.n, 0) + 1.0)
           |          / ((ca.n - COALESCE(cf.n, 0)) + nv1.nv))
           |    + LN((COALESCE(t2a.n, 0) - COALESCE(t2f.n, 0) + 1.0)
           |          / ((ca.n - COALESCE(cf.n, 0)) + nv2.nv)) AS score
           |  FROM combos c
           |  CROSS JOIN klass k
           |  JOIN ca ON ca.cls = k.cls
           |  LEFT JOIN cf ON cf.fold = c.fold AND cf.cls = k.cls
           |  CROSS JOIN na
           |  JOIN nf ON nf.fold = c.fold
           |  LEFT JOIN t1a ON t1a.f1 = c.f1 AND t1a.cls = k.cls
           |  LEFT JOIN t1f ON t1f.fold = c.fold AND t1f.f1 = c.f1
           |    AND t1f.cls = k.cls
           |  LEFT JOIN t2a ON t2a.f2 = c.f2 AND t2a.cls = k.cls
           |  LEFT JOIN t2f ON t2f.fold = c.fold AND t2f.f2 = c.f2
           |    AND t2f.cls = k.cls
           |  JOIN nv1 ON nv1.fold = c.fold
           |  JOIN nv2 ON nv2.fold = c.fold),
           |nbp AS (
           |  SELECT fold, f1, f2, cls AS nb FROM (
           |    SELECT scored.*, ROW_NUMBER() OVER (
           |      PARTITION BY fold, f1, f2
           |      ORDER BY score DESC, cls ASC) AS rk FROM scored)
           |  WHERE rk = 1),
           |stacked AS (
           |  SELECT CASE WHEN nbp.nb = 'hi' THEN 1.0 ELSE 0.0 END AS nbi,
           |         CASE WHEN maj.mj = 'hi' THEN 1.0 ELSE 0.0 END AS maji,
           |         CASE WHEN b.cls = 'hi' THEN 1 ELSE 0 END AS y
           |  FROM base b
           |  JOIN nbp ON nbp.fold = b.fold AND nbp.f1 = b.f1
           |    AND nbp.f2 = b.f2
           |  JOIN maj ON maj.fold = b.fold)
           |SELECT * FROM ($gd) g""".stripMargin
      }),

    Q("ml_silhouette", // widgets/visualize/owsilhouetteplot.py →
      // sklearn silhouette_samples: exact all-pairs silhouette on a
      // capped fixture (the reference widget draws ≤ a few thousand
      // rows too); clusters = acctbal bands, so separation is real.
      (s, d) => {
        val pts = Tables.load(s, d, "customer")
          .filter(col("c_custkey") <= 300)
          .select(col("c_custkey").as("pid"),
            floor(col("c_acctbal") / 4000).as("cluster"),
            (col("c_acctbal") / 1000.0).as("x"))
        graft.ml.Clustering.silhouetteExact(pts, "pid", "cluster", Seq("x"))
          .withColumnRenamed("pc", "cluster")
          .orderBy(col("pid"))
      },
      Some(s"""WITH pts AS (
              |  SELECT c_custkey AS pid,
              |         CAST(FLOOR(c_acctbal / 4000) AS BIGINT) AS pc,
              |         c_acctbal / 1000.0 AS x
              |  FROM customer WHERE c_custkey <= 300),
              |means AS (
              |  SELECT a.pid, a.pc, b.pc AS oc,
              |    ${sqlDetSum("SQRT((a.x - b.x)*(a.x - b.x))")} / COUNT(*) AS md
              |  FROM pts a JOIN pts b ON a.pid <> b.pid
              |  GROUP BY a.pid, a.pc, b.pc),
              |ab AS (
              |  SELECT pid, pc AS cluster,
              |    MAX(CASE WHEN oc = pc THEN md END) AS a,
              |    MIN(CASE WHEN oc <> pc THEN md END) AS b
              |  FROM means GROUP BY pid, pc)
              |SELECT pid, cluster,
              |  ROUND(CASE WHEN a IS NULL OR b IS NULL THEN 0.0
              |        ELSE (b - a) / GREATEST(a, b) END, 6) AS s
              |FROM ab ORDER BY pid""".stripMargin)),

    Q("ml_silhouette_simplified", // centroid-based silhouette (Hruschka
      // et al. 2004) — the O(n·k) surrogate that replaces the O(n²)
      // pair table at scale: one centroid agg + one broadcast join over
      // k centroids. Runs over the FULL customer table.
      (s, d) => {
        val pts = Tables.load(s, d, "customer")
          .select(col("c_custkey").as("pid"),
            floor(col("c_acctbal") / 4000).as("cluster"),
            (col("c_acctbal") / 1000.0).as("x"))
        graft.ml.Clustering.silhouetteSimplified(pts, "pid", "cluster",
            Seq("x"))
          .withColumnRenamed("pc", "cluster")
          .orderBy(col("cluster"))
      },
      Some(s"""WITH pts AS (
              |  SELECT c_custkey AS pid,
              |         CAST(FLOOR(c_acctbal / 4000) AS BIGINT) AS pc,
              |         c_acctbal / 1000.0 AS x
              |  FROM customer),
              |cents AS (
              |  SELECT pc AS cc, ${sqlMean("x")} AS c_x
              |  FROM pts GROUP BY pc),
              |ab AS (
              |  SELECT pid, pc,
              |    MAX(CASE WHEN cc = pc THEN SQRT((x - c_x)*(x - c_x)) END) AS a,
              |    MIN(CASE WHEN cc <> pc THEN SQRT((x - c_x)*(x - c_x)) END) AS b
              |  FROM pts CROSS JOIN cents GROUP BY pid, pc),
              |sil AS (
              |  SELECT pc,
              |    CASE WHEN b IS NULL OR GREATEST(a, b) = 0.0 THEN 0.0
              |         ELSE (b - a) / GREATEST(a, b) END AS s
              |  FROM ab)
              |SELECT pc AS cluster,
              |  ROUND(${sqlDetSum("s")} / COUNT(*), 6) AS mean_s,
              |  COUNT(*) AS n
              |FROM sil GROUP BY pc ORDER BY cluster""".stripMargin))
  )
}
