package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.core.Tables._

/** Local Outlier Factor (reference
  * Orange/classification/outlier_detection.py:17-180, sklearn LOF).
  *
  * [[lof1d]] is the scale path: no pair join at all. In one dimension
  * every LOF quantity (k-distance, lrd, LOF) is determined by a point's
  * VALUE — coincident points see identical distance multisets — so the
  * computation runs on the distinct-value table with multiplicities:
  *
  *  1. distinct values get a global sort rank (chunk-local row_number +
  *     a tiny driver-side per-chunk offset prefix sum — the two-pass
  *     distributed rank, no single-partition window);
  *  2. candidate neighbor pairs are the k preceding / k following VALUE
  *     GROUPS by rank (integer equi-join on rank+j), plus the self group
  *     (cnt−1 coincident points at distance 0). This provably covers
  *     each point's exact kNN set INCLUDING ties at the k-distance:
  *     fewer than k points lie strictly inside the k-distance, so at
  *     most k−1 groups do, and the ≤2 groups at exactly the k-distance
  *     are adjacent to them in rank order;
  *  3. k-distance = first distance where the cumulative neighbor weight
  *     reaches k; reachability / lrd / LOF are the standard cascade with
  *     multiplicity weights.
  *
  * Per distinct value the candidate set is ≤ 2k+1 rows — linear total,
  * hash-partitioned on value, no O(n²) anywhere. Numerics are
  * bit-identical to the per-pair formulation: weighted sums multiply the
  * INTEGER weight by the 12-decimal-rounded term in exact decimal
  * arithmetic, which equals summing the rounded term w times.
  *
  * Duplicate-point guard: reachability distance is floored at 1e-9 so
  * coincident points yield a large-but-finite LOF instead of ∞/NaN
  * (sklearn does the same via its own eps).
  */
object OutlierOps {

  /** Σ w·round₁₂(t) in exact decimals — equals the per-pair detSum of a
    * term repeated w times. DECIMAL(29,14)×DECIMAL(8,0) keeps the
    * product inside DECIMAL(38,14): no precision loss. */
  private def detSumW(w: Column, t: Column): Column =
    sum(round(t, 12).cast(DecimalType(29, 14)) * w.cast(DecimalType(8, 0)))
      .cast(DoubleType)

  /** Exact LOF over a 1-D value column, value-grouped (scale path).
    * Returns (id, lof); points with fewer than k neighbors are omitted
    * (matches the all-pairs formulation). */
  def lof1d(df: DataFrame, idCol: String, valueCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pts = df.select(col(idCol).as("a_id"),
      col(valueCol).cast("double").as("a_v"))
    val groups = pts.groupBy(col("a_v").as("v"))
      .agg(count(lit(1)).as("cnt")).cache()

    // two-pass global rank of distinct values
    val mm = groups.agg(min("v").as("lo"), max("v").as("hi")).head()
    if (mm.isNullAt(0)) { groups.unpersist(); return pts.limit(0)
      .select(col("a_id"), lit(0.0).as("lof")).filter(lit(false)) }
    val lo = mm.getDouble(0)
    val w = math.max((mm.getDouble(1) - lo) / 256.0, 1e-12)
    val ranked1 = groups
      .withColumn("__ck", floor((col("v") - lo) / w).cast("long"))
      .withColumn("__lr",
        row_number().over(Window.partitionBy("__ck").orderBy("v")))
    val perChunk = ranked1.groupBy("__ck").agg(count(lit(1)).as("c"))
      .orderBy("__ck").collect()
    var acc = 0L
    val offs = perChunk.map { r =>
      val o = acc; acc += r.getLong(1); (r.getLong(0), o) }.toSeq
    val ranked = ranked1.join(broadcast(offs.toDF("__ck", "__off")), "__ck")
      .select(col("v"), col("cnt"), (col("__lr") + col("__off")).as("r"))
      .localCheckpoint(eager = true)

    // candidate pairs: k rank-successors (both directions) + self group
    val byR = ranked.select(col("v").as("b_v"), col("cnt").as("b_cnt"),
      col("r").as("br"))
    val pairsAB = ranked
      .withColumn("j", explode(array((1 to k).map(lit(_)): _*)))
      .select(col("v").as("a_v"), col("cnt").as("a_cnt"),
        (col("r") + col("j")).as("br"))
      .join(byR, "br")
    val cands = pairsAB
      .select(col("a_v"), col("b_v"), col("b_cnt").as("w"),
        (col("b_v") - col("a_v")).as("dist"))
      .unionByName(pairsAB.select(col("b_v").as("a_v"), col("a_v").as("b_v"),
        col("a_cnt").as("w"), (col("b_v") - col("a_v")).as("dist")))
      .unionByName(groups.filter(col("cnt") > 1)
        .select(col("v").as("a_v"), col("v").as("b_v"),
          (col("cnt") - 1).as("w"), lit(0.0).as("dist")))

    // k-distance: first distance where cumulative weight reaches k
    val wCum = Window.partitionBy("a_v").orderBy("dist")
      .rowsBetween(Window.unboundedPreceding, 0)
    val kd = cands.groupBy("a_v", "dist").agg(sum("w").as("w"))
      .withColumn("cum", sum("w").over(wCum))
      .filter(col("cum") >= k)
      .groupBy("a_v").agg(min("dist").as("kdist"))

    // N(a) = candidates within the k-distance (ties included)
    val nbr = cands.join(kd, "a_v").filter(col("dist") <= col("kdist"))
    val reach = nbr
      .join(kd.select(col("a_v").as("b_v"), col("kdist").as("kdist_b")), "b_v")
      .select(col("a_v"), col("b_v"), col("w"),
        greatest(col("kdist_b"), col("dist"), lit(1e-9)).as("reach"))
    val lrd = reach.groupBy("a_v")
      .agg((sum("w") / detSumW(col("w"), col("reach"))).as("lrd"))

    val out = nbr
      .join(lrd.select(col("a_v").as("b_v"), col("lrd").as("lrd_b")), "b_v")
      .groupBy("a_v")
      .agg((detSumW(col("w"), col("lrd_b")) / sum("w")).as("mean_lrd_b"))
      .join(lrd, "a_v")
      .select(col("a_v"), round(col("mean_lrd_b") / col("lrd"), 6).as("lof"))
    pts.join(out, "a_v").select(col("a_id"), col("lof"))
  }

  /** Reference all-pairs LOF (O(n²) theta join) — differential-test twin
    * of [[lof1d]]; do not use at scale. */
  def lof1dAllPairs(df: DataFrame, idCol: String, valueCol: String,
                    k: Int): DataFrame = {
    val a = df.select(col(idCol).as("a_id"), col(valueCol).as("a_v"))
    val b = df.select(col(idCol).as("b_id"), col(valueCol).as("b_v"))
    val pairs = a.join(b, col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), abs(col("a_v") - col("b_v")).as("dist"))

    val w = Window.partitionBy(col("a_id")).orderBy(col("dist").asc, col("b_id").asc)
    val kdist = pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === k)
      .select(col("a_id"), col("dist").as("kdist"))

    // N(a): all points within k-distance (ties included, standard LOF)
    val nbr = pairs.join(kdist, "a_id").filter(col("dist") <= col("kdist"))
      .select(col("a_id"), col("b_id"), col("dist"))

    val reach = nbr
      .join(kdist.select(col("a_id").as("b_id"), col("kdist").as("kdist_b")), "b_id")
      .select(col("a_id"), col("b_id"),
        greatest(col("kdist_b"), col("dist"), lit(1e-9)).as("reach"))

    val lrd = reach.groupBy(col("a_id"))
      .agg((count(lit(1)) / detSum(col("reach"))).as("lrd"))

    nbr.join(lrd.select(col("a_id").as("b_id"), col("lrd").as("lrd_b")), "b_id")
      .groupBy(col("a_id"))
      .agg((detSum(col("lrd_b")) / count(lit(1))).as("mean_lrd_b"))
      .join(lrd, "a_id")
      .select(col("a_id"), round(col("mean_lrd_b") / col("lrd"), 6).as("lof"))
  }

  /** General N-dimensional Mahalanobis distance (reference
    * Orange/distance/distance.py:807-868 MahalanobisDistance; the
    * EllipticEnvelope outlier analogue): ONE aggregation produces the
    * means and the d(d+1)/2 sample-covariance entries through the exact
    * decimal sums; the driver inverts the d×d matrix (Gauss-Jordan with
    * partial pivoting — d is the feature count, tiny); scores are a
    * single codegen'd projection with Σ⁻¹ baked in as literals. Two
    * scans total, no shuffle beyond the partial-aggregated moments.
    *
    * The 2-D/3-D cofactor closed forms in the oracle queries are the
    * differential twins (MahalanobisSpec pins this general path against
    * them). Adds column `md2` = (x−μ)ᵀ Σ⁻¹ (x−μ). */
  def mahalanobisND(df: DataFrame, features: Seq[String]): DataFrame = {
    val d = features.length
    require(d >= 1, "mahalanobisND needs at least one feature")
    // long grid for the means and cross products; the squares (i == j)
    // stay decimal, since money-scale features leave the grid envelope
    // there (extendedprice² ≈ 1.3e10)
    val aggs = features.map(f => exactMean(col(f), grid6).as(s"__m_$f")) ++
      (for { i <- 0 until d; j <- i until d } yield
        exactCovarSamp(col(features(i)), col(features(j)), grid6,
          if (i == j) exactSum else grid6).as(s"__c_${i}_$j"))
    val row = df.agg(aggs.head, aggs.tail: _*).first()
    val means = features.map(f => row.getDouble(row.fieldIndex(s"__m_$f")))
    val cov = Array.ofDim[Double](d, d)
    for (i <- 0 until d; j <- i until d) {
      val v = row.getDouble(row.fieldIndex(s"__c_${i}_$j"))
      cov(i)(j) = v; cov(j)(i) = v
    }
    val inv = invertGaussJordan(cov)
    val dx = features.zip(means).map { case (f, m) =>
      col(f).cast(DoubleType) - lit(m) }
    val md2 = (for { i <- 0 until d; j <- 0 until d } yield
      dx(i) * dx(j) * lit(inv(i)(j))).reduce(_ + _)
    df.withColumn("md2", md2)
  }

  /** Robust Mahalanobis via a deterministic MinCovDet analogue
    * (reference Orange/classification/outlier_detection.py:127
    * EllipticEnvelope — sklearn MinCovDet): the plain sample covariance
    * is dragged by a dense outlier cluster until the cluster masks
    * itself; MCD fits location/scatter on the h ≈ (n+d+1)/2 subset with
    * the smallest covariance determinant.
    *
    * Distributed re-expression of FAST-MCD's C-step (Rousseeuw & Van
    * Driessen 1999): start from the full-sample moments, then iterate
    *   1. score md2 against the current (μ, Σ⁻¹)   — projection only
    *   2. find the h-th smallest md2               — 4096-cell grid
    *      histogram rank lookup (the equalFreqGrid device: exact
    *      integer-rank rule, no global sort, deterministic)
    *   3. refit moments on {md2 ≤ t_h}             — one filtered agg
    * Each C-step is 3 map-side-combined scans of the cached projection;
    * the determinant-decrease property of the C-step drives it to a
    * local MCD optimum in a few steps (fixed cSteps keeps it
    * deterministic). The final scatter gets the standard consistency
    * correction (median md2 scaled to the χ²_d median) and points are
    * flagged at the χ²_d(0.975) envelope, as sklearn does.
    *
    * Adds columns `md2_robust` and `is_outlier`. Driver state is O(d²);
    * all scans are partial-aggregated; no shuffle beyond the ≤4096-key
    * histogram — the 100 TB shape for a robust fit. */
  def robustMahalanobis(df: DataFrame, features: Seq[String],
                        cSteps: Int = 5, cells: Int = 4096): DataFrame = {
    val d = features.length
    require(d >= 1 && d <= 5, "robustMahalanobis supports 1-5 features")
    val chi2_975 = Seq(5.0239, 7.3778, 9.3484, 11.1433, 12.8325)(d - 1)
    val chi2_med = Seq(0.4549, 1.3863, 2.3660, 3.3567, 4.3515)(d - 1)
    val base = df.select(features.map(f => col(f).cast(DoubleType).as(f)): _*)
      .na.drop().cache()
    val n = base.count()
    require(n > d, "not enough rows for a covariance fit")
    val h = (n + d + 1) / 2

    def moments(sub: DataFrame): (Seq[Double], Array[Array[Double]]) = {
      // stays on the DECIMAL moments: this agg re-codegens 2·cSteps+1
      // times per fit with fresh (μ, Σ⁻¹, t) literals, so the fast
      // grid's 3×-bigger aggregate set paid ~11 extra janino compiles
      // and slowed the fit ~25% at fixture scale (r17 A/B); the per-row
      // decimal cost is iteration-bound, not corpus-bound, here
      val aggs = features.map(f => exactMean(col(f)).as(s"__m_$f")) ++
        (for { i <- 0 until d; j <- i until d } yield
          exactCovarSamp(col(features(i)), col(features(j)))
            .as(s"__c_${i}_$j"))
      val row = sub.agg(aggs.head, aggs.tail: _*).first()
      val means = features.map(f => row.getDouble(row.fieldIndex(s"__m_$f")))
      val cov = Array.ofDim[Double](d, d)
      for (i <- 0 until d; j <- i until d) {
        val v = row.getDouble(row.fieldIndex(s"__c_${i}_$j"))
        cov(i)(j) = v; cov(j)(i) = v
      }
      (means, cov)
    }
    /** d = 2 uses the cofactor closed form STRUCTURED EXACTLY like the
      * outliers_mahalanobis2d oracle expression (left-associated, cross
      * term ×2.0 last), so the SQL twin evaluates bit-identical doubles;
      * other d go through the Gauss-Jordan inverse (rows-only). */
    def md2Of(means: Seq[Double], cov: Array[Array[Double]]): Column =
      if (d == 2) {
        val dx0 = col(features(0)).cast(DoubleType) - lit(means(0))
        val dx1 = col(features(1)).cast(DoubleType) - lit(means(1))
        val det = cov(0)(0) * cov(1)(1) - cov(0)(1) * cov(0)(1)
        (dx0 * dx0 * lit(cov(1)(1)) - dx0 * dx1 * lit(cov(0)(1)) * lit(2.0) +
          dx1 * dx1 * lit(cov(0)(0))) / lit(det)
      } else {
        val inv = invertGaussJordan(cov)
        val dx = features.zip(means).map { case (f, m) =>
          col(f).cast(DoubleType) - lit(m) }
        (for { i <- 0 until d; j <- 0 until d } yield
          dx(i) * dx(j) * lit(inv(i)(j))).reduce(_ + _)
      }
    /** EXACT md2 value at ascending rank `k`: the grid histogram locates
      * the cell holding rank k (bounded ≤ `cells` driver rows), then a
      * second value-level pass within THAT cell resolves the true order
      * statistic — duplicated values no longer inflate the h-subset
      * beyond h (the MCD breakdown guarantee), and the value is
      * reproducible by a plain rank in the oracle. The within-cell
      * collect is bounded by the cell's distinct count (~n/cells). */
    def rankValue(md2: Column, k: Long): Double = {
      val mm = base.agg(min(md2).as("lo"), max(md2).as("hi")).first()
      val lo = mm.getDouble(0); val hi = mm.getDouble(1)
      if (hi == lo) return hi
      val w = (hi - lo) / cells
      val cellOf = least(floor((md2 - lo) / w), lit(cells - 1L))
      val hist = base.select(cellOf.as("cell"))
        .groupBy(col("cell")).agg(count(lit(1)).as("nc"))
        .orderBy(col("cell")).collect()
      var cum = 0L; var target = -1L; var before = 0L
      for (r <- hist if target < 0) {
        val nc = r.getLong(1)
        if (cum + nc >= k) { target = r.getLong(0); before = cum }
        else cum += nc
      }
      val vals = base.filter(cellOf === target)
        .groupBy(md2.as("v")).agg(count(lit(1)).as("nv"))
        .orderBy(col("v")).collect()
      var c2 = before
      for (r <- vals) {
        c2 += r.getLong(1)
        if (c2 >= k) return r.getDouble(0)
      }
      hi
    }

    var (means, cov) = moments(base)
    for (_ <- 1 to cSteps) {
      val t = rankValue(md2Of(means, cov), h)
      val refit = moments(base.filter(md2Of(means, cov) <= t))
      means = refit._1; cov = refit._2
    }
    // consistency correction: scale so the sample's median md2 sits at
    // the χ²_d median, then flag the 97.5% envelope. A zero median
    // (≥ 50% of points exactly at the robust center) would make the
    // correction divide by zero — fall back to no correction.
    val medV = rankValue(md2Of(means, cov), (n + 1) / 2)
    val factor = if (medV <= 0.0) 1.0 else medV / chi2_med
    base.unpersist()
    val md2c = md2Of(means, cov) / lit(factor)
    df.withColumn("md2_robust", md2c)
      .withColumn("is_outlier", (md2c > chi2_975).cast("int"))
  }

  /** DuckDB twin of the [[robustMahalanobis]] d = 2 summary query
    * (is_outlier → count, max md2): the C-step loop unrolled as CTE
    * rounds — per step, decimal-sum moments of the surviving subset, the
    * cofactor md2 form (textually the Spark expression), and the EXACT
    * h-th-rank threshold (a plain ROW_NUMBER rank equals the engine's
    * grid + within-cell rule value-for-value). MATERIALIZED throughout:
    * every md2 reference would otherwise re-expand the whole moment
    * chain. */
  def robustMahalanobis2dSummarySql(table: String, aSql: String,
                                    bSql: String, cSteps: Int = 5): String = {
    import graft.queries.SqlGen.{sqlMean, sqlCovarSamp}
    val chi2_975 = 7.3778; val chi2_med = 1.3863
    def md2(m: String): String =
      s"((xa - $m.m0)*(xa - $m.m0)*$m.c11 - " +
        s"(xa - $m.m0)*(xn - $m.m1)*$m.c01*2.0 + " +
        s"(xn - $m.m1)*(xn - $m.m1)*$m.c00) / " +
        s"($m.c00*$m.c11 - $m.c01*$m.c01)"
    val momSel =
      s"SELECT ${sqlMean("xa")} AS m0, ${sqlMean("xn")} AS m1, " +
        s"${sqlCovarSamp("xa", "xa")} AS c00, " +
        s"${sqlCovarSamp("xa", "xn")} AS c01, " +
        s"${sqlCovarSamp("xn", "xn")} AS c11"
    val steps = (1 to cSteps).map { i =>
      val p = s"mom${i - 1}"
      s"""thr$i AS MATERIALIZED (
         |  SELECT m2 AS t FROM (
         |    SELECT ${md2(p)} AS m2,
         |      ROW_NUMBER() OVER (ORDER BY ${md2(p)} ASC) AS rn
         |    FROM pts CROSS JOIN $p)
         |  WHERE rn = (SELECT h FROM nn)),
         |mom$i AS MATERIALIZED (
         |  $momSel
         |  FROM pts CROSS JOIN $p CROSS JOIN thr$i
         |  WHERE ${md2(p)} <= t)""".stripMargin
    }
    val last = s"mom$cSteps"
    s"""WITH pts AS MATERIALIZED (
       |  SELECT $aSql AS xa, $bSql AS xn FROM $table
       |  WHERE ($aSql) IS NOT NULL AND ($bSql) IS NOT NULL),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |              (COUNT(*) + 3) // 2 AS h,
       |              (COUNT(*) + 1) // 2 AS hmed FROM pts),
       |mom0 AS MATERIALIZED ($momSel FROM pts),
       |${steps.mkString(",\n")},
       |fct AS MATERIALIZED (
       |  SELECT CASE WHEN med <= 0 THEN 1.0 ELSE med / $chi2_med END AS factor
       |  FROM (
       |    SELECT m2 AS med FROM (
       |      SELECT ${md2(last)} AS m2,
       |        ROW_NUMBER() OVER (ORDER BY ${md2(last)} ASC) AS rn
       |      FROM pts CROSS JOIN $last)
       |    WHERE rn = (SELECT hmed FROM nn))),
       |scored AS MATERIALIZED (
       |  SELECT ${md2(last)} / factor AS m2c
       |  FROM pts CROSS JOIN $last CROSS JOIN fct)
       |SELECT CAST(CASE WHEN m2c > $chi2_975 THEN 1 ELSE 0 END AS INT)
       |         AS is_outlier,
       |       CAST(COUNT(*) AS BIGINT) AS n,
       |       ROUND(MAX(m2c), 4) AS max_md2
       |FROM scored
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** In-place Gauss-Jordan inverse with partial pivoting (deterministic:
    * fixed elimination order, driver-side doubles). */
  private[graft] def invertGaussJordan(m: Array[Array[Double]]): Array[Array[Double]] = {
    val d = m.length
    val a = m.map(_.clone())
    val inv = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    for (c <- 0 until d) {
      val pivot = (c until d).maxBy(r => math.abs(a(r)(c)))
      require(math.abs(a(pivot)(c)) > 1e-12,
        "singular covariance matrix (constant or collinear features)")
      val (tA, tI) = (a(c), inv(c)); a(c) = a(pivot); inv(c) = inv(pivot)
      a(pivot) = tA; inv(pivot) = tI
      val p = a(c)(c)
      for (j <- 0 until d) { a(c)(j) /= p; inv(c)(j) /= p }
      for (r <- 0 until d; if r != c) {
        val f = a(r)(c)
        if (f != 0.0)
          for (j <- 0 until d) { a(r)(j) -= f * a(c)(j); inv(r)(j) -= f * inv(c)(j) }
      }
    }
    inv
  }
}
