package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.core.Tables
import graft.core.Tables._
import graft.similarity.SimilarityOps
import graft.queries.SqlGen._

/** Oracle-verified analytic operators: feature scoring (SURVEY §2.10),
  * rank correlation, distances (§2.9), neighbors, outliers, FDR,
  * transpose. */
object AnalyticsQueries {

  private def li(s: SparkSession, d: String) = Tables.load(s, d, "lineitem")
  private def ord(s: SparkSession, d: String) = Tables.load(s, d, "orders")
  private def cust(s: SparkSession, d: String) = Tables.load(s, d, "customer")
  private def reg(s: SparkSession, d: String) = Tables.load(s, d, "region")

  val all: Seq[Q] = Seq(

    Q("score_infogain", // InfoGain from contingency (score.py:298-337)
      (s, d) => {
        val o = ord(s, d)
        val cont = o.groupBy(col("o_orderpriority").as("f"),
            col("o_orderstatus").as("c"))
          .agg(count(lit(1)).as("n"))
        val tot = cont.agg(sum("n").as("total"))
        val byF = cont.groupBy(col("f")).agg(sum("n").as("nf"))
        val byC = cont.groupBy(col("c")).agg(sum("n").as("nc"))
        val hC = byC.crossJoin(tot).agg(
          detSum(-(col("nc") / col("total")) * log2(col("nc") / col("total")))
            .as("h_class"))
        val hCond = cont.join(byF, "f").crossJoin(tot).agg(
          detSum((col("nf") / col("total")) *
            (-(col("n") / col("nf")) * log2(col("n") / col("nf")))).as("h_cond"))
        hC.crossJoin(hCond).select(
          round(col("h_class") - col("h_cond"), 6).as("info_gain"),
          round(col("h_class"), 6).as("h_class"),
          round(col("h_cond"), 6).as("h_cond"))
      },
      Some {
        val terms =
          s"""WITH cont AS (
             |  SELECT o_orderpriority AS f, o_orderstatus AS c, COUNT(*) AS n
             |  FROM orders GROUP BY 1, 2),
             |tot AS (SELECT SUM(n) AS total FROM cont),
             |byf AS (SELECT f, SUM(n) AS nf FROM cont GROUP BY f),
             |byc AS (SELECT c, SUM(n) AS nc FROM cont GROUP BY c),
             |hc AS (SELECT ${sqlDetSum("-(nc * 1.0 / total) * log2(nc * 1.0 / total)")} AS h_class
             |       FROM byc CROSS JOIN tot),
             |hcond AS (SELECT ${sqlDetSum("(nf * 1.0 / total) * (-(n * 1.0 / nf) * log2(n * 1.0 / nf))")} AS h_cond
             |          FROM cont JOIN byf USING (f) CROSS JOIN tot)
             |SELECT ROUND(h_class - h_cond, 6) AS info_gain,
             |       ROUND(h_class, 6) AS h_class, ROUND(h_cond, 6) AS h_cond
             |FROM hc CROSS JOIN hcond""".stripMargin
        terms
      }),

    Q("spearman_rank_corr", // §2.9 Spearman: average ranks + exact Pearson.
      // Ranks come from RankOps' distributed two-pass prefix-sum (no
      // single-partition rank() window anywhere in the plan).
      (s, d) => {
        val cols2 = Seq("l_quantity", "l_extendedprice")
        val base = li(s, d).select(cols2.map(c => col(c).cast("double").as(c)): _*)
        // Pre-scale the avg ranks by 1/n so the five correlation moments
        // run on the codegen'd scaled-long 1e-12 grid instead of five
        // DECIMAL(38,6) accumulators (the dist_corr_matrix device —
        // correlation is scale-invariant; the ~1e-11 grid shift is
        // absorbed by the 6-decimal rounding the oracle compares, same
        // as there). The decimal corr was 3.2 s of the query's 6.2 s.
        // n rides in as a broadcast 1-row subtree instead of a separate
        // base.count() driver action (r16 VERDICT item 7: the count was
        // an extra corpus job serialized before the rank pass; the same
        // count(*) inside the plan schedules concurrently). Identical
        // doubles: same count value, same division.
        val nF = base.agg(count(lit(1)).cast("double").as("__n"))
        def lSum(c: org.apache.spark.sql.Column) = Tables.scaledLongSum(c)
        graft.functions.RankOps.withAvgRanks(base, cols2)
          .crossJoin(broadcast(nF))
          .select((col("r_l_quantity") / col("__n")).as("rx"),
            (col("r_l_extendedprice") / col("__n")).as("ry"))
          .agg(lSum(col("rx")).as("sx"), lSum(col("ry")).as("sy"),
            lSum(col("rx") * col("rx")).as("sxx"),
            lSum(col("ry") * col("ry")).as("syy"),
            lSum(col("rx") * col("ry")).as("sxy"),
            count(lit(1)).cast("double").as("n"))
          .select(round(
            (col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
               sqrt(col("n") * col("syy") - col("sy") * col("sy"))),
            6).as("spearman"))
      },
      Some {
        // Mirrors the Spark side's scaled-long formulation EXACTLY
        // (ADVICE r16: the old unscaled-decimal oracle relied on the
        // ~1e-11 grid drift being absorbed by ROUND(…,6), a
        // scale-dependent tolerance; with both engines on the same
        // 1/n-scaled 1e-12 grid the equality is structural at any SF).
        s"""WITH ranked AS (
           |  SELECT RANK() OVER (ORDER BY l_quantity)
           |           + (COUNT(*) OVER (PARTITION BY l_quantity) - 1) / 2.0 AS rxr,
           |         RANK() OVER (ORDER BY l_extendedprice)
           |           + (COUNT(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0 AS ryr
           |  FROM lineitem),
           |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nv FROM lineitem),
           |scaled AS (SELECT rxr / nv AS rx, ryr / nv AS ry
           |           FROM ranked CROSS JOIN nn),
           |m AS (SELECT ${sqlScaledLongSum("rx")} AS sx, ${sqlScaledLongSum("ry")} AS sy,
           |             ${sqlScaledLongSum("rx * rx")} AS sxx, ${sqlScaledLongSum("ry * ry")} AS syy,
           |             ${sqlScaledLongSum("rx * ry")} AS sxy,
           |             CAST(COUNT(*) AS DOUBLE) AS n
           |      FROM scaled)
           |SELECT ROUND((n * sxy - sx * sy) /
           |         (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6)
           |       AS spearman
           |FROM m""".stripMargin
      }),

    Q("dist_transform", // owdistancetransformation.py:30-41 (normalize
      // then invert, commit() order :70-75): [0,1] normalization +
      // max−X inversion over a pair-bounded distance table; global
      // min/max from ONE agg broadcast back.
      (s, d) => {
        val cent = cust(s, d).groupBy(col("c_nationkey").as("k"))
          .agg(exactMean(col("c_acctbal")).as("m"))
        val a = cent.select(col("k").as("k1"), col("m").as("m1"))
        val b = cent.select(col("k").as("k2"), col("m").as("m2"))
        val pairs = a.join(b, col("k1") < col("k2"))
          .select(col("k1"), col("k2"), abs(col("m1") - col("m2")).as("dist"))
        SimilarityOps.transformDistances(pairs, "dist", "sim",
            normalize = "unit", invert = "max_minus")
          .select(col("k1"), col("k2"), round(col("dist"), 6).as("dist"),
            col("sim"))
          .orderBy(col("k1"), col("k2"))
      },
      Some(s"""WITH cent AS (
              |  SELECT c_nationkey AS k, ${sqlMean("c_acctbal")} AS m
              |  FROM customer GROUP BY c_nationkey),
              |pairs AS (
              |  SELECT a.k AS k1, b.k AS k2, ABS(a.m - b.m) AS dist
              |  FROM cent a JOIN cent b ON a.k < b.k),
              |st AS (SELECT MIN(dist) AS mn, MAX(dist) AS mx FROM pairs)
              |SELECT k1, k2, ROUND(dist, 6) AS dist,
              |  ROUND(1.0 - (dist - mn) / (mx - mn), 6) AS sim
              |FROM pairs, st ORDER BY k1, k2""".stripMargin)),

    Q("distances_pairwise", // §2.9 Euclidean/Manhattan/Cosine between
      // nation-level centroid vectors (mean acctbal, customer count).
      (s, d) => {
        val cent = cust(s, d).groupBy(col("c_nationkey").as("k"))
          .agg(exactMean(col("c_acctbal")).as("m"),
               count(lit(1)).cast(DoubleType).as("n"))
        val a = cent.select(col("k").as("k1"), col("m").as("m1"), col("n").as("n1"))
        val b = cent.select(col("k").as("k2"), col("m").as("m2"), col("n").as("n2"))
        a.join(b, col("k1") < col("k2"))
          .select(col("k1"), col("k2"),
            round(SimilarityOps.euclidean(Seq(
              (col("m1"), col("m2")), (col("n1"), col("n2")))), 6).as("euclid"),
            round(SimilarityOps.manhattan(Seq(
              (col("m1"), col("m2")), (col("n1"), col("n2")))), 6).as("manhattan"),
            round(SimilarityOps.cosineDist(Seq(
              (col("m1"), col("m2")), (col("n1"), col("n2")))), 6).as("cosine_dist"))
          .orderBy(col("k1"), col("k2"))
      },
      Some(s"""WITH cent AS (
              |  SELECT c_nationkey AS k, ${sqlMean("c_acctbal")} AS m,
              |         CAST(COUNT(*) AS DOUBLE) AS n
              |  FROM customer GROUP BY c_nationkey)
              |SELECT a.k AS k1, b.k AS k2,
              |  ROUND(SQRT((a.m - b.m)*(a.m - b.m) + (a.n - b.n)*(a.n - b.n)), 6) AS euclid,
              |  ROUND(ABS(a.m - b.m) + ABS(a.n - b.n), 6) AS manhattan,
              |  ROUND(1.0 - (a.m*b.m + a.n*b.n) /
              |    (SQRT(a.m*a.m + a.n*a.n) * SQRT(b.m*b.m + b.n*b.n)), 6) AS cosine_dist
              |FROM cent a JOIN cent b ON a.k < b.k
              |ORDER BY k1, k2""".stripMargin)),

    Q("neighbors_knn", // owneighbors.py: k nearest rows to reference rows
      (s, d) => {
        val q = cust(s, d).filter(col("c_custkey") < 20)
          .select(col("c_custkey").as("query_id"), col("c_acctbal").as("qb"))
        val c = cust(s, d).select(col("c_custkey").as("neighbor_id"),
          col("c_acctbal").as("nb"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("dist").asc, col("neighbor_id").asc)
        broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
          .withColumn("dist", abs(col("qb") - col("nb")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("query_id"), col("neighbor_id"), col("dist"), col("rank"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""SELECT query_id, neighbor_id, dist, rank FROM (
             |  SELECT q.c_custkey AS query_id, c.c_custkey AS neighbor_id,
             |         ABS(q.c_acctbal - c.c_acctbal) AS dist,
             |         ROW_NUMBER() OVER (PARTITION BY q.c_custkey
             |           ORDER BY ABS(q.c_acctbal - c.c_acctbal) ASC,
             |                    c.c_custkey ASC) AS rank
             |  FROM customer q JOIN customer c ON q.c_custkey <> c.c_custkey
             |  WHERE q.c_custkey < 20)
             |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),

    Q("outliers_elliptic_robust", // outlier_detection.py:127
      // EllipticEnvelope (sklearn MinCovDet): deterministic C-step MCD —
      // h-subset refits with exact-rank thresholds, consistency
      // -corrected χ²(0.975) envelope. Oracle = the C-step loop unrolled
      // as CTE rounds (cofactor md2 form, decimal-sum moments);
      // MahalanobisSpec pins that an injected outlier cluster masked
      // under the plain covariance is flagged here.
      (s, d) => graft.operators.OutlierOps.robustMahalanobis(
          Tables.load(s, d, "customer").select(col("c_custkey"),
            (col("c_acctbal") / 1000.0).as("xa"),
            col("c_nationkey").cast("double").as("xn")),
          Seq("xa", "xn"))
        .groupBy(col("is_outlier"))
        .agg(count(lit(1)).as("n"),
          round(max(col("md2_robust")), 4).as("max_md2"))
        .orderBy(col("is_outlier")),
      Some(graft.operators.OutlierOps.robustMahalanobis2dSummarySql(
        "customer", "c_acctbal / 1000.0", "CAST(c_nationkey AS DOUBLE)"))),

    Q("outliers_mahalanobis2d", // outlier_detection.py Mahalanobis scores:
      // closed-form 2-D Σ⁻¹ from exact sums → fully deterministic.
      (s, d) => {
        val x = col("l_quantity"); val y = col("l_extendedprice")
        // fast-grid bounds: |x| ≤ 51, |y| ≤ ~1.14e5, |x·y| ≤ 5.9e6,
        // |x²| ≤ 2601 — all ≪ 2.25e9; only y² (1.3e10) exceeds the
        // envelope and keeps its single decimal sum
        val stats = li(s, d).agg(
          exactMean(x, grid6).as("mx"), exactMean(y, grid6).as("my"),
          exactVarSamp(x, grid6, grid6).as("vx"),
          exactVarSamp(y, grid6, exactSum).as("vy"),
          exactCovarSamp(x, y, grid6, grid6).as("cxy"))
        val dx = x - col("mx"); val dy = y - col("my")
        val det = col("vx") * col("vy") - col("cxy") * col("cxy")
        val md2 = (dx * dx * col("vy") - dx * dy * col("cxy") * 2.0
          + dy * dy * col("vx")) / det
        li(s, d).crossJoin(broadcast(stats))
          .withColumn("md2", round(md2, 6))
          .filter(col("md2") > 9)
          .select(col("l_orderkey"), col("l_linenumber"), col("md2"))
          .orderBy(col("l_orderkey"), col("l_linenumber"), col("md2"))
      },
      Some(s"""WITH stats AS (SELECT
              |  ${sqlMean("l_quantity")} AS mx, ${sqlMean("l_extendedprice")} AS my,
              |  ${sqlVarSamp("l_quantity")} AS vx, ${sqlVarSamp("l_extendedprice")} AS vy,
              |  ${sqlCovarSamp("l_quantity", "l_extendedprice")} AS cxy
              |  FROM lineitem)
              |SELECT l_orderkey, l_linenumber, md2 FROM (
              |  SELECT l_orderkey, l_linenumber,
              |    ROUND(((l_quantity - mx)*(l_quantity - mx)*vy
              |      - (l_quantity - mx)*(l_extendedprice - my)*cxy*2.0
              |      + (l_extendedprice - my)*(l_extendedprice - my)*vx)
              |      / (vx*vy - cxy*cxy), 6) AS md2
              |  FROM lineitem CROSS JOIN stats)
              |WHERE md2 > 9
              |ORDER BY l_orderkey, l_linenumber, md2""".stripMargin)),

    Q("outliers_mahalanobis3d", // distance.py:807-868 general Mahalanobis,
      // 3-D cofactor closed form (the oracle-exact twin of the general
      // Gauss-Jordan path in OutlierOps.mahalanobisND — MahalanobisSpec
      // pins the two differentially). Identical expression text in both
      // engines → identical doubles.
      (s, d) => {
        val x = col("l_quantity"); val y = col("l_extendedprice")
        val z = col("l_discount")
        // fast-grid bounds: x ≤ 51, z ≤ 0.1, y ≤ ~1.14e5; every product
        // ≤ 5.9e6 ≪ 2.25e9; only y² (1.3e10) exceeds the envelope and
        // keeps its single decimal sum
        val stats = li(s, d).agg(
          exactMean(x, grid6).as("mx"), exactMean(y, grid6).as("my"),
          exactMean(z, grid6).as("mz"),
          exactVarSamp(x, grid6, grid6).as("vx"),
          exactVarSamp(y, grid6, exactSum).as("vy"),
          exactVarSamp(z, grid6, grid6).as("vz"),
          exactCovarSamp(x, y, grid6, grid6).as("cxy"),
          exactCovarSamp(x, z, grid6, grid6).as("cxz"),
          exactCovarSamp(y, z, grid6, grid6).as("cyz"))
        val dx = x - col("mx"); val dy = y - col("my"); val dz = z - col("mz")
        val ca = col("vy") * col("vz") - col("cyz") * col("cyz")
        val cb = col("vx") * col("vz") - col("cxz") * col("cxz")
        val cc = col("vx") * col("vy") - col("cxy") * col("cxy")
        val cd = col("cxz") * col("cyz") - col("cxy") * col("vz")
        val ce = col("cxy") * col("cyz") - col("vy") * col("cxz")
        val cf = col("cxy") * col("cxz") - col("vx") * col("cyz")
        val det = col("vx") * ca + col("cxy") * cd + col("cxz") * ce
        val md2 = (dx * dx * ca + dy * dy * cb + dz * dz * cc
          + dx * dy * cd * 2.0 + dx * dz * ce * 2.0 + dy * dz * cf * 2.0) / det
        li(s, d).crossJoin(broadcast(stats))
          .withColumn("md2", round(md2, 6))
          .filter(col("md2") > 7)
          .select(col("l_orderkey"), col("l_linenumber"), col("md2"))
          .orderBy(col("l_orderkey"), col("l_linenumber"), col("md2"))
      },
      Some(s"""WITH stats AS (SELECT
              |  ${sqlMean("l_quantity")} AS mx, ${sqlMean("l_extendedprice")} AS my,
              |  ${sqlMean("l_discount")} AS mz,
              |  ${sqlVarSamp("l_quantity")} AS vx, ${sqlVarSamp("l_extendedprice")} AS vy,
              |  ${sqlVarSamp("l_discount")} AS vz,
              |  ${sqlCovarSamp("l_quantity", "l_extendedprice")} AS cxy,
              |  ${sqlCovarSamp("l_quantity", "l_discount")} AS cxz,
              |  ${sqlCovarSamp("l_extendedprice", "l_discount")} AS cyz
              |  FROM lineitem)
              |SELECT l_orderkey, l_linenumber, md2 FROM (
              |  SELECT l_orderkey, l_linenumber,
              |    ROUND((
              |      (l_quantity - mx)*(l_quantity - mx)*(vy*vz - cyz*cyz)
              |      + (l_extendedprice - my)*(l_extendedprice - my)*(vx*vz - cxz*cxz)
              |      + (l_discount - mz)*(l_discount - mz)*(vx*vy - cxy*cxy)
              |      + (l_quantity - mx)*(l_extendedprice - my)*(cxz*cyz - cxy*vz)*2.0
              |      + (l_quantity - mx)*(l_discount - mz)*(cxy*cyz - vy*cxz)*2.0
              |      + (l_extendedprice - my)*(l_discount - mz)*(cxy*cxz - vx*cyz)*2.0
              |    ) / (vx*(vy*vz - cyz*cyz) + cxy*(cxz*cyz - cxy*vz) + cxz*(cxy*cyz - vy*cxz)), 6) AS md2
              |  FROM lineitem CROSS JOIN stats)
              |WHERE md2 > 7
              |ORDER BY l_orderkey, l_linenumber, md2""".stripMargin)),

    Q("fdr_bh", // Benjamini–Hochberg (statistics/util.py:757)
      (s, d) => {
        val p = round((hashVal32(concat(lit("p_"), col("o_orderkey"))) + 0.5)
          / 4294967296.0, 6)
        val sub = ord(s, d).filter(col("o_orderkey") < 200)
          .select(col("o_orderkey"), p.as("p"))
        graft.functions.StatsOps.fdrBH(sub, "o_orderkey", "p")
          .select(col("o_orderkey"), col("p"), round(col("fdr"), 6).as("fdr"))
          .orderBy(col("o_orderkey"))
      },
      Some {
        val h = sqlHash32("CONCAT('p_', o_orderkey)")
        s"""WITH pv AS (
           |  SELECT o_orderkey, ROUND(($h + 0.5) / 4294967296.0, 6) AS p
           |  FROM orders WHERE o_orderkey < 200),
           |ranked AS (
           |  SELECT o_orderkey, p,
           |    COUNT(*) OVER () AS n,
           |    ROW_NUMBER() OVER (ORDER BY p ASC, o_orderkey ASC) AS i
           |  FROM pv)
           |SELECT o_orderkey, p,
           |  ROUND(LEAST(MIN(p * n / i) OVER (
           |    ORDER BY p DESC, o_orderkey DESC
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0), 6) AS fdr
           |FROM ranked ORDER BY o_orderkey""".stripMargin
      }),

    Q("transpose", // table.py:2231-2373 — features ↔ instances on the
      // region table (transpose is inherently schema-bounded).
      (s, d) => reg(s, d).groupBy()
        .pivot(col("r_name"),
          Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"))
        .agg(min(col("r_regionkey"))),
      Some("""SELECT
             |  MIN(CASE WHEN r_name = 'AFRICA' THEN r_regionkey END) AS "AFRICA",
             |  MIN(CASE WHEN r_name = 'AMERICA' THEN r_regionkey END) AS "AMERICA",
             |  MIN(CASE WHEN r_name = 'ASIA' THEN r_regionkey END) AS "ASIA",
             |  MIN(CASE WHEN r_name = 'EUROPE' THEN r_regionkey END) AS "EUROPE",
             |  MIN(CASE WHEN r_name = 'MIDDLE EAST' THEN r_regionkey END) AS "MIDDLE EAST"
             |FROM region""".stripMargin)),

    Q("dist_corr_matrix", { // §2.9 Pearson/PearsonAbsolute/Spearman/
      // SpearmanAbsolute column distances (distance.py:586-786):
      // dist = (1−r)/2, absolute variant 1−|r|, Spearman on average
      // ranks. ONE aggregate computes all six correlations over the
      // ranked projection; the per-pair rows are then tiny selects from
      // that one-row result. Ranks come from RankOps' distributed
      // two-pass prefix-sum — the previous per-column global rank()
      // windows each funneled the whole table through one task.
      val colsU = Seq("l_quantity", "l_extendedprice", "l_discount")
      (s: SparkSession, d: String) => {
        val base = li(s, d).select(colsU.map(c => col(c).cast("double").as(c)): _*)
        // Correlation is scale-invariant, so pre-scale every column (and
        // the avg ranks, by 1/n) into [0,1]: all 18 moment sums then run
        // on the codegen'd scaled-long 1e-12 grid (order-independent
        // integer adds; |term|·1e12 ≪ 2⁵³, Σ ≪ 2⁶³ through sf1) instead
        // of 30 DECIMAL(38) accumulators — the one-row corr algebra
        // shifts by ~1e-11, absorbed by the 6-decimal output rounding
        // against the oracle's unscaled DECIMAL formulation.
        val nRows = base.count().toDouble
        val scaleOf = Map("l_quantity" -> 50.0,
          "l_extendedprice" -> 120000.0, "l_discount" -> 1.0)
        val ranked = graft.functions.RankOps.withAvgRanks(base, colsU)
          .select(colsU.flatMap(c => Seq(
            (col(c) / scaleOf(c)).as(s"v_$c"),
            (col(s"r_$c") / nRows).as(s"r_$c"))): _*)
        val pairs = for { i <- colsU.indices; j <- colsU.indices if i < j }
          yield (colsU(i), colsU(j))
        // exact split-radix sum — overflow-proof to 2⁴² rows/group at
        // long speed (a bare long sum wrapped at the sf10 rehearsal's
        // 60M rows; see Tables.scaledLongSum)
        def lSum(c: Column): Column = Tables.scaledLongSum(c)
        val moments =
          colsU.flatMap(c => Seq(
            lSum(col(s"v_$c")).as(s"s_v_$c"),
            lSum(col(s"v_$c") * col(s"v_$c")).as(s"ss_v_$c"),
            lSum(col(s"r_$c")).as(s"s_r_$c"),
            lSum(col(s"r_$c") * col(s"r_$c")).as(s"ss_r_$c"))) ++
          pairs.zipWithIndex.flatMap { case ((a, b), i) => Seq(
            lSum(col(s"v_$a") * col(s"v_$b")).as(s"sp_$i"),
            lSum(col(s"r_$a") * col(s"r_$b")).as(s"sr_$i")) } :+
          count(lit(1)).cast("double").as("n")
        def corrOf(sab: Column, sa: Column, sb: Column, saa: Column,
                   sbb: Column, n: Column): Column =
          (n * sab - sa * sb) /
            (sqrt(n * saa - sa * sa) * sqrt(n * sbb - sb * sb))
        val one = ranked.agg(moments.head, moments.tail: _*)
          .select(pairs.zipWithIndex.flatMap { case ((a, b), i) => Seq(
            corrOf(col(s"sp_$i"), col(s"s_v_$a"), col(s"s_v_$b"),
              col(s"ss_v_$a"), col(s"ss_v_$b"), col("n")).as(s"rp_$i"),
            corrOf(col(s"sr_$i"), col(s"s_r_$a"), col(s"s_r_$b"),
              col(s"ss_r_$a"), col(s"ss_r_$b"), col("n")).as(s"rs_$i")) }: _*)
        // stack (not union) unpivots the single row → a UNION of selects
        // would let column pruning split the shared agg into one scan per
        // pair (PlanSpec guards the single-scan shape)
        val withD = one.select(pairs.indices.flatMap(i => Seq(
          round((lit(1.0) - col(s"rp_$i")) / 2.0, 6).as(s"pd_$i"),
          round(lit(1.0) - abs(col(s"rp_$i")), 6).as(s"pa_$i"),
          round((lit(1.0) - col(s"rs_$i")) / 2.0, 6).as(s"sd_$i"),
          round(lit(1.0) - abs(col(s"rs_$i")), 6).as(s"sa_$i"))): _*)
        val stackArgs = pairs.zipWithIndex.map { case ((a, b), i) =>
          s"'$a', '$b', pd_$i, pa_$i, sd_$i, sa_$i" }.mkString(", ")
        withD.selectExpr(s"stack(${pairs.size}, $stackArgs) AS " +
            "(col_a, col_b, pearson_dist, pearson_abs_dist, " +
            "spearman_dist, spearman_abs_dist)")
          .orderBy(col("col_a"), col("col_b"))
      }
    }, Some {
      val colsU = Seq("l_quantity", "l_extendedprice", "l_discount")
      val rankedCols = colsU.map { c =>
        s"""CAST($c AS DOUBLE) AS v_$c,
           |RANK() OVER (ORDER BY $c) + (COUNT(*) OVER (PARTITION BY $c) - 1) / 2.0 AS r_$c"""
          .stripMargin.replace("\n", " ")
      }.mkString(", ")
      val pairs = for { i <- colsU.indices; j <- colsU.indices if i < j }
        yield (colsU(i), colsU(j))
      val aggCols = pairs.zipWithIndex.flatMap { case ((a, b), i) => Seq(
        s"${sqlCorr(s"v_$a", s"v_$b")} AS rp_$i",
        s"${sqlCorr(s"r_$a", s"r_$b")} AS rs_$i") }.mkString(",\n  ")
      val selects = pairs.zipWithIndex.map { case ((a, b), i) =>
        s"""SELECT '$a' AS col_a, '$b' AS col_b,
           |  ROUND((1.0 - rp_$i) / 2.0, 6) AS pearson_dist,
           |  ROUND(1.0 - ABS(rp_$i), 6) AS pearson_abs_dist,
           |  ROUND((1.0 - rs_$i) / 2.0, 6) AS spearman_dist,
           |  ROUND(1.0 - ABS(rs_$i), 6) AS spearman_abs_dist
           |FROM one""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ranked AS (SELECT $rankedCols FROM lineitem),
         |one AS (SELECT
         |  $aggCols
         |FROM ranked)
         |$selects
         |ORDER BY col_a, col_b""".stripMargin
    }),

    Q("score_univar_regression", // UnivariateLinearRegression scorer
      // (preprocess/score.py:107-157, sklearn f_regression): per-feature
      // F = r²/(1−r²)·(n−2) against a continuous target — one aggregate
      // over exact correlation sums.
      (s, d) => {
        val feats = Seq("l_quantity", "l_discount", "l_tax")
        // fast grid for f, price, f·price (≤ 5.9e6 ≪ 2.25e9); price²
        // (1.3e10) exceeds the envelope → that one sum stays decimal
        val fCols = feats.map { f =>
          val r = exactCorr(col(f).cast("double"),
            col("l_extendedprice").cast("double"), grid6, grid6, xx = grid6)
          round(r * r / (lit(1.0) - r * r) *
            (count(lit(1)).cast(DoubleType) - 2.0), 6).as(s"f_$f")
        }
        li(s, d).agg(fCols.head, fCols.tail: _*)
      },
      Some {
        val fs = Seq("l_quantity", "l_discount", "l_tax").map { f =>
          val r = sqlCorr(s"CAST($f AS DOUBLE)", "CAST(l_extendedprice AS DOUBLE)")
          s"ROUND(($r) * ($r) / (1.0 - ($r) * ($r)) * (CAST(COUNT(*) AS DOUBLE) - 2.0), 6) AS f_$f"
        }.mkString(",\n  ")
        s"SELECT\n  $fs\nFROM lineitem"
      }),

    Q("dist_jaccard_rows", // §2.9 Jaccard between rows on binarized
      // features (distance.py:468-585: x>threshold → 1, dist = 1 −
      // |a∧b|/|a∨b|; both-empty pairs are distance 0 like sklearn).
      (s, d) => {
        def bins(p: String) = Seq(
          when(col("c_acctbal") > 0, 1).otherwise(0).as(s"b1$p"),
          when(col("c_mktsegment") === "BUILDING", 1).otherwise(0).as(s"b2$p"),
          when(col("c_nationkey") >= 12, 1).otherwise(0).as(s"b3$p"),
          when(col("c_acctbal") > 5000, 1).otherwise(0).as(s"b4$p"))
        val refs = cust(s, d).filter(col("c_custkey") <= 30)
        val a = refs.select(col("c_custkey").as("k1") +: bins("a"): _*)
        val b = refs.select(col("c_custkey").as("k2") +: bins("b"): _*)
        val inter = (1 to 4).map(i =>
          col(s"b${i}a") * col(s"b${i}b")).reduce(_ + _)
        val union = (1 to 4).map(i =>
          greatest(col(s"b${i}a"), col(s"b${i}b"))).reduce(_ + _)
        a.join(b, col("k1") < col("k2"))
          .select(col("k1"), col("k2"),
            when(union === 0, 0.0)
              .otherwise(round(lit(1.0) - inter / union.cast(DoubleType), 6))
              .as("jaccard_dist"))
          .orderBy(col("k1"), col("k2"))
      },
      Some("""WITH bin AS (
             |  SELECT c_custkey AS k,
             |         CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS b1,
             |         CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS b2,
             |         CASE WHEN c_nationkey >= 12 THEN 1 ELSE 0 END AS b3,
             |         CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END AS b4
             |  FROM customer WHERE c_custkey <= 30)
             |SELECT a.k AS k1, b.k AS k2,
             |  CASE WHEN GREATEST(a.b1,b.b1)+GREATEST(a.b2,b.b2)
             |           +GREATEST(a.b3,b.b3)+GREATEST(a.b4,b.b4) = 0 THEN 0.0
             |  ELSE ROUND(1.0 - (a.b1*b.b1 + a.b2*b.b2 + a.b3*b.b3 + a.b4*b.b4)
             |    / CAST(GREATEST(a.b1,b.b1)+GREATEST(a.b2,b.b2)
             |          +GREATEST(a.b3,b.b3)+GREATEST(a.b4,b.b4) AS DOUBLE), 6)
             |  END AS jaccard_dist
             |FROM bin a JOIN bin b ON a.k < b.k
             |ORDER BY k1, k2""".stripMargin)),

    Q("dist_columns_axis", // §2.9 axis=0: distances BETWEEN ATTRIBUTES
      // (each column is a vector over all rows — distance.py's axis
      // parameter). ONE map-side-combined aggregation per table scan:
      // the shape survives any row count, no pair table materializes.
      (s, d) => {
        val q = col("l_quantity") / 50.0
        val dc = col("l_discount") * 10.0
        val t = col("l_tax") * 10.0
        li(s, d).agg(
          round(sqrt(gridSum((q - dc) * (q - dc), 12)), 6).as("d_qty_disc"),
          round(sqrt(gridSum((q - t) * (q - t), 12)), 6).as("d_qty_tax"),
          round(sqrt(gridSum((dc - t) * (dc - t), 12)), 6).as("d_disc_tax")) // pre-scaled terms ≤ 4: fast-grid safe
      },
      Some { // same detSum grid as the Spark side
        def e(a: String, b: String) =
          s"ROUND(SQRT(${sqlDetSum(s"(($a) - ($b)) * (($a) - ($b))")}), 6)"
        s"""SELECT
           |  ${e("l_quantity / 50.0", "l_discount * 10.0")} AS d_qty_disc,
           |  ${e("l_quantity / 50.0", "l_tax * 10.0")} AS d_qty_tax,
           |  ${e("l_discount * 10.0", "l_tax * 10.0")} AS d_disc_tax
           |FROM lineitem""".stripMargin
      }),

    Q("dist_euclidean_normalized", // §2.9 Euclidean with normalization
      // (distance.py:80-255, normalize=True): z-score each feature by
      // GLOBAL exact stats, then pairwise distance among reference rows.
      // The z values are rounded to 6 decimals BEFORE pairing so both
      // engines feed sqrt identical inputs (1-ulp quotient drift is the
      // known cross-engine hazard; normalize_zscore documents it).
      (s, d) => {
        val st = cust(s, d).agg(
          exactMean(col("c_acctbal")).as("m"),
          sqrt(exactVarSamp(col("c_acctbal"))).as("sd"),
          exactMean(col("c_nationkey").cast(DoubleType)).as("mn"),
          sqrt(exactVarSamp(col("c_nationkey").cast(DoubleType))).as("sdn"))
        val z = cust(s, d).filter(col("c_custkey") <= 15)
          .crossJoin(broadcast(st))
          .select(col("c_custkey").as("k"),
            round((col("c_acctbal") - col("m")) / col("sd"), 6).as("za"),
            round((col("c_nationkey") - col("mn")) / col("sdn"), 6).as("zn"))
        val a = z.select(col("k").as("k1"), col("za").as("za1"), col("zn").as("zn1"))
        val b = z.select(col("k").as("k2"), col("za").as("za2"), col("zn").as("zn2"))
        a.join(b, col("k1") < col("k2"))
          .select(col("k1"), col("k2"),
            round(SimilarityOps.euclidean(Seq(
              (col("za1"), col("za2")), (col("zn1"), col("zn2")))), 6)
              .as("dist"))
          .orderBy(col("k1"), col("k2"))
      },
      Some(s"""WITH st AS (
              |  SELECT ${sqlMean("c_acctbal")} AS m,
              |         ${sqlStdSamp("c_acctbal")} AS sd,
              |         ${sqlMean("CAST(c_nationkey AS DOUBLE)")} AS mn,
              |         ${sqlStdSamp("CAST(c_nationkey AS DOUBLE)")} AS sdn
              |  FROM customer),
              |z AS (SELECT c_custkey AS k,
              |        ROUND((c_acctbal - m) / sd, 6) AS za,
              |        ROUND((c_nationkey - mn) / sdn, 6) AS zn
              |      FROM customer CROSS JOIN st WHERE c_custkey <= 15)
              |SELECT a.k AS k1, b.k AS k2,
              |  ROUND(SQRT((a.za - b.za)*(a.za - b.za)
              |           + (a.zn - b.zn)*(a.zn - b.zn)), 6) AS dist
              |FROM z a JOIN z b ON a.k < b.k
              |ORDER BY k1, k2""".stripMargin)),

    Q("dist_manhattan_mad", // §2.9 Manhattan with median/MAD
      // normalization (distance.py:256-393): x' = (x − median)/(2·MAD),
      // then pairwise L1 among reference rows. Exact interpolated
      // percentile on both engines; normalized values rounded before
      // pairing (same device as dist_euclidean_normalized).
      (s, d) => {
        val c0 = cust(s, d)
        val st1 = c0.agg(
          round(percentile(col("c_acctbal"), lit(0.5)), 6).as("med"))
        val st2 = c0.crossJoin(broadcast(st1)).agg(
          round(percentile(abs(col("c_acctbal") - col("med")), lit(0.5)), 6)
            .as("mad"))
        val z = c0.filter(col("c_custkey") <= 15)
          .crossJoin(broadcast(st1)).crossJoin(broadcast(st2))
          .select(col("c_custkey").as("k"),
            round((col("c_acctbal") - col("med")) / (col("mad") * 2.0), 6)
              .as("xn"))
        val a = z.select(col("k").as("k1"), col("xn").as("x1"))
        val b = z.select(col("k").as("k2"), col("xn").as("x2"))
        a.join(b, col("k1") < col("k2"))
          .select(col("k1"), col("k2"),
            round(abs(col("x1") - col("x2")), 6).as("dist"))
          .orderBy(col("k1"), col("k2"))
      },
      Some("""WITH st1 AS (
             |  SELECT ROUND(CAST(quantile_cont(c_acctbal, 0.5) AS DOUBLE), 6) AS med
             |  FROM customer),
             |st2 AS (
             |  SELECT ROUND(CAST(quantile_cont(ABS(c_acctbal - med), 0.5) AS DOUBLE), 6) AS mad
             |  FROM customer CROSS JOIN st1),
             |z AS (SELECT c_custkey AS k,
             |        ROUND((c_acctbal - med) / (mad * 2.0), 6) AS xn
             |      FROM customer CROSS JOIN st1 CROSS JOIN st2
             |      WHERE c_custkey <= 15)
             |SELECT a.k AS k1, b.k AS k2,
             |  ROUND(ABS(a.xn - b.xn), 6) AS dist
             |FROM z a JOIN z b ON a.k < b.k
             |ORDER BY k1, k2""".stripMargin))
  )
}
