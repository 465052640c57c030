package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import graft.core.Tables
import graft.queries.SqlGen.sqlScaledLongSum

/** Deterministic Lloyd k-means (reference Orange/clustering/kmeans.py
  * KMeans — sklearn's n_init random restarts replaced by the
  * deterministic first-k-by-id seeding, the classic MacQueen init, so
  * the whole trajectory is reproducible and oracle-checkable).
  *
  * Distributed shape: per iteration ONE scan — assignment is a
  * codegen'd argmin CASE chain over k literal-free centroid columns
  * (the centroids ride in as a broadcast 1-row frame so the physical
  * plan is reused across iterations), the centroid update is a
  * k-group aggregation with map-side combine. The k×d centroid matrix
  * lives on the driver. At 100 TB this is the canonical k-means shape:
  * no global sort (seeding is a TakeOrdered top-k), no crossJoin
  * against the data, shuffle = k groups per iteration.
  *
  * Oracle-exactness: centroid sums go through the scaled-long 1e-12
  * grid (order-independent integer addition; callers pre-scale
  * features to |x| ≤ 1), centroids round to 10 decimals per step,
  * distances are fixed-order affine forms both engines evaluate
  * bit-identically, and argmin ties break to the lowest cluster via
  * the suffix CASE chain (arm c fires iff d_c ≤ d_j for all j > c,
  * which picks the FIRST global minimum). Per-cluster inertia reduces
  * through detSum's DECIMAL(38,14) grid (squared distances exceed the
  * |t| ≤ 1 long-grid envelope). */
object Lloyd {

  /** @param idCol unique row id — seeds are the k lowest-id rows
    * @param feats (name, expression) pre-scaled to |x| ≤ 1. Rows with a
    *   NULL feature are dropped up front (na.drop below), so the
    *   array_position argmin can never see an all-NULL distance row —
    *   callers must not bypass that precondition (the old suffix CASE
    *   chain fell through to cluster k−1 on NULLs; the array form would
    *   yield a NULL cluster instead — ADVICE r16).
    * @return one row per non-empty cluster:
    *         (cluster, size, inertia, c_<feat>…) */
  def fit(df: DataFrame, idCol: Column, feats: Seq[(String, Column)],
          k: Int, iterations: Int): DataFrame = {
    val spark = df.sparkSession
    val d = feats.size
    val base = df.select(idCol.as("id") +:
      feats.map { case (n, f) => f.cast("double").as(s"x_$n") }: _*)
      .na.drop().cache()

    val maxAbs = base.agg(
      max(greatest(feats.map { case (n, _) => abs(col(s"x_$n")) }: _*)))
      .head().getDouble(0)
    require(maxAbs <= 1.0, s"lloyd envelope: max|x|=$maxAbs (pre-scale)")

    // deterministic seeding: k lowest-id rows (TakeOrdered, no global
    // sort); parquet doubles are identical in both engines
    var cent: Array[Array[Double]] = base.orderBy(col("id")).limit(k)
      .collect().map(r => (1 to d).map(r.getDouble).toArray)
    require(cent.length == k, s"lloyd: ${cent.length} seed rows < k=$k")

    val centSchema = StructType(
      (0 until k).flatMap(c => (0 until d).map(j =>
        StructField(s"cc_${c}_$j", DoubleType, nullable = false))).toArray)
    def centDF(cs: Array[Array[Double]]) = spark.createDataFrame(
      java.util.Arrays.asList(Row.fromSeq(cs.flatten.toSeq)), centSchema)
    def distOf(c: Int): Column =
      (0 until d).map { j =>
        val e = col(s"x_${feats(j)._1}") - col(s"cc_${c}_$j"); e * e
      }.reduce(_ + _)
    // argmin with ties to the lowest cluster = FIRST index of the array
    // minimum. Identical value to the previous suffix CASE chain
    // (arm c: d_c ≤ d_j ∀ j > c), but each distance polynomial is
    // evaluated ONCE: the chain inlined every d_c into ~k²/2
    // comparisons, and at k=5·d=8 the iteration stage codegen'd to a
    // 6.7k-line unit — janino took seconds to compile it and
    // intermittently bailed to interpreted execution mid-sweep
    // (ml_kmeans_embeddings cold 13-15 s, the r16 sweep's flaky
    // InternalCompilerException).
    def dsArr: Column = array((0 until k).map(distOf): _*)
    def clusterOf: Column =
      (array_position(dsArr, array_min(dsArr)) - 1).cast("int")

    for (_ <- 1 to iterations) {
      val asg = base.crossJoin(broadcast(centDF(cent)))
        .select(clusterOf.as("cluster") +:
          feats.map { case (n, _) => col(s"x_$n") }: _*)
      val aggs = count(lit(1)).as("n") +:
        feats.map { case (n, _) => Tables.scaledLongSum(col(s"x_$n")).as(s"s_$n") }
      val upd = asg.groupBy("cluster").agg(aggs.head, aggs.tail: _*)
        .collect().map { r =>
          (r.getInt(0),
            ((1 to d).map(i => r.getDouble(i + 1)).toArray, r.getLong(1)))
        }.toMap
      cent = Array.tabulate(k) { c =>
        upd.get(c) match {
          case Some((s, n)) =>
            Array.tabulate(d)(j => math.rint(s(j) / n * 1e10) / 1e10)
          case None => cent(c) // empty cluster keeps its centroid
        }
      }
    }

    // final assignment: sizes + per-cluster inertia + centroid echo —
    // the own-cluster distance is element_at(ds, cluster+1), the same
    // double the previous per-cluster CASE re-selection produced
    val asg = base.crossJoin(broadcast(centDF(cent)))
      .select(clusterOf.as("cluster"), dsArr.as("__ds"))
    val inertiaTerm = element_at(col("__ds"), col("cluster") + 1)
    val grouped = asg.groupBy("cluster").agg(
      count(lit(1)).as("size"),
      round(Tables.gridSum(inertiaTerm, 12), 6).as("inertia")) // terms ≤ 4·d ≪ the 2.2e3 fast-grid bound (|x| ≤ 1 envelope)
    val centCols = feats.zipWithIndex.map { case ((n, _), j) =>
      (0 until k - 1).foldRight(col(s"cc_${k - 1}_$j")) { (c, rest) =>
        when(col("cluster") === c, col(s"cc_${c}_$j")).otherwise(rest)
      }.as(s"c_$n")
    }
    val out = grouped.crossJoin(broadcast(centDF(cent)))
      .select(col("cluster") +: col("size") +: col("inertia") +: centCols: _*)
      .orderBy("cluster")
    base.unpersist()
    out
  }

  /** DuckDB twin of [[fit]]: the iteration chain unrolled as
    * (assignment, group, centroid) CTE triples. */
  def fitSql(table: String, idSql: String, featsSql: Seq[(String, String)],
             k: Int, iterations: Int): String = {
    val d = featsSql.size
    val names = featsSql.map(_._1)
    def cc(it: Int, c: Int, j: Int) = s"c${it}_${c}_$j"
    val prelude =
      s"""feats AS MATERIALIZED (
         |  SELECT $idSql AS id, ${featsSql.map { case (n, e) =>
               s"CAST($e AS DOUBLE) AS x_$n" }.mkString(", ")}
         |  FROM $table
         |  WHERE ${(featsSql.map(_._2) :+ idSql)
               .map(e => s"($e) IS NOT NULL").mkString(" AND ")}),
         |seeds AS (
         |  SELECT *, ROW_NUMBER() OVER (ORDER BY id) AS rn
         |  FROM (SELECT * FROM feats ORDER BY id LIMIT $k) s),
         |cent0 AS (
         |  SELECT ${(0 until k).flatMap(c => (0 until d).map(j =>
               s"MAX(CASE WHEN rn = ${c + 1} THEN x_${names(j)} END) AS ${cc(0, c, j)}"))
               .mkString(",\n    ")}
         |  FROM seeds)""".stripMargin
    def distExpr(it: Int, c: Int) = (0 until d).map { j =>
      s"(x_${names(j)} - ${cc(it, c, j)}) * (x_${names(j)} - ${cc(it, c, j)})"
    }.mkString(" + ")
    def argminCase = {
      val arms = (0 until k - 1).map { c =>
        val conds = (c + 1 until k).map(j => s"dd_$c <= dd_$j").mkString(" AND ")
        s"WHEN $conds THEN $c"
      }
      s"CASE ${arms.mkString(" ")} ELSE ${k - 1} END"
    }
    val steps = (1 to iterations).map { i =>
      val p = i - 1
      val dAliases = (0 until k).map(c => s"${distExpr(p, c)} AS dd_$c")
      s"""asg$i AS (
         |  SELECT ${names.map(n => s"x_$n").mkString(", ")},
         |    ${dAliases.mkString(",\n    ")},
         |    $argminCase AS cluster
         |  FROM feats CROSS JOIN cent$p),
         |grp$i AS (
         |  SELECT cluster, COUNT(*) AS n,
         |    ${names.map(n => s"${sqlScaledLongSum(s"x_$n")} AS s_$n").mkString(", ")}
         |  FROM asg$i GROUP BY cluster),
         |cent$i AS MATERIALIZED (
         |  SELECT ${(0 until k).flatMap(c => (0 until d).map(j =>
             s"COALESCE(MAX(CASE WHEN g.cluster = $c THEN ROUND(g.s_${names(j)} / g.n, 10) END), " +
               s"MIN(${cc(p, c, j)})) AS ${cc(i, c, j)}")).mkString(",\n    ")}
         |  FROM grp$i g CROSS JOIN cent$p)""".stripMargin
    }
    val last = iterations
    val dAliases = (0 until k).map(c => s"${distExpr(last, c)} AS dd_$c")
    val inertiaCase = (0 until k - 1).foldRight(s"dd_${k - 1}") { (c, rest) =>
      s"CASE WHEN cluster = $c THEN dd_$c ELSE $rest END"
    }
    val centSel = names.zipWithIndex.map { case (n, j) =>
      (0 until k - 1).foldRight(s"${cc(last, k - 1, j)}") { (c, rest) =>
        s"CASE WHEN g.cluster = $c THEN ${cc(last, c, j)} ELSE $rest END"
      } + s" AS c_$n"
    }
    s"""WITH $prelude,
       |${steps.mkString(",\n")},
       |asgF AS (
       |  SELECT ${names.map(n => s"x_$n").mkString(", ")},
       |    ${dAliases.mkString(",\n    ")},
       |    $argminCase AS cluster
       |  FROM feats CROSS JOIN cent$last),
       |grpF AS (
       |  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS size,
       |    ROUND(CAST(SUM(CAST(ROUND(($inertiaCase), 12) AS DECIMAL(38,14))) AS DOUBLE), 6) AS inertia
       |  FROM asgF GROUP BY cluster)
       |SELECT g.cluster, g.size, g.inertia,
       |  ${centSel.mkString(",\n  ")}
       |FROM grpF g CROSS JOIN cent$last
       |ORDER BY g.cluster""".stripMargin
  }
}
