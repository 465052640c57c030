package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.queries.SqlGen.sqlScaledLongSum

/** Deterministic bisecting (divisive) k-means — reference
  * Orange/clustering/hierarchical.py's divisive complement, surfaced in
  * MLlib as BisectingKMeans. The MLlib fit is seeded-random and
  * rows-only-checkable; this re-expression pins every choice so the
  * whole trajectory is oracle-exact:
  *
  *   - split target = largest cluster (ties → smallest cluster id),
  *   - 2-means seeds = the two lowest-id members,
  *   - assignment argmin ties → the parent (left) child,
  *   - centroid updates through the scaled-long 1e-12 grid with
  *     10-decimal rounding (the Lloyd device; callers pre-scale
  *     features to |x| ≤ 1), empty children keep their centroid,
  *   - the new child takes cluster id = split number.
  *
  * Scale shape: per split iteration ONE scan of the split cluster's
  * members (broadcast 2×d centroids, map-side combined scaled-long
  * sums); the assignment table updates via an id-keyed join. No global
  * sort, no crossJoin against the corpus — k·E bounded scans total. */
object Bisect {

  /** @return one row per cluster: (cluster, n, min_id), cluster ids in
    *         split order (0 = root remainder, s = split-s child). */
  def fit(df: DataFrame, idCol: Column, feats: Seq[(String, Column)],
          k: Int, iterations: Int): DataFrame = {
    val d = feats.size
    val base = df.select(idCol.cast("long").as("id") +:
      feats.map { case (n, f) => f.cast("double").as(s"x_$n") }: _*)
      .na.drop().cache()
    val maxAbs = base.agg(
      max(greatest(feats.map { case (n, _) => abs(col(s"x_$n")) }: _*)))
      .head().getDouble(0)
    require(maxAbs <= 1.0, s"bisect envelope: max|x|=$maxAbs (pre-scale)")
    def r10(v: Double): Double = {
      val p = v * 1e10
      (if (p >= 0) math.floor(p + 0.5) else math.ceil(p - 0.5)) / 1e10
    }
    var asg = base.select(col("id"), lit(0).as("cluster"))
      .localCheckpoint(eager = true)
    for (s <- 1 until k) {
      val chosen = asg.groupBy("cluster").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getInt(0), r.getLong(1)))
        .minBy { case (c, n) => (-n, c) }._1
      val members = base
        .join(asg.filter(col("cluster") === chosen).select("id"), "id")
        .cache()
      val seeds = members.orderBy(col("id")).limit(2).collect()
      require(seeds.length == 2, s"bisect: cluster $chosen has < 2 members")
      var cent = Array.tabulate(2, d)((c, j) => seeds(c).getDouble(j + 1))
      def dOf(c: Array[Array[Double]], child: Int): Column =
        (0 until d).map { j =>
          val e = col(s"x_${feats(j)._1}") - lit(c(child)(j)); e * e
        }.reduce(_ + _)
      for (_ <- 1 to iterations) {
        val cFix = cent
        val asgIt = members.select(
          when(dOf(cFix, 0) <= dOf(cFix, 1), 0).otherwise(1).as("child") +:
            feats.map { case (n, _) => col(s"x_$n") }: _*)
        val aggs = count(lit(1)).as("n") +:
          feats.map { case (n, _) =>
            graft.core.Tables.scaledLongSum(col(s"x_$n")).as(s"s_$n") }
        val upd = asgIt.groupBy("child").agg(aggs.head, aggs.tail: _*)
          .collect().map { r =>
            (r.getInt(0),
              (r.getLong(1), (1 to d).map(i => r.getDouble(i + 1)).toArray))
          }.toMap
        cent = Array.tabulate(2, d) { (c, j) =>
          upd.get(c) match {
            case Some((n, sm)) => r10(sm(j) / n)
            case None => cFix(c)(j)
          }
        }
      }
      val cFin = cent
      val childAsg = members.select(col("id"),
        when(dOf(cFin, 0) <= dOf(cFin, 1), lit(chosen))
          .otherwise(lit(s)).as("newc"))
      val prevAsg = asg
      asg = asg.join(childAsg, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("newc"), col("cluster")).as("cluster"))
        .localCheckpoint(eager = true)
      graft.core.Tables.unpersistLocalCheckpoint(prevAsg)
      members.unpersist()
    }
    val out = asg.groupBy("cluster")
      .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"))
      .orderBy("cluster")
    base.unpersist()
    out
  }

  /** DuckDB twin of [[fit]]: splits unroll as (size-argmax → members →
    * seeds → Lloyd iterations → reassignment) CTE blocks. */
  def fitSql(table: String, idSql: String, featsSql: Seq[(String, String)],
             k: Int, iterations: Int): String = {
    val d = featsSql.size
    val names = featsSql.map(_._1)
    def cc(s: Int, it: Int, c: Int, j: Int) = s"c${s}_${it}_${c}_$j"
    def distExpr(s: Int, it: Int, c: Int, pre: String = "") =
      (0 until d).map { j =>
        s"($pre" + s"x_${names(j)} - ${cc(s, it, c, j)}) * " +
          s"($pre" + s"x_${names(j)} - ${cc(s, it, c, j)})"
      }.mkString(" + ")
    val splits = (1 to k - 1).map { s =>
      val prevA = s"a${s - 1}"
      val seedCte =
        s"""sz_$s AS (
           |  SELECT cluster FROM $prevA GROUP BY cluster
           |  ORDER BY COUNT(*) DESC, cluster ASC LIMIT 1),
           |mem_$s AS MATERIALIZED (
           |  SELECT f.* FROM feats f
           |  JOIN $prevA a ON a.id = f.id CROSS JOIN sz_$s
           |  WHERE a.cluster = sz_$s.cluster),
           |sd_$s AS (
           |  SELECT *, ROW_NUMBER() OVER (ORDER BY id) AS rn
           |  FROM (SELECT * FROM mem_$s ORDER BY id LIMIT 2) t),
           |ct_${s}_0 AS (
           |  SELECT ${(0 until 2).flatMap(c => (0 until d).map(j =>
               s"MAX(CASE WHEN rn = ${c + 1} THEN x_${names(j)} END)" +
                 s" AS ${cc(s, 0, c, j)}")).mkString(",\n    ")}
           |  FROM sd_$s)""".stripMargin
      val iterCtes = (1 to iterations).map { it =>
        val p = it - 1
        s"""ai_${s}_$it AS (
           |  SELECT CASE WHEN ${distExpr(s, p, 0)} <= ${distExpr(s, p, 1)}
           |    THEN 0 ELSE 1 END AS child,
           |    ${names.map(n => s"x_$n").mkString(", ")}
           |  FROM mem_$s CROSS JOIN ct_${s}_$p),
           |gr_${s}_$it AS (
           |  SELECT child, COUNT(*) AS n,
           |    ${names.map(n => s"${sqlScaledLongSum(s"x_$n")} AS s_$n")
               .mkString(", ")}
           |  FROM ai_${s}_$it GROUP BY child),
           |ct_${s}_$it AS MATERIALIZED (
           |  SELECT ${(0 until 2).flatMap(c => (0 until d).map(j =>
               s"COALESCE(MAX(CASE WHEN g.child = $c THEN " +
                 s"ROUND(g.s_${names(j)} / g.n, 10) END), " +
                 s"MIN(${cc(s, p, c, j)})) AS ${cc(s, it, c, j)}"))
               .mkString(",\n    ")}
           |  FROM gr_${s}_$it g CROSS JOIN ct_${s}_$p)""".stripMargin
      }
      val newA =
        s"""a$s AS MATERIALIZED (
           |  SELECT a.id,
           |    CASE WHEN m.id IS NULL THEN a.cluster
           |      WHEN ${distExpr(s, iterations, 0, "m.")} <=
           |           ${distExpr(s, iterations, 1, "m.")}
           |      THEN a.cluster ELSE $s END AS cluster
           |  FROM $prevA a
           |  LEFT JOIN mem_$s m ON m.id = a.id
           |  CROSS JOIN ct_${s}_$iterations)""".stripMargin
      (Seq(seedCte) ++ iterCtes ++ Seq(newA)).mkString(",\n")
    }
    s"""WITH feats AS MATERIALIZED (
       |  SELECT $idSql AS id, ${featsSql.map { case (n, e) =>
           s"CAST($e AS DOUBLE) AS x_$n" }.mkString(", ")}
       |  FROM $table
       |  WHERE ${(featsSql.map(_._2) :+ idSql)
           .map(e => s"($e) IS NOT NULL").mkString(" AND ")}),
       |a0 AS (SELECT id, 0 AS cluster FROM feats),
       |${splits.mkString(",\n")}
       |SELECT cluster, COUNT(*) AS n, MIN(id) AS min_id
       |FROM a${k - 1} GROUP BY cluster ORDER BY cluster""".stripMargin
  }
}
