package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import graft.core.Tables._
import graft.queries.SqlGen.sqlScaledLongSum

/** Multinomial (softmax) regression (reference
  * Orange/classification/softmax_regression.py:11-101
  * SoftmaxRegressionLearner — L2-regularized categorical cross-entropy;
  * the reference minimizes with L-BFGS, this re-expression uses
  * full-batch gradient descent on the IDENTICAL cost/gradient
  *   grad = Xᵀ(P − Y)/n + λ·θ/n      (bias column regularized too,
  * exactly like the reference's hstack-ones + full-θ L2).
  *
  * Distributed shape: per iteration ONE scan — the C·(k+1) gradient
  * sums accumulate partition-locally into a primitive long array
  * (the scaled-long grid of SGD.scala; a 90-expression HashAggregate
  * would fall out of whole-stage codegen), then treeReduce. The θ
  * matrix is tiny and lives on the driver.
  *
  * Oracle-exactness (same device as SGD.linearGD): per-term gradients
  * round to the 1e-12 scaled-long grid (order-independent integer
  * sums), θ rounds to 10 decimals after every step, and the softmax
  * probabilities divide exp(z_c) by a FIXED class-order sum, so Spark
  * and the SQL-unrolled DuckDB twin walk the same trajectory. The
  * argmax prediction compares the raw scores z_c (bit-identical affine
  * forms), never the exp'd probabilities. Features must be pre-scaled
  * to ~[0,1] and null-free. */
object Softmax {

  /** Full-batch softmax GD; returns one row per class:
    * (class, w_<feat>…, intercept, support, predicted, accuracy). */
  def fit(df: DataFrame, feats: Seq[(String, Column)], y: Column,
          numClasses: Int, iterations: Int, lr: Double,
          lambda: Double): DataFrame = {
    val spark = df.sparkSession
    val k = feats.size
    val c = numClasses
    val base = df.select(
      feats.map { case (n, f) => f.cast("double").as(s"x_$n") } :+
        y.cast("double").as("y"): _*).na.drop()

    // Chunked columnar cache (lockstep with SGD.linearGD round-10):
    // flat primitive chunks of up to 2¹⁶ rows (row-major, stride k+1)
    // instead of one Array[Double] per row — same doubles at payload
    // cost, no per-row object headers, so multi-epoch caches stay
    // memory-resident at 10⁸⁺ rows. Row order and per-row arithmetic
    // are unchanged: the gradient sums are bit-identical.
    val arrRdd = {
      val kk = k
      val stride = kk + 1
      val chunkRows = 1 << 16
      base.rdd.mapPartitions { rows =>
        new Iterator[Array[Double]] {
          def hasNext: Boolean = rows.hasNext
          def next(): Array[Double] = {
            val buf = new Array[Double](chunkRows * stride)
            var n = 0
            while (n < chunkRows && rows.hasNext) {
              val row = rows.next()
              val off = n * stride
              var i = 0
              while (i < stride) { buf(off + i) = row.getDouble(i); i += 1 }
              n += 1
            }
            if (n == chunkRows) buf
            else java.util.Arrays.copyOf(buf, n * stride)
          }
        }
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val (n, maxAbs) = {
      val kk = k
      arrRdd.mapPartitions { it =>
        var n = 0L; var mx = 0.0
        val stride = kk + 1
        while (it.hasNext) {
          val ch = it.next(); val m = ch.length / stride
          n += m
          var r = 0
          while (r < m) {
            val off = r * stride
            var i = 0
            while (i < kk) {
              val v = math.abs(ch(off + i)); if (v > mx) mx = v; i += 1
            }
            r += 1
          }
        }
        Iterator.single((n, mx))
      }.treeReduce((a, b) => (a._1 + b._1, math.max(a._2, b._2)))
    }
    require(n > 0, "softmax fit on empty input")
    // per-TERM envelope only (lockstep with SGD.linearGD round-10):
    // |r·x| ≤ 1 keeps round(t·10¹²) exact at ANY n; accumulator
    // overflow is handled by the BigInteger spill below, and the
    // oracle's HUGEINT SUM is overflow-free — softmax callers
    // pre-scale, so enforce just the magnitude bound
    require(maxAbs <= 1.0,
      s"softmax envelope: maxAbs=$maxAbs (pre-scale features to [-1,1])")

    // θ[c][j], j = 0..k-1 weights, j = k intercept
    var theta = Array.fill(c, k + 1)(0.0)
    val nD = n.toDouble
    for (_ <- 1 to iterations) {
      val bw = spark.sparkContext.broadcast(theta)
      val kk = k; val cc = c
      // exact scaled-long sums at any row count, order-independent
      val g = arrRdd.mapPartitions { it =>
        val th = bw.value
        val acc = new graft.core.ScaledLongSums(cc * (kk + 1))
        val z = new Array[Double](cc)
        val e = new Array[Double](cc)
        val stride = kk + 1
        while (it.hasNext) {
          val ch = it.next(); val m = ch.length / stride
          var rr = 0
          while (rr < m) {
            val off = rr * stride
            val yi = ch(off + kk).toInt
            var ci = 0
            while (ci < cc) {
              val t = th(ci)
              var s = 0.0; var j = 0
              while (j < kk) { s += ch(off + j) * t(j); j += 1 }
              z(ci) = s + t(kk)
              e(ci) = math.exp(z(ci))
              ci += 1
            }
            var se = 0.0
            ci = 0
            while (ci < cc) { se += e(ci); ci += 1 }
            ci = 0
            while (ci < cc) {
              val r = e(ci) / se - (if (yi == ci) 1.0 else 0.0)
              var j = 0
              while (j < kk) { acc.add(ci * (kk + 1) + j, r * ch(off + j)); j += 1 }
              acc.add(ci * (kk + 1) + kk, r)
              ci += 1
            }
            rr += 1
          }
        }
        Iterator.single(acc)
      }.treeReduce(_ merge _).result
      bw.destroy()
      theta = Array.tabulate(c, k + 1) { (ci, j) =>
        val gs = g(ci * (k + 1) + j)
        math.rint((theta(ci)(j) - lr * (gs / nD + lambda * theta(ci)(j) / nD)) * 1e10) / 1e10
      }
    }

    // final pass: per-class supports + argmax-on-z predictions + accuracy
    val (sup, prd, correct) = {
      val bw = spark.sparkContext.broadcast(theta)
      val kk = k; val cc = c
      val res = arrRdd.mapPartitions { it =>
        val th = bw.value
        val s = new Array[Long](cc); val p = new Array[Long](cc)
        var ok = 0L
        val stride = kk + 1
        while (it.hasNext) {
          val ch = it.next(); val m = ch.length / stride
          var rr = 0
          while (rr < m) {
            val off = rr * stride
            val yi = ch(off + kk).toInt
            var best = 0; var bestZ = Double.NegativeInfinity
            var ci = 0
            while (ci < cc) {
              val t = th(ci)
              var z = 0.0; var j = 0
              while (j < kk) { z += ch(off + j) * t(j); j += 1 }
              z += t(kk)
              if (z > bestZ) { bestZ = z; best = ci }
              ci += 1
            }
            s(yi) += 1; p(best) += 1
            if (best == yi) ok += 1
            rr += 1
          }
        }
        Iterator.single((s, p, ok))
      }.treeReduce { (a, b) =>
        var i = 0
        while (i < cc) { a._1(i) += b._1(i); a._2(i) += b._2(i); i += 1 }
        (a._1, a._2, a._3 + b._3)
      }
      bw.destroy()
      res
    }
    arrRdd.unpersist(false)
    val acc6 = new java.math.BigDecimal(correct.toDouble / nD)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

    val schema = StructType(
      StructField("class", IntegerType, nullable = false) +:
        feats.map { case (nm, _) =>
          StructField(s"w_$nm", DoubleType, nullable = false) } :+
        StructField("intercept", DoubleType, nullable = false) :+
        StructField("support", LongType, nullable = false) :+
        StructField("predicted", LongType, nullable = false) :+
        StructField("accuracy", DoubleType, nullable = false))
    val rows = (0 until c).map { ci =>
      Row.fromSeq(ci +: theta(ci).take(k).toSeq :+ theta(ci)(k) :+
        sup(ci) :+ prd(ci) :+ acc6)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** DuckDB twin of [[fit]]: iterations unrolled as chained 1-row CTEs
    * over a MATERIALIZED feature table. `featsSql` must carry the same
    * pre-scaling as the Spark columns; `ySql` is the 0-based class. */
  def fitSql(table: String, featsSql: Seq[(String, String)], ySql: String,
             numClasses: Int, iterations: Int, lr: Double,
             lambda: Double): String = {
    val k = featsSql.size
    val c = numClasses
    val names = featsSql.map(_._1)
    val feat = names.map(nm => s"x_$nm")
    def w(ci: Int, j: Int) =
      if (j == k) s"b_$ci" else s"w_${ci}_${names(j)}"
    val prelude =
      s"""feats AS MATERIALIZED (
         |  SELECT ${featsSql.map { case (nm, e) =>
               s"CAST($e AS DOUBLE) AS x_$nm" }.mkString(", ")},
         |    CAST($ySql AS DOUBLE) AS y
         |  FROM $table
         |  WHERE ${(featsSql.map(_._2) :+ ySql)
               .map(e => s"($e) IS NOT NULL").mkString(" AND ")}),
         |nrow AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM feats)""".stripMargin
    val init = (0 until c).flatMap(ci =>
      (0 to k).map(j => s"CAST(0.0 AS DOUBLE) AS ${w(ci, j)}"))
      .mkString(", ")
    // per-iteration: a probability CTE using DuckDB's lateral SELECT
    // aliases (z/e/se computed once per row), then the 1-row update CTE
    val steps = (1 to iterations).map { i =>
      val prev = s"it${i - 1}"
      val zs = (0 until c).map { ci =>
        val dot = (0 until k).map(j =>
          s"$prev.${w(ci, j)} * ${feat(j)}").mkString(" + ")
        s"$dot + $prev.${w(ci, k)} AS z_$ci"
      }
      val es = (0 until c).map(ci => s"EXP(z_$ci) AS e_$ci")
      val se = (0 until c).map(ci => s"e_$ci").mkString(" + ") + " AS se"
      val ps = (0 until c).map(ci =>
        s"e_$ci / se - (CASE WHEN y = $ci THEN 1.0 ELSE 0.0 END) AS r_$ci")
      val pCte =
        s"""p$i AS (
           |  SELECT ${feat.mkString(", ")}, y,
           |    ${(zs ++ es ++ Seq(se) ++ ps).mkString(",\n    ")}
           |  FROM feats CROSS JOIN $prev)""".stripMargin
      val upd = (0 until c).flatMap { ci =>
        (0 to k).map { j =>
          val term = if (j == k) s"r_$ci" else s"(r_$ci) * ${feat(j)}"
          s"ROUND(MIN($prev.${w(ci, j)}) - $lr * (${sqlScaledLongSum(term)} / COUNT(*)" +
            s" + ($lambda * MIN($prev.${w(ci, j)})) / COUNT(*)), 10) AS ${w(ci, j)}"
        }
      }
      s"""$pCte,
         |it$i AS MATERIALIZED (
         |  SELECT ${upd.mkString(",\n  ")}
         |  FROM p$i CROSS JOIN $prev)""".stripMargin
    }
    val last = s"it$iterations"
    // predictions on raw scores; first max (lowest class) wins ties
    val zFin = (0 until c).map { ci =>
      val dot = (0 until k).map(j =>
        s"$last.${w(ci, j)} * ${feat(j)}").mkString(" + ")
      s"$dot + $last.${w(ci, k)} AS z_$ci"
    }
    val predCase = (0 until c).map { ci =>
      val conds = (0 until c).filter(_ != ci)
        .map(cj => s"z_$ci >= z_$cj").mkString(" AND ")
      s"WHEN $conds THEN $ci"
    }.mkString("CASE ", " ", " END")
    val out = (0 until c).map { ci =>
      s"""SELECT $ci AS class,
         |  ${(0 until k).map(j =>
             s"MIN($last.${w(ci, j)}) AS w_${names(j)}").mkString(", ")},
         |  MIN($last.${w(ci, k)}) AS intercept,
         |  CAST(SUM(CASE WHEN y = $ci THEN 1 ELSE 0 END) AS BIGINT) AS support,
         |  CAST(SUM(CASE WHEN pred = $ci THEN 1 ELSE 0 END) AS BIGINT) AS predicted,
         |  (SELECT ROUND(SUM(CASE WHEN pred = y THEN 1 ELSE 0 END) / MIN(nrow.n), 6)
         |   FROM preds CROSS JOIN nrow) AS accuracy
         |FROM preds CROSS JOIN $last""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $prelude,
       |it0 AS (SELECT $init),
       |${steps.mkString(",\n")},
       |preds AS (
       |  SELECT y, ${(0 until c).map(ci => s"z_$ci").mkString(", ")},
       |    $predCase AS pred
       |  FROM (
       |    SELECT ${feat.mkString(", ")}, y,
       |      ${zFin.mkString(",\n      ")}
       |    FROM feats CROSS JOIN $last) zz)
       |SELECT * FROM ($out) u
       |ORDER BY class""".stripMargin
  }
}
