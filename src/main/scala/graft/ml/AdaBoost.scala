package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables._
import graft.queries.SqlGen._

/** AdaBoost over depth-1 decision stumps (reference
  * Orange/ensembles/ada_boost.py — sklearn AdaBoostClassifier, discrete
  * SAMME, which for two classes is classic AdaBoost.M1; stump base
  * estimator is sklearn's default depth-limited tree at its smallest).
  *
  * Distributed shape: the per-round sample weights are never
  * materialized — boosting's identity w_i = exp(−y_i·F(x_i)) lets each
  * round score EVERY candidate stump in ONE map-side-combined
  * aggregation (2K+1 deterministic sums over the staged weight
  * expression). R rounds = R scans + 1 final accuracy scan. The model
  * (R stumps + alphas) is driver-side and tiny.
  *
  * Oracle-exactness (same device as [[SGD]]): weighted errors go through
  * the order-independent 12-decimal sum and are rounded to 10 decimals
  * before the argmin, alphas are rounded to 10 decimals, so Spark and
  * the CTE-unrolled DuckDB twin select identical stump sequences.
  */
object AdaBoost {

  /** One candidate stump h(x) = pol · (x ≤ thr ? +1 : −1). */
  final case class Cand(feat: String, thr: Double, pol: Int)

  /** Expand per-feature threshold lists into the ±polarity candidate
    * list in deterministic order (feature order, then threshold, +/−). */
  def candidates(featThrs: Seq[(String, Seq[Double])]): Seq[Cand] =
    for ((f, ts) <- featThrs; t <- ts; p <- Seq(1, -1)) yield Cand(f, t, p)

  private def clampEps(e: Double): Double =
    math.min(math.max(e, 1e-10), 1.0 - 1e-10)

  /** Fit `rounds` stumps; returns one row per round:
    * (round, feat, thr, pol, alpha, err, acc) where acc is the final
    * ensemble's training accuracy (repeated on every row so the output
    * stays a single rectangular table).
    * @param feats feature name → Column (raw scale — stumps are
    *              scale-free, no normalization needed)
    * @param y     label in {−1, +1} */
  def fitStumps(df: DataFrame, feats: Map[String, Column], y: Column,
                cands: Seq[Cand], rounds: Int): DataFrame = {
    val spark = df.sparkSession
    val base = df.select(
      feats.toSeq.sortBy(_._1).map { case (n, c) => c.as(s"x_$n") } :+
        y.cast("double").as("y"): _*).cache()
    def h(c: Cand): Column =
      lit(c.pol.toDouble) *
        when(col(s"x_${c.feat}") <= c.thr, 1.0).otherwise(-1.0)

    // The picked stumps enter every round as a BROADCAST ROW
    // (k_j candidate index + a_j alpha per round slot, −1/0.0 for rounds
    // not yet played) instead of folded literals, so all R rounds and
    // the final accuracy pass reuse ONE physical plan — the same device
    // as SGD.linearGD; literal alphas forced a whole-stage-codegen
    // recompile per round. a_j = 0 terms add exactly 0.0, so F (and the
    // selection trajectory the oracle replays) is bit-identical to the
    // folded form.
    val stSchema = StructType((1 to rounds).flatMap(j => Seq(
      StructField(s"k_$j", IntegerType, nullable = false),
      StructField(s"a_$j", DoubleType, nullable = false))))
    def stDF(picked: Vector[(Int, Double, Double)]) = {
      val padded = picked.map(p => (p._1, p._2)) ++
        Vector.fill(rounds - picked.size)((-1, 0.0))
      spark.createDataFrame(java.util.Arrays.asList(
        Row.fromSeq(padded.flatMap(p => Seq[Any](p._1, p._2)))), stSchema)
    }
    // h of the round-j selection, dispatched on the broadcast k_j
    def hSel(j: Int): Column = cands.zipWithIndex
      .foldLeft(when(lit(false), 0.0)) { case (acc, (c, k)) =>
        acc.when(col(s"k_$j") === k, h(c)) }.otherwise(lit(0.0))
    def fExpr: Column = (1 to rounds).foldLeft(lit(0.0)) {
      case (acc, j) => acc + col(s"a_$j") * hSel(j)
    }

    var picked = Vector.empty[(Int, Double, Double)] // (candIdx, alpha, err)
    def staged = base.crossJoin(broadcast(stDF(picked)))
    val cnts = base.agg(count(lit(1)), count(col("y"))).head()
    val nRows = cnts.getLong(0)
    val yNullFree = cnts.getLong(1) == nRows

    // Primitive-array cache of the CANDIDATE VALUES [h_0..h_{K-1}, y]:
    // the 2K+1-sum round aggregate is the same wide-aggregate shape
    // that collapsed to interpreted eval in SGD.linearGD (the stump
    // h's are ±1 and never null — when(null ≤ thr) takes the otherwise
    // branch). JVM rounds accumulate the identical HALF_UP scaled
    // longs with the identical expression order (F folds all round
    // slots incl. the zero-padded ones; Math.exp is the same JVM exp
    // codegen calls), so the selection trajectory — and the CTE oracle
    // — are bit-unchanged. Rounds outside the scaled envelope (or a
    // nullable y) fall back to the aggregate path.
    val kCand = cands.size
    // Every cached value is ±1 by construction (stump outputs and the
    // {−1,+1} label), so the cache is a packed SIGN bitset — bit set ↔
    // +1.0 — at ⌈(K+1)/64⌉ longs per row instead of K+1 doubles. At the
    // sf10 rehearsal the double form was ~9 GB at 60M rows and spilled
    // MEMORY_AND_DISK; packed it is one long per row. Arithmetic is
    // unchanged bit-for-bit: ±1.0 multiplications become sign flips and
    // w·(1−y·h)/2 is EXACTLY w when the bits differ and +0.0 when equal
    // ((1−(−1))/2 = 1.0 and w·1.0 = w are exact in IEEE754), so every
    // scaled-long sum — and the CTE oracle — sees identical terms.
    // Chunked: one flat Array[Long] per ≤2¹⁶ rows (stride `words`),
    // not one tiny array per row — the per-row form still paid ~32 B
    // of object header per 8 B payload, which at the sf100 rehearsal's
    // 600M rows turned a 4.8 GB bitset into a ~24 GB spilling cache.
    val words = (kCand + 1 + 63) >> 6
    @inline def bit(ch: Array[Long], off: Int, i: Int): Boolean =
      ((ch(off + (i >> 6)) >>> (i & 63)) & 1L) != 0L
    lazy val hArr = {
      val hDf = base.select(cands.map(c => h(c)).zipWithIndex
        .map { case (c, k) => c.as(s"h_$k") } :+ col("y"): _*)
      val kk = kCand; val nw = words
      val chunkRows = 1 << 16
      val r = hDf.rdd.mapPartitions { rows =>
        new Iterator[Array[Long]] {
          def hasNext: Boolean = rows.hasNext
          def next(): Array[Long] = {
            val buf = new Array[Long](chunkRows * nw)
            var n = 0
            while (n < chunkRows && rows.hasNext) {
              val row = rows.next()
              val off = n * nw
              var i = 0
              while (i <= kk) {
                val v = row.getDouble(i)
                if (v == 1.0) buf(off + (i >> 6)) |= 1L << (i & 63)
                else if (v != -1.0) throw new IllegalArgumentException(
                  s"AdaBoost cache expects ±1 values, got $v (is y in {-1,+1}?)")
                i += 1
              }
              n += 1
            }
            if (n == chunkRows) buf
            else java.util.Arrays.copyOf(buf, n * nw)
          }
        }
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    }
    var hArrUsed = false
    // Exact scaled-long accumulation with NO row-count envelope
    // (core.ScaledLongSums, exact at ANY n and correctly rounded like the
    // oracle's sqlScaledLongSum). The old n·B ≤ 8·10⁶ guard silently
    // excluded the sf1 replica and pushed every round onto 7 DECIMAL(38)
    // sums over 6M rows — a 47× cliff for an algorithm that is one scan
    // per round.
    def jvmRoundSums(ks: Array[Int], as: Array[Double]): Array[Double] = {
      hArrUsed = true
      val kk = kCand; val rr = rounds
      val bc = spark.sparkContext.broadcast((ks, as))
      val sums = hArr.mapPartitions { it =>
        val (bks, bas) = bc.value
        val a = new graft.core.ScaledLongSums(kk + 1)
        val nw = (kk + 1 + 63) >> 6
        while (it.hasNext) {
          val ch = it.next(); val m = ch.length / nw
          var ri = 0
          while (ri < m) {
            val off = ri * nw
            val yb = bit(ch, off, kk)
            var f = 0.0; var j = 0
            while (j < rr) {
              val kj = bks(j)
              if (kj >= 0) f += (if (bit(ch, off, kj)) bas(j) else -bas(j))
              j += 1
            }
            val w = Math.exp(if (yb) -f else f)
            val rw = graft.core.ScaledLongSums.scale(w)
            a.addScaled(0, rw)
            // w·(1−y·h_k)/2 is exactly w when y ≠ h_k and +0.0 when
            // equal, so the candidate term reuses the already-rounded rw
            var k = 0
            while (k < kk) {
              if (bit(ch, off, k) != yb) a.addScaled(k + 1, rw)
              k += 1
            }
            ri += 1
          }
        }
        Iterator.single(a)
      }.treeReduce(_ merge _)
      bc.destroy()
      sums.result
    }
    def paddedKA: (Array[Int], Array[Double]) = {
      val ks = Array.fill(rounds)(-1); val as = Array.fill(rounds)(0.0)
      picked.zipWithIndex.foreach { case ((kI, aI, _), i) =>
        ks(i) = kI; as(i) = aI }
      (ks, as)
    }

    for (_ <- 1 to rounds) {
      // Scaled-long gradient sums when provably in envelope (same device
      // as SGD.linearGD — DECIMAL(38) accumulation measured ~0.4 s per
      // sum per 600k rows, and every round aggregates 2K+1 sums): each
      // term is bounded by the weight bound B = exp(Σ|alpha|), so
      // round(t·10¹²) stays an exact double while n·B ≤ 8·10⁶ keeps the
      // long accumulator far from overflow. B is rounded to 6 decimals
      // so both engines' libm exp() agree on the branch; outside the
      // envelope, fall back to the order-independent DECIMAL sum.
      val sumAbs = picked.foldLeft(0.0)((s, p) => s + math.abs(p._2))
      val bnd = math.rint(math.exp(sumAbs) * 1e6) / 1e6
      // per-TERM envelope only: |t|·10¹² must stay an exact double
      // (bnd ≤ 8000 ⇒ t·10¹² < 2⁵³); the accumulators are exact at any
      // row count (BigInteger spill / the oracle's HUGEINT SUM), so n
      // no longer gates the fast path
      val scaledSafe = nRows >= 1 && bnd <= 8000
      val sums: Int => Double =
        if (scaledSafe && yNullFree) {
          val (ks, as) = paddedKA
          val a = jvmRoundSums(ks, as); a(_)
        } else {
          val w = exp(-col("y") * fExpr)
          val aggs = detSum(w).as("wsum") +: cands.zipWithIndex.map {
            case (c, k) =>
              detSum(w * (lit(1.0) - col("y") * h(c)) / 2.0).as(s"e_$k")
          }
          val row = staged.agg(aggs.head, aggs.tail: _*).head()
          row.getDouble(_)
        }
      val wsum = sums(0)
      val errs = cands.indices.map(k =>
        k -> math.rint(sums(k + 1) / wsum * 1e10) / 1e10)
      val (bestK, err) = errs.minBy { case (k, e) => (e, k) }
      val ec = clampEps(err)
      val alpha = math.rint(0.5 * math.log((1.0 - ec) / ec) * 1e10) / 1e10
      picked :+= ((bestK, alpha, err))
    }
    val acc =
      if (hArrUsed && yNullFree) {
        val (ks, as) = paddedKA
        val kk = kCand; val rr = rounds
        val bc = spark.sparkContext.broadcast((ks, as))
        val (c, t) = hArr.mapPartitions { it =>
          val (bks, bas) = bc.value
          var c = 0L; var t = 0L
          val nw = (kk + 1 + 63) >> 6
          while (it.hasNext) {
            val ch = it.next(); val m = ch.length / nw
            var ri = 0
            while (ri < m) {
              val off = ri * nw
              var f = 0.0; var j = 0
              while (j < rr) {
                val kj = bks(j)
                if (kj >= 0) f += (if (bit(ch, off, kj)) bas(j) else -bas(j))
                j += 1
              }
              if ((f > 0) == bit(ch, off, kk)) c += 1
              t += 1
              ri += 1
            }
          }
          Iterator.single((c, t))
        }.treeReduce((a, b) => (a._1 + b._1, a._2 + b._2))
        bc.destroy()
        c.toDouble / t.toDouble
      } else {
        val pred = when(fExpr > 0, 1.0).otherwise(-1.0)
        staged.agg((sum(when(pred === col("y"), 1L).otherwise(0L)) /
          count(lit(1))).as("acc")).head().getDouble(0)
      }
    if (hArrUsed) hArr.unpersist(false)
    base.unpersist()

    val schema = StructType(Seq(
      StructField("round", IntegerType, nullable = false),
      StructField("feat", StringType, nullable = false),
      StructField("thr", DoubleType, nullable = false),
      StructField("pol", IntegerType, nullable = false),
      StructField("alpha", DoubleType, nullable = false),
      StructField("err", DoubleType, nullable = false),
      StructField("acc", DoubleType, nullable = false)))
    val rows = picked.zipWithIndex.map { case ((k, a, e), i) =>
      val c = cands(k)
      Row(i + 1, c.feat, c.thr, c.pol, a, e, math.rint(acc * 1e6) / 1e6)
    }
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }

  /** DuckDB twin of [[fitStumps]]: per round, the candidate errors, the
    * rank-1 argmin, and the alpha live in chained CTEs; later rounds
    * reference earlier selections through CROSS JOINed 1-row CTEs, with
    * each selected stump re-expanded as a CASE over the candidate list. */
  def fitStumpsSql(table: String, featsSql: Map[String, String],
                   ySql: String, cands: Seq[Cand], rounds: Int): String = {
    def hSql(c: Cand): String =
      s"(${c.pol}.0 * (CASE WHEN (${featsSql(c.feat)}) <= ${c.thr} " +
        s"THEN 1.0 ELSE -1.0 END))"
    // h of the round-j selection, dispatched on sel_j.k
    def hSel(j: Int): String =
      cands.indices.map(k => s"WHEN ${k} THEN ${hSql(cands(k))}")
        .mkString(s"(CASE sel_$j.k ", " ", " END)")
    def fSql(upto: Int): String =
      if (upto < 1) "0.0"
      else (1 to upto).map(j => s"sel_$j.alpha * ${hSel(j)}").mkString(" + ")
    def selJoins(upto: Int): String =
      (1 to upto).map(j => s" CROSS JOIN sel_$j").mkString

    // twin of the Spark side's per-round envelope: same weight bound
    // B = ROUND(EXP(Σ|alpha|), 6) (6-decimal rounding makes both
    // engines' libm exp() agree on the branch). Per-TERM bound only —
    // DuckDB's SUM(BIGINT) accumulates in HUGEINT, so like the Spark
    // side's ScaledLongSums the sum is exact at any row count
    def envSql(r: Int): String = {
      // sel_j are 1-row CTEs; MIN() keeps the aggregate context valid
      val sumAbs = if (r <= 1) "0.0"
        else (1 until r).map(j => s"ABS(MIN(sel_$j.alpha))").mkString(" + ")
      s"env_$r AS MATERIALIZED (SELECT COUNT(*) >= 1 AND " +
        s"ROUND(EXP($sumAbs), 6) <= 8000 AS safe " +
        s"FROM $table${selJoins(r - 1)})"
    }
    def gSumSql(t: String, r: Int): String =
      s"(CASE WHEN (SELECT safe FROM env_$r) THEN ${sqlScaledLongSum(t)} " +
        s"ELSE ${sqlDetSum(t)} END)"
    val roundCtes = (1 to rounds).map { r =>
      val w = s"EXP(-($ySql) * (${fSql(r - 1)}))"
      val errCols = cands.zipWithIndex.map { case (c, k) =>
        s"${gSumSql(s"$w * (1.0 - ($ySql) * ${hSql(c)}) / 2.0", r)} AS e_$k"
      }
      val errs =
        s"${envSql(r)},\nerrs_$r AS MATERIALIZED (SELECT ${gSumSql(w, r)} AS wsum, " +
          s"${errCols.mkString(", ")} FROM $table${selJoins(r - 1)})"
      val unp = cands.indices.map(k =>
        s"SELECT $k AS k, ROUND(e_$k / wsum, 10) AS err FROM errs_$r")
        .mkString("unp_" + r + " AS MATERIALIZED (", " UNION ALL ", ")")
      val sel =
        s"""sel_$r AS MATERIALIZED (
           |  SELECT k, err,
           |    ROUND(0.5 * LN((1.0 - LEAST(GREATEST(err, 1e-10), 1.0 - 1e-10))
           |      / LEAST(GREATEST(err, 1e-10), 1.0 - 1e-10)), 10) AS alpha
           |  FROM (SELECT k, err,
           |          ROW_NUMBER() OVER (ORDER BY err ASC, k ASC) AS rn
           |        FROM unp_$r) WHERE rn = 1)""".stripMargin
      s"$errs,\n$unp,\n$sel"
    }
    val accCte =
      s"""acc AS MATERIALIZED (
         |  SELECT ROUND(SUM(CASE WHEN (CASE WHEN (${fSql(rounds)}) > 0
         |    THEN 1.0 ELSE -1.0 END) = ($ySql) THEN 1 ELSE 0 END) * 1.0
         |    / COUNT(*), 6) AS acc
         |  FROM $table${selJoins(rounds)})""".stripMargin
    val outRows = (1 to rounds).map { j =>
      val feat = cands.indices.map(k =>
        s"WHEN $k THEN '${cands(k).feat}'")
        .mkString(s"(CASE sel_$j.k ", " ", " END)")
      val thr = cands.indices.map(k => s"WHEN $k THEN ${cands(k).thr}")
        .mkString(s"(CASE sel_$j.k ", " ", " END)")
      val pol = cands.indices.map(k => s"WHEN $k THEN ${cands(k).pol}")
        .mkString(s"(CASE sel_$j.k ", " ", " END)")
      s"SELECT $j AS round, $feat AS feat, $thr AS thr, " +
        s"CAST($pol AS INT) AS pol, sel_$j.alpha AS alpha, " +
        s"sel_$j.err AS err, acc.acc AS acc FROM sel_$j CROSS JOIN acc"
    }
    s"""WITH ${roundCtes.mkString(",\n")},
       |$accCte
       |${outRows.mkString("\n UNION ALL ")}
       |ORDER BY round""".stripMargin
  }
}
