package graft.preprocess

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables._

/** Preprocessing transforms: discretize / continuize / impute / normalize
  * — reference: Orange/preprocess/discretize.py, continuize.py:11-100,
  * impute.py:14-390, normalize.py:11-110, transformation.py:15-339.
  *
  * Pattern shared by all fitted transforms: a *fit* aggregation computes
  * the parameters (min/max/mean/std/quantiles) as a 1-row DataFrame, and
  * the *apply* step crossJoin(broadcast(params)) + scalar expressions.
  * That keeps the apply side shuffle-free and codegen'd — the right shape
  * for 100 TB (one tiny broadcast instead of a window-over-nothing, which
  * would funnel all rows through one partition).
  */
object PreprocessOps {

  /** Fit one row of named stats and broadcast-attach it. */
  def withStats(df: DataFrame, stats: Seq[Column]): DataFrame =
    df.crossJoin(broadcast(df.agg(stats.head, stats.tail: _*)))

  // --- Discretize (discretize.py) ---------------------------------------

  /** EqualWidth (discretize.py:211): k bins over [min,max] computed from
    * the data. Returns df + `<out>` bin index 0..k-1 (max value folded
    * into the last bin, like Orange). */
  def equalWidth(df: DataFrame, c: String, k: Int, out: String): DataFrame = {
    val fitted = withStats(df, Seq(min(col(c)).as("__mn"), max(col(c)).as("__mx")))
    fitted.withColumn(out,
        least(floor((col(c) - col("__mn")) / ((col("__mx") - col("__mn")) / k)),
              lit(k - 1)).cast("int"))
      .drop("__mn", "__mx")
  }

  /** EqualFreq (discretize.py:181) — deterministic variant via ntile over
    * a total order (value + unique tiebreak). Note: ntile is a global
    * sort; the scale path uses approx quantile thresholds instead
    * (equalFreqApprox). */
  def equalFreqNtile(df: DataFrame, c: String, k: Int, tiebreak: Seq[String],
                     out: String): DataFrame = {
    val ord = (col(c).asc +: tiebreak.map(col(_).asc))
    df.withColumn(out, ntile(k).over(Window.orderBy(ord: _*)) - 1)
  }

  /** Scale path: thresholds from approx quantiles, then a codegen'd
    * width_bucket-style CASE — single pass + broadcast, no global sort. */
  def equalFreqApprox(df: DataFrame, c: String, k: Int, out: String): DataFrame = {
    val qs = df.stat.approxQuantile(c, (1 until k).map(_.toDouble / k).toArray, 1e-4)
    val expr = qs.zipWithIndex.reverse.foldLeft(lit(k - 1)) {
      case (els, (q, i)) => when(col(c) <= q, i).otherwise(els)
    }
    df.withColumn(out, expr.cast("int"))
  }

  /** EqualFreq scale path with an ORACLE-RECOMPUTABLE threshold rule
    * (discretize.py:181 semantics at grid resolution — the same
    * bounded-grid approximation EntropyMDL uses for its candidates):
    * snap values to a `cells`-cell equal-width grid (ONE map-side-
    * combined aggregation), cumulate the ≤`cells`-row histogram on the
    * driver, and take threshold i = the max observed value of the first
    * cell whose cumulative count reaches ⌈i·n/k⌉. Bin assignment is a
    * broadcast-literal CASE chain — no global sort, no
    * single-partition Exchange anywhere (PlanSpec-pinned), and the
    * integer-count threshold rule is reproducible verbatim in SQL,
    * unlike the Greenwald–Khanna sketch of [[equalFreqApprox]]. */
  def equalFreqGrid(df: DataFrame, c: String, k: Int, out: String,
                    cells: Int = 4096): DataFrame = {
    val mm = df.filter(col(c).isNotNull)
      .agg(min(col(c)).as("lo"), max(col(c)).as("hi")).first()
    val lo = mm.getDouble(0); val hi = mm.getDouble(1)
    if (hi == lo) return df.withColumn(out,
      when(col(c).isNotNull, 0).cast("int"))
    val w = (hi - lo) / cells
    val hist = df.filter(col(c).isNotNull)
      .select(least(floor((col(c) - lo) / w), lit(cells - 1L)).as("cell"),
        col(c).as("v"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("nc"), max(col("v")).as("vc"))
      .orderBy(col("cell"))
      .collect() // bounded: ≤ cells rows
    val n = hist.map(_.getLong(1)).sum
    var cum = 0L; var ti = 1
    val thresholds = Array.ofDim[Double](k - 1)
    for (r <- hist if ti < k) {
      cum += r.getLong(1)
      while (ti < k && cum >= (ti * n + k - 1) / k) {
        thresholds(ti - 1) = r.getDouble(2); ti += 1
      }
    }
    val expr = thresholds.zipWithIndex.reverse.foldLeft(lit(k - 1)) {
      case (els, (t, i)) => when(col(c) <= t, i).otherwise(els)
    }
    df.withColumn(out, when(col(c).isNotNull, expr).cast("int"))
  }

  /** DuckDB twin of [[equalFreqGrid]]'s threshold rule + binning. */
  def equalFreqGridSql(table: String, c: String, k: Int,
                       cells: Int = 4096): String = {
    val thrSelects = (1 until k).map { i =>
      s"(SELECT MIN(vc) FROM cum WHERE cumn >= (($i * n + $k - 1) // $k)) AS t$i"
    }.mkString(",\n       ")
    val caseChain = (1 until k).map { i =>
      s"WHEN $c <= t$i THEN ${i - 1}" }.mkString(" ")
    s"""WITH mm AS (
       |  SELECT MIN($c) AS lo, MAX($c) AS hi, COUNT($c) AS n
       |  FROM $table WHERE $c IS NOT NULL),
       |cells_ AS (
       |  SELECT LEAST(FLOOR(($c - lo) / ((hi - lo) / $cells.0)),
       |               ${cells - 1}) AS cell,
       |         COUNT(*) AS nc, MAX($c) AS vc
       |  FROM $table CROSS JOIN mm WHERE $c IS NOT NULL
       |  GROUP BY 1),
       |cum AS (
       |  SELECT cell, vc,
       |    SUM(nc) OVER (ORDER BY cell) AS cumn, MAX(n) OVER () AS n
       |  FROM cells_ CROSS JOIN mm),
       |thr AS (
       |  SELECT $thrSelects
       |  FROM (SELECT MAX(n) AS n FROM cum))
       |SELECT tile, COUNT(*) AS n, MIN($c) AS lo, MAX($c) AS hi
       |FROM (
       |  SELECT $c, CASE WHEN $c IS NULL THEN NULL
       |    $caseChain ELSE ${k - 1} END AS tile
       |  FROM $table CROSS JOIN thr)
       |GROUP BY tile ORDER BY tile""".stripMargin
  }

  /** FixedWidth bins (discretize.py:251): floor(x/width) with given origin. */
  def fixedWidth(c: Column, width: Double, origin: Double = 0d): Column =
    floor((c - origin) / width).cast("long")

  /** FixedTimeWidth (discretize.py:272): truncate timestamps to a unit. */
  def timeBin(c: Column, unit: String): Column = date_trunc(unit, c)

  /** Tumbling numeric-epoch window (also the batch twin of the streaming
    * op): bucket start in epoch seconds. */
  def epochBucket(ts: Column, seconds: Int): Column =
    (floor(unix_timestamp(ts) / seconds) * seconds).cast("long")

  // --- Continuize (continuize.py:11-100) ---------------------------------

  /** One-hot indicators for an enumerated value list (Indicators
    * treatment; transformation.py:100-173). Value list must be known —
    * Orange's discrete variables carry it. */
  def oneHot(df: DataFrame, c: String, values: Seq[String],
             prefix: String): DataFrame =
    values.foldLeft(df) { (d, v) =>
      d.withColumn(s"$prefix$v",
        when(col(c).isNull, null).otherwise(when(col(c) === v, 1).otherwise(0)))
    }

  /** AsOrdinal: value → its index in the dictionary (continuize.py). */
  def asOrdinal(c: Column, values: Seq[String]): Column =
    values.zipWithIndex.reverse.foldLeft(lit(null).cast("int")) {
      case (els, (v, i)) => when(c === v, i).otherwise(els)
    }

  /** The nine DomainContinuizer multinomial treatments
    * (continuize.py:11-100). */
  sealed trait MultinomialTreatment
  object MultinomialTreatment {
    case object Indicators          extends MultinomialTreatment
    case object FirstAsBase         extends MultinomialTreatment
    case object FrequentAsBase      extends MultinomialTreatment
    case object Remove              extends MultinomialTreatment
    case object RemoveMultinomial   extends MultinomialTreatment
    case object ReportError         extends MultinomialTreatment
    case object AsOrdinal           extends MultinomialTreatment
    case object AsNormalizedOrdinal extends MultinomialTreatment
    case object Leave               extends MultinomialTreatment
  }

  /** DomainContinuizer (continuize.py:11-100): rewrites each discrete
    * column per the treatment; continuous / unlisted columns pass
    * through. `vars` = (column, value dictionary in Orange's order).
    * Variables with <2 values are dropped (as in the reference).
    * FrequentAsBase needs the per-variable modus — ONE aggregation scan
    * over all listed variables (the distribution pass the reference
    * does per-variable), tie → lowest value index like np.argmax.
    * Indicator columns are named "var=value" (continuize.py:56). */
  def continuize(df: DataFrame, vars: Seq[(String, Seq[String])],
                 treatment: MultinomialTreatment,
                 zeroBased: Boolean = true): DataFrame = {
    import MultinomialTreatment._
    if (treatment == ReportError)
      require(vars.forall(_._2.size <= 2), "data has multinomial attributes")
    val modus: Map[String, Int] = treatment match {
      case FrequentAsBase =>
        val aggs = vars.flatMap { case (c, vals) =>
          vals.zipWithIndex.map { case (v, i) =>
            sum(when(col(c) === v, 1L).otherwise(0L)).as(s"__cnt_${c}_$i") } }
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        var idx = -1
        vars.map { case (c, vals) =>
          val counts = vals.indices.map { _ =>
            idx += 1; if (row.isNullAt(idx)) 0L else row.getLong(idx) }
          c -> counts.zipWithIndex.maxBy(_._1)._2 // first max = lowest index
        }.toMap
      case _ => Map.empty
    }
    // Indicator (0/1) when zeroBased, Indicator1 (−1/1) otherwise
    // (transformation.py:100-173); missing input stays missing
    def indicator(c: Column, v: String): Column =
      when(c.isNull, lit(null).cast("double"))
        .otherwise(when(c === v, 1.0).otherwise(if (zeroBased) 0.0 else -1.0))
    def colsFor(name: String, vals: Seq[String]): Seq[Column] = {
      val n = vals.size
      if (n < 2 && treatment != Leave) return Seq.empty
      treatment match {
        case Leave  => Seq(col(name))
        case Remove => Seq.empty
        case RemoveMultinomial if n > 2 => Seq.empty
        case AsOrdinal =>
          Seq(asOrdinal(col(name), vals).cast("double").as(name))
        case AsNormalizedOrdinal =>
          val ordv = asOrdinal(col(name), vals).cast("double")
          if (zeroBased) Seq((ordv / (n - 1)).as(name))
          else Seq(((ordv - (n - 1) / 2.0) * 2.0 / (n - 1)).as(name))
        case _ =>
          val base = treatment match {
            case Indicators     => -1
            case FrequentAsBase => modus(name)
            case _              => 0 // FirstAsBase, RemoveMultinomial₂, ReportError
          }
          vals.zipWithIndex.filterNot(_._2 == base).map { case (v, _) =>
            indicator(col(name), v).as(s"$name=$v") }
      }
    }
    val dict = vars.toMap
    val outCols = df.columns.toSeq.flatMap { c =>
      if (dict.contains(c)) colsFor(c, dict(c)) else Seq(col(c)) }
    df.select(outCols: _*)
  }

  // --- "Nice" binning (discretize.py:332-523) -----------------------------

  /** One selected nice binning: full threshold list (incl. both ends),
    * uniform width (None for the unique-values binning) and %g-style
    * bin labels ("< t₁", "t₁ - t₂", …, "≥ tₖ"). */
  final case class NiceBins(thresholds: Seq[Double], width: Option[Double],
                            labels: Seq[String])

  /** C-style %g: 6 significant digits, trailing zeros stripped,
    * scientific notation outside [1e-4, 1e6) — matches numpy's "%g"
    * labels (discretize.py:437). */
  def gFormat(x: Double): String = {
    if (x == 0.0) return "0"
    val s = f"$x%.6g"
    val cleaned =
      if (s.contains('e') || s.contains('E')) {
        val Array(m, e) = s.split("[eE]")
        val m2 = if (m.contains('.')) m.reverse.dropWhile(_ == '0')
          .dropWhile(_ == '.').reverse else m
        val eInt = e.toInt
        s"${m2}e${if (eInt < 0) "-" else "+"}${f"${math.abs(eInt)}%02d"}"
      } else if (s.contains('.'))
        s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
      else s
    cleaned
  }

  private def round15(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(15, java.math.RoundingMode.HALF_EVEN).doubleValue()

  /** All candidate decimal binnings (discretize.py:433-523): widths are
    * `factor / 10^-floor(log10(max-min))`, ends snapped outward to the
    * width grid, candidates with `minBins ≤ nbins ≤ min(maxBins, #unique)`.
    * Returns (width, thresholds) in factor order. */
  def decimalBinnings(mn: Double, mx: Double, nUnique: Long,
                      minBins: Int = 2, maxBins: Int = 50)
      : Seq[(Double, Seq[Double])] = {
    val factors = Seq(0.01, 0.02, 0.025, 0.05, 0.1, 0.2, 0.25, 0.5,
      1.0, 2.0, 5.0, 10.0, 20.0)
    val diff = mx - mn
    if (diff <= 0) return Seq.empty
    val f10 = math.pow(10, -math.floor(math.log10(diff)))
    val mb = math.min(maxBins.toLong, nUnique)
    factors.flatMap { f =>
      val width = f / f10
      val mnW = math.floor(mn / width) * width
      val mxW = math.ceil(mx / width) * width
      val nb = math.round((mxW - mnW) / width)
      if (nb >= minBins && nb <= mb)
        Some((width, (0L to nb).map(i => round15(mnW + width * i))))
      else None
    }
  }

  /** Binning discretizer (discretize.py:332-389): fit min/max/#unique in
    * ONE aggregation, choose the nice binning whose bin count is closest
    * to `n` (tie → more bins; candidates need ≥3 bins unless n=2; ≤5
    * unique values → one bin per value), append `out` = bin index
    * (values at a threshold fall upward, matching np.digitize). */
  def niceBinning(df: DataFrame, c: String, n: Int = 4,
                  out: String = "bin"): (NiceBins, DataFrame) = {
    val v = col(c)
    val stat = df.filter(v.isNotNull)
      .agg(min(v).cast("double").as("mn"), max(v).cast("double").as("mx"),
        countDistinct(v).as("nu")).head()
    val (mn, mx, nu) = (stat.getDouble(0), stat.getDouble(1), stat.getLong(2))
    val chosen: NiceBins =
      if (nu <= 5) {
        // one bin per distinct value (_unique_thresholds, discretize.py:672)
        val uniq = df.filter(v.isNotNull).select(v.cast("double"))
          .distinct().orderBy(v.cast("double"))
          .collect().map(_.getDouble(0)).toSeq
        val lastB = if (uniq.size >= 2) 2 * uniq.last - uniq(uniq.size - 2)
                    else uniq.head + 1
        NiceBins(uniq :+ lastB, None, (uniq :+ lastB).map(gFormat))
      } else {
        val cands = decimalBinnings(mn, mx, nu)
        val eligible = cands.filter(_._2.size - 1 >= (if (n == 2) 2 else 3))
        val sel =
          if (eligible.nonEmpty)
            eligible.minBy { case (_, ts) =>
              (math.abs(n - (ts.size - 1)), -(ts.size - 1)) }
          else cands.last
        NiceBins(sel._2, Some(sel._1), sel._2.map(gFormat))
      }
    val inner = chosen.thresholds.drop(1).dropRight(1)
    val bin = inner.foldLeft(lit(0)) { (acc, t) =>
      acc + when(v >= t, 1).otherwise(0) }
    val labels = if (inner.isEmpty) Seq("all") else {
      val ls = inner.map(gFormat)
      (s"< ${ls.head}" +: ls.zip(ls.tail).map { case (a, b) => s"$a - $b" }) :+
        s"≥ ${ls.last}"
    }
    (chosen.copy(labels = labels),
      df.withColumn(out, when(v.isNull, null).otherwise(bin)))
  }

  /** Candidate time binnings (discretize.py:523-635 time_binnings): the
    * calendar width ladder (1/5/10/15/30 s and min; 1/2/3/6/12 h; 1 day;
    * 1/2 weeks; 1/2/3/6 months; 1/2/5/10/25/50/100 years). The start is
    * snapped down to the width grid (weeks snap to Monday), thresholds
    * walk the calendar in UTC until past the max, and candidates keeping
    * 2..50 bins survive (consecutive same-bin-count widths dedup'd, as
    * in the reference). Returns (width label, thresholds as epoch
    * seconds, labels). */
  def timeBinnings(mnEpoch: Long, mxEpoch: Long, minBins: Int = 2,
                   maxBins: Int = 50): Seq[(String, Seq[Long], Seq[String])] = {
    import java.time._
    import java.time.format.DateTimeFormatter
    val utc = ZoneOffset.UTC
    val mn = Instant.ofEpochSecond(mnEpoch).atZone(utc)
    val mx = Instant.ofEpochSecond(mxEpoch).atZone(utc)
    val minPts = minBins + 1
    val maxPts = maxBins + 1
    def fmt(p: String) = DateTimeFormatter.ofPattern(p)
        .withZone(utc).withLocale(java.util.Locale.US)
    // (place, step, label format, unit); place mirrors the reference's
    // struct_time index: 5=sec 4=min 3=hour 2=day 1=month 0=year
    val ladder: Seq[(Int, Int, DateTimeFormatter, String)] =
      Seq(1, 5, 10, 15, 30).map(x => (5, x, fmt("HH:mm:ss"), "second")) ++
      Seq(1, 5, 10, 15, 30).map(x => (4, x, fmt("MMM dd HH:mm"), "minute")) ++
      Seq(1, 2, 3, 6, 12).map(x => (3, x, fmt("yy MMM dd HH:mm"), "hour")) ++
      Seq((2, 1, fmt("yy MMM dd"), "day")) ++
      Seq(7, 14).map(x => (2, x, fmt("yy MMM dd"), "week")) ++
      Seq(1, 2, 3, 6).map(x => (1, x, fmt("yy MMM"), "month")) ++
      Seq(1, 2, 5, 10, 25, 50, 100).map(x => (0, x, fmt("yyyy"), "year"))
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, Seq[Long], Seq[String])]
    for ((place, step, f, unit) <- ladder) {
      // snap the start down to the step grid at `place`, zero below
      var cur: ZonedDateTime = place match {
        case 5 => mn.withSecond(mn.getSecond / step * step).withNano(0)
        case 4 => mn.withMinute(mn.getMinute / step * step)
          .withSecond(0).withNano(0)
        case 3 => mn.withHour(mn.getHour / step * step)
          .withMinute(0).withSecond(0).withNano(0)
        case 2 if step % 7 == 0 => // weeks snap back to Monday
          mn.toLocalDate.minusDays(mn.getDayOfWeek.getValue - 1)
            .atStartOfDay(utc)
        case 2 => mn.toLocalDate.atStartOfDay(utc)
        case 1 => mn.withMonth((mn.getMonthValue - 1) / step * step + 1)
          .withDayOfMonth(1).truncatedTo(temporal.ChronoUnit.DAYS)
        case 0 => LocalDate.of(mn.getYear / step * step, 1, 1)
          .atStartOfDay(utc)
      }
      def bump(t: ZonedDateTime): ZonedDateTime = place match {
        case 5 => t.plusSeconds(step)
        case 4 => t.plusMinutes(step)
        case 3 => t.plusHours(step)
        case 2 => t.plusDays(step)
        case 1 => t.plusMonths(step)
        case 0 => t.plusYears(step)
      }
      // the reference walks until STRICTLY past the max truncated at
      // `place` (fields below zeroed) — an exact-boundary max still gets
      // a containing bin (discretize.py:612-628)
      val truncEnd: ZonedDateTime = place match {
        case 5 => mx.withNano(0)
        case 4 => mx.withSecond(0).withNano(0)
        case 3 => mx.withMinute(0).withSecond(0).withNano(0)
        case 2 => mx.toLocalDate.atStartOfDay(utc)
        case 1 => mx.toLocalDate.withDayOfMonth(1).atStartOfDay(utc)
        case 0 => LocalDate.of(mx.getYear, 1, 1).atStartOfDay(utc)
      }
      val pts = scala.collection.mutable.ArrayBuffer(cur)
      var ok = false
      var i = 0
      while (!ok && i < maxPts - 1) {
        cur = bump(cur); pts += cur; i += 1
        if (cur.isAfter(truncEnd)) ok = true
      }
      // the walk must clear the max within maxPts and span >= minPts
      if (ok && pts.size >= minPts) {
        val nbins = pts.size - 1
        if (out.isEmpty || out.last._2.size - 1 != nbins) {
          val widthLabel =
            if (unit == "week") s"${step / 7} week${if (step > 7) "s" else ""}"
            else s"$step $unit${if (step > 1) "s" else ""}"
          out += ((widthLabel, pts.map(_.toEpochSecond).toSeq,
            pts.map(p => f.format(p)).toSeq))
        }
      }
    }
    out.toSeq
  }

  /** Time Binning discretizer (discretize.py:332-389 over time_binnings):
    * same selection rule as [[niceBinning]] — bin count closest to `n`,
    * tie → more bins, candidates need ≥3 bins unless n=2. Appends `out`
    * = bin index over the timestamp column; returns the chosen width
    * label + thresholds (epoch seconds). */
  def niceTimeBinning(df: DataFrame, c: String, n: Int = 4,
                      out: String = "bin")
      : (String, Seq[Long], DataFrame) = {
    val v = unix_timestamp(col(c))
    val stat = df.filter(col(c).isNotNull)
      .agg(min(v).as("mn"), max(v).as("mx"), countDistinct(v).as("nu")).head()
    if (stat.getLong(2) <= 5) { // one bin per distinct time (_unique_time_bins)
      val uniq = df.filter(col(c).isNotNull).select(v.as("__t"))
        .distinct().orderBy(col("__t")).collect().map(_.getLong(0)).toSeq
      val lastB = if (uniq.size >= 2) 2 * uniq.last - uniq(uniq.size - 2)
                  else uniq.head + 1
      val ts = uniq :+ lastB
      val inner = ts.drop(1).dropRight(1)
      val bin = inner.foldLeft(lit(0)) { (acc, t) =>
        acc + when(v >= t, 1).otherwise(0) }
      return ("unique", ts,
        df.withColumn(out, when(col(c).isNull, null).otherwise(bin)))
    }
    val cands = timeBinnings(stat.getLong(0), stat.getLong(1))
    require(cands.nonEmpty, s"no time binning fits $c")
    val eligible = cands.filter(_._2.size - 1 >= (if (n == 2) 2 else 3))
    val sel =
      if (eligible.nonEmpty)
        eligible.minBy { case (_, ts, _) =>
          (math.abs(n - (ts.size - 1)), -(ts.size - 1)) }
      else cands.last
    val inner = sel._2.drop(1).dropRight(1)
    val bin = inner.foldLeft(lit(0)) { (acc, t) =>
      acc + when(v >= t, 1).otherwise(0) }
    (sel._1, sel._2,
      df.withColumn(out, when(col(c).isNull, null).otherwise(bin)))
  }

  // --- Impute (impute.py) -------------------------------------------------

  /** ReplaceUnknowns with the column mean (impute.py:96): fit + broadcast
    * + coalesce. */
  def imputeMean(df: DataFrame, c: String, out: String): DataFrame =
    withStats(df, Seq(exactMean(col(c), grid6).as("__mean")))
      .withColumn(out, coalesce(col(c), col("__mean")))
      .drop("__mean")

  /** ReplaceUnknowns with a constant (impute.py:131-174). */
  def imputeConst(c: Column, v: Any): Column = coalesce(c, lit(v))

  /** AsValue (impute.py:285-324): unknown → distinct token + indicator. */
  def imputeAsValue(df: DataFrame, c: String, token: String = "N/A"): DataFrame =
    df.withColumn(s"${c}_defined", col(c).isNotNull.cast("int"))
      .withColumn(c, coalesce(col(c).cast("string"), lit(token)))

  /** Model-based imputation (impute.py:176-260): a learner predicts the
    * missing value from other columns; here the fitted model is the
    * per-group conditional mean (Orange's default tree/majority learners
    * reduce to exactly this for a single discrete predictor). Broadcast
    * join of the tiny fitted table + coalesce — no shuffle of the fact
    * side at scale. */
  def imputeModelGroupMean(df: DataFrame, c: String, by: String,
                           out: String): DataFrame = {
    val fitted = df.groupBy(col(by))
      .agg(exactMean(col(c), grid6).as("__pred"))
    df.join(broadcast(fitted), Seq(by), "left")
      .withColumn(out, coalesce(col(c), col("__pred")))
      .drop("__pred")
  }

  /** Random imputation (impute.py:325-390): missing values drawn from the
    * column's empirical distribution — seeded inverse-CDF: u =
    * hash32(key)/2³², pick the ⌈u·n⌉-th defined value in sorted order.
    *
    * The CDF index is the two-pass distributed rank (RankOps shape): a
    * global `row_number().over(Window.orderBy(...))` would funnel every
    * defined value through ONE task — the canonical single-partition
    * scale killer. Instead: range-partition the defined values by
    * (value, key), roll per-partition counts into broadcast offsets (a
    * tiny #partitions-row window), and run the within-partition
    * row_number keyed by partition id. The (off + local) index equals the
    * global row_number bit-for-bit because (value, key) is a unique total
    * order. The pick-index equi-join is left to AQE: broadcast at
    * fixture scale, shuffle-hash when the CDF table is big. */
  def imputeRandom(df: DataFrame, c: String, key: Column,
                   out: String, parts: Int = 32): DataFrame = {
    val defined = df.filter(col(c).isNotNull)
      .select(col(c).as("__dv"), key.as("__dk"))
    val indexed = graft.functions.RankOps
      .rowNumber(defined, Seq(col("__dv"), col("__dk")), "__idx", parts)
      .select(col("__idx"), col("__dv"))
    // nDef is one driver scalar (the accepted tiny-aggregate pattern) —
    // inlining it keeps a global-agg SinglePartition exchange out of the
    // plan
    val nDef = defined.count()
    val u = (hashVal32(concat(lit("imp_"), key)) + 0.5) / 4294967296.0
    df.withColumn("__pick",
        when(col(c).isNull, floor(u * lit(nDef.toDouble)).cast("long") + 1))
      .join(indexed, col("__pick") === col("__idx"), "left")
      .withColumn(out, coalesce(col(c), col("__dv")))
      .drop("__pick", "__idx", "__dv")
  }

  // --- Normalize / Scale (normalize.py, preprocess.py:261-356,467-545) ---

  /** Z-score standardization (center by mean, scale by sample SD). */
  def normalizeBySD(df: DataFrame, c: String, out: String,
                    center: Boolean = true): DataFrame = {
    // long grid: normalize callers feed acctbal-scale columns
    // (acctbal² ≈ 1.2e8 ≪ the 2.25e9 envelope)
    val fitted = withStats(df,
      Seq(exactMean(col(c), grid6).as("__m"),
        exactStdSamp(col(c), grid6, grid6).as("__s")))
    val centered = if (center) col(c) - col("__m") else col(c)
    fitted.withColumn(out, centered / col("__s")).drop("__m", "__s")
  }

  /** Span normalization to [0,1] (zero-based option → x/max). */
  def normalizeBySpan(df: DataFrame, c: String, out: String,
                      zeroBased: Boolean = false): DataFrame = {
    val fitted = withStats(df, Seq(min(col(c)).as("__mn"), max(col(c)).as("__mx")))
    val e = if (zeroBased) col(c) / col("__mx")
            else (col(c) - col("__mn")) / (col("__mx") - col("__mn"))
    fitted.withColumn(out, e).drop("__mn", "__mx")
  }

  /** Smoothed mean target encoding (beyond-reference feature-eng op —
    * the micci-barreca KDD'01 empirical-Bayes form every large tabular
    * pipeline uses for high-cardinality categoricals):
    *
    *   enc(cat) = (Σ_cat y + m · ȳ) / (n_cat + m)
    *
    * One groupBy over the fact table produces the per-category sums; the
    * tiny encoding map broadcast-joins back — no second fact shuffle.
    * Sums go through the checked long grid (bit-identical to the
    * DECIMAL sums for |y| ≪ 2.25e9) so the encoding is deterministic
    * and oracle-comparable at any scale. */
  def targetEncodeSmoothed(df: DataFrame, cat: String, y: String,
                           out: String, m: Double = 10.0): DataFrame = {
    val global = df.agg(grid6(col(y)).as("__gs"),
      count(col(y)).as("__gn"))
    val perCat = df.groupBy(col(cat))
      .agg(grid6(col(y)).as("__cs"), count(col(y)).as("__cn"))
      .crossJoin(broadcast(global))
      .select(col(cat),
        round((col("__cs") + lit(m) * (col("__gs") / col("__gn"))) /
          (col("__cn") + lit(m)), 6).as(out))
    df.join(broadcast(perCat), Seq(cat), "left")
  }
}
