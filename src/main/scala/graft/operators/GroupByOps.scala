package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.core.Tables._

/** Orange's GroupBy aggregation set (reference:
  * Orange/widgets/data/owgroupby.py:99-183 — 17 named aggregations) as
  * composable Spark aggregate Columns, plus the group-by driver.
  *
  * Two flavors per statistic where it matters:
  *   - `*Exact`  : bit-deterministic (decimal sums / exact percentile /
  *                 subquery mode) — used for oracle-verified queries.
  *   - `*Approx` : the 100 TB path (percentile_approx, native mode) —
  *                 single-pass sketches, no exact sort.
  *
  * All of these are plain aggregate expressions → Spark plans them as
  * partial (map-side) + final aggregation: one shuffle keyed on the group
  * columns, which is the minimum possible. Mode/first/last need value
  * ordering and are computed with arg-min/max or a count-then-rank
  * sub-aggregation (still shuffle-on-group-key only).
  */
object GroupByOps {

  // --- the 17 aggregations (owgroupby.py:99-183) -------------------------

  // *Exact moments ride the checked long grid (Tables.gridSum)
  def meanExact(c: Column): Column          = exactMean(c, grid6)
  def medianExact(c: Column): Column        = round(percentile(c, lit(0.5)), 6)
  def q1Exact(c: Column): Column            = round(percentile(c, lit(0.25)), 6)
  def q3Exact(c: Column): Column            = round(percentile(c, lit(0.75)), 6)
  def minAgg(c: Column): Column             = min(c)
  def maxAgg(c: Column): Column             = max(c)
  def stdExact(c: Column): Column           = exactStdSamp(c, grid6, grid6)
  def varExact(c: Column): Column           = exactVarSamp(c, grid6, grid6)
  def sumExact(c: Column): Column           = grid6(c)
  def spanExact(c: Column): Column          = max(c) - min(c)
  def countDefined(c: Column): Column       = count(c)
  def countAll(): Column                    = count(lit(1))
  def proportionDefined(c: Column): Column  = count(c).cast(DoubleType) / count(lit(1))

  /** Concatenate string values, sorted for determinism (Orange keeps row
    * order, which has no distributed meaning). Unbounded output per group
    * — documented limitation at scale, same as Orange's. */
  def concatenate(c: Column, sep: String = ""): Column =
    concat_ws(sep, array_sort(collect_list(c)))

  /** First/Last by an explicit (unique) ordering column — Orange's row
    * order doesn't exist on a distributed table, so the caller supplies
    * the order key. min_by/max_by = single-pass, no sort. */
  def firstBy(c: Column, ord: Column): Column = min_by(c, ord)
  def lastBy(c: Column, ord: Column): Column  = max_by(c, ord)

  /** "Random value" with a fixed seed: the value whose md5(key) is
    * smallest — deterministic, uniform-ish, single-pass. */
  def seededRandomValue(c: Column, key: Column): Column = min_by(c, md5(key))

  /** Deterministic mode: most frequent value of `valueCol` per group, ties
    * broken by smallest value. Needs a count sub-aggregation: groupBy
    * (keys, value) → count, then rank within keys. Both aggregations
    * shuffle on (subset of) the same keys; AQE coalesces partitions. */
  def modeExact(df: DataFrame, keys: Seq[String], valueCol: String,
                outName: String): DataFrame = {
    val counts = df.groupBy((keys :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__cnt").desc, col(valueCol).asc)
    counts.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select((keys.map(col) :+ col(valueCol).as(outName)): _*)
  }

  /** The full 17-aggregation demo over one value column, oracle-exact.
    * Output column names are stable lowercase (driver compares by name). */
  def agg17Exact(df: DataFrame, keys: Seq[String], value: String,
                 concatCol: String, orderCol: Column, randKey: Column): DataFrame = {
    val v = col(value)
    val base = df.groupBy(keys.map(col): _*).agg(
      meanExact(v).as("a_mean"),
      medianExact(v).as("a_median"),
      q1Exact(v).as("a_q1"),
      q3Exact(v).as("a_q3"),
      minAgg(v).as("a_min"),
      maxAgg(v).as("a_max"),
      stdExact(v).as("a_std"),
      varExact(v).as("a_var"),
      sumExact(v).as("a_sum"),
      concatenate(col(concatCol)).as("a_concat"),
      spanExact(v).as("a_span"),
      firstBy(v, orderCol).as("a_first"),
      lastBy(v, orderCol).as("a_last"),
      seededRandomValue(v, randKey).as("a_rand"),
      countDefined(v).as("a_count_defined"),
      countAll().as("a_count"),
      proportionDefined(v).as("a_prop_defined"))
    val m = modeExact(df, keys, value, "a_mode")
    base.join(m, keys)
  }
}
