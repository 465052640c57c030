package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.core.Tables._
import graft.operators._
import graft.operators.FilterOps._
import graft.queries.SqlGen._

/** Oracle-verified queries for the relational core: filters (SURVEY §2.2),
  * joins (§2.3), group-by/pivot/stats (§2.4), sort/set/reshape (§2.6). */
object RelationalQueries {

  private def li(s: SparkSession, d: String) = Tables.load(s, d, "lineitem")
  private def ord(s: SparkSession, d: String) = Tables.load(s, d, "orders")
  private def cust(s: SparkSession, d: String) = Tables.load(s, d, "customer")
  private def part(s: SparkSession, d: String) = Tables.load(s, d, "part")
  private def nat(s: SparkSession, d: String) = Tables.load(s, d, "nation")

  val all: Seq[Q] = Seq(

    // ----- §2.2 filters -------------------------------------------------
    Q("filter_continuous",
      (s, d) => FilterOps(li(s, d), Values(Seq(
          FilterContinuous("l_quantity", ContOp.Between, 10, 20),
          FilterContinuous("l_discount", ContOp.Greater, 0.05))))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
                col("l_discount"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_discount
             |FROM lineitem
             |WHERE l_quantity BETWEEN 10 AND 20 AND l_discount > 0.05
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    Q("filter_string",
      (s, d) => FilterOps(part(s, d), Values(Seq(
          FilterString("p_name", StrOp.Contains, "bolt"),
          FilterString("p_name", StrOp.StartsWith, "red"),
          FilterString("p_name", StrOp.EndsWith, "gear"),
          FilterString("p_name", StrOp.Contains, "WIDGET", caseSensitive = false)),
          conjunction = false))
        .select(col("p_partkey"), col("p_name"))
        .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey, p_name FROM part
             |WHERE p_name LIKE '%bolt%' OR p_name LIKE 'red%'
             |   OR p_name LIKE '%gear' OR lower(p_name) LIKE '%widget%'
             |ORDER BY p_partkey""".stripMargin)),

    Q("filter_regex",
      (s, d) => FilterOps(part(s, d), FilterRegex("p_name", "^(red|blue) (bolt|gear)$"))
        .select(col("p_partkey"), col("p_name"))
        .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey, p_name FROM part
             |WHERE regexp_matches(p_name, '^(red|blue) (bolt|gear)$')
             |ORDER BY p_partkey""".stripMargin)),

    Q("filter_discrete_isin",
      (s, d) => FilterOps(ord(s, d),
          FilterDiscrete("o_orderpriority", Seq("1-URGENT", "2-HIGH")))
        .select(col("o_orderkey"), col("o_orderpriority"))
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey, o_orderpriority FROM orders
             |WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
             |ORDER BY o_orderkey""".stripMargin)),

    Q("filter_values_tree", // AND/OR tree with negation (filter.py:200-244)
      (s, d) => FilterOps(li(s, d), Values(Seq(
          Values(Seq(
            FilterContinuous("l_quantity", ContOp.GreaterEqual, 45),
            SameValue("l_returnflag", "A")), conjunction = true),
          Values(Seq(
            FilterContinuous("l_extendedprice", ContOp.Less, 1200),
            SameValue("l_linestatus", "F")), conjunction = true, negate = true)),
          conjunction = false))
        .select(col("l_orderkey"), col("l_linenumber"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      Some("""SELECT l_orderkey, l_linenumber FROM lineitem
             |WHERE (l_quantity >= 45 AND l_returnflag = 'A')
             |   OR (NOT (l_extendedprice < 1200 AND l_linestatus = 'F'))
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    Q("filter_isdefined", // na.drop semantics over possibly-null cols
      (s, d) => FilterOps(ord(s, d), IsDefined(Seq("o_totalprice", "o_orderdate")))
        .agg(count(lit(1)).as("n_defined")),
      Some("""SELECT COUNT(*) AS n_defined FROM orders
             |WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL""".stripMargin)),

    // ----- §2.3 joins ---------------------------------------------------
    Q("join_left_merge", // Merge Data "append columns" + broadcast dim
      (s, d) => MergeOps.mergeLeft(
          ord(s, d), broadcast(cust(s, d).withColumnRenamed("c_custkey", "o_custkey")),
          Seq("o_custkey"))
        .select(col("o_orderkey"), col("c_name"), col("c_mktsegment"),
                col("o_totalprice"))
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey, c_name, c_mktsegment, o_totalprice
             |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
             |ORDER BY o_orderkey""".stripMargin)),

    Q("join_inner_3way", // lineitem ⋈ orders ⋈ customer, dims broadcast
      (s, d) => li(s, d)
        .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust(s, d)), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        // fast grid: price·(1−disc) ≤ ~1.14e5 ≪ 2.25e9
        .agg(grid6(col("l_extendedprice") * (lit(1) - col("l_discount")))
               .as("revenue"),
             count(lit(1)).as("n_lines"))
        .orderBy(col("c_mktsegment")),
      Some(s"""SELECT c_mktsegment,
              |  ${sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue,
              |  COUNT(*) AS n_lines
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    Q("join_full_outer",
      (s, d) => MergeOps.mergeOuter(
          nat(s, d).select(col("n_nationkey").as("k"), col("n_name")),
          cust(s, d).groupBy(col("c_nationkey").as("k"))
            .agg(count(lit(1)).as("n_cust")),
          Seq("k"))
        .select(col("k"), col("n_name"), col("n_cust"))
        .orderBy(col("k")),
      Some("""SELECT COALESCE(n.k, c.k) AS k, n_name, n_cust
             |FROM (SELECT n_nationkey AS k, n_name FROM nation) n
             |FULL OUTER JOIN (SELECT c_nationkey AS k, COUNT(*) AS n_cust
             |                 FROM customer GROUP BY c_nationkey) c USING (k)
             |ORDER BY k""".stripMargin)),

    Q("join_semi", // customers having an urgent order
      (s, d) => MergeOps.semiJoin(
          cust(s, d).withColumnRenamed("c_custkey", "o_custkey"),
          ord(s, d).filter(col("o_orderpriority") === "1-URGENT"),
          Seq("o_custkey"))
        .select(col("o_custkey").as("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey")),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
             |ORDER BY c_custkey""".stripMargin)),

    Q("join_anti", // customers with no urgent order
      (s, d) => MergeOps.antiJoin(
          cust(s, d).withColumnRenamed("c_custkey", "o_custkey"),
          ord(s, d).filter(col("o_orderpriority") === "1-URGENT"),
          Seq("o_custkey"))
        .select(col("o_custkey").as("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey")),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
             |ORDER BY c_custkey""".stripMargin)),

    Q("groupby_cube", // grouping-sets family (SURVEY §2.4 notes cube/
      // rollup come free from Spark — exposed as a first-class op):
      // all four (flag × status) grouping combinations in ONE scan with
      // grouping() flags distinguishing subtotal rows from data NULLs.
      (s, d) => li(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping(col("l_returnflag")).as("g_flag"),
          grouping(col("l_linestatus")).as("g_status"),
          count(lit(1)).as("n"),
          grid6(col("l_quantity")).as("sum_qty")) // qty ≤ 51: fast grid
        .orderBy(col("g_flag"), col("g_status"),
          coalesce(col("l_returnflag"), lit("")),
          coalesce(col("l_linestatus"), lit(""))),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  GROUPING(l_returnflag) AS g_flag,
              |  GROUPING(l_linestatus) AS g_status,
              |  COUNT(*) AS n, ${sqlSum("l_quantity")} AS sum_qty
              |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
              |ORDER BY g_flag, g_status, COALESCE(l_returnflag, ''),
              |         COALESCE(l_linestatus, '')""".stripMargin)),

    Q("upsert_merge", // type-1 upsert (MERGE INTO semantics without a
      // table format): one key-partitioned full outer join of base vs
      // updates, coalesce picks the newer value, a status column keeps
      // the audit trail. With the base bucketed on the key (see
      // Sources.writeBucketed) the base side never reshuffles — the
      // dataset-versioning shape for 100 TB dimension maintenance.
      (s, d) => {
        val base = cust(s, d)
          .select(col("c_custkey"), col("c_acctbal"), lit(1).as("__b"))
        val upd = cust(s, d).filter(pmod(col("c_custkey"), lit(10)) === 0)
          .select(col("c_custkey"),
            (col("c_acctbal") + 100).as("u_acctbal"), lit(1).as("__u"))
          .unionByName(cust(s, d).filter(col("c_custkey") <= 50)
            .select((col("c_custkey") + 1000000).as("c_custkey"),
              col("c_acctbal").as("u_acctbal"), lit(1).as("__u")))
        base.join(upd, Seq("c_custkey"), "full_outer")
          .select(col("c_custkey"),
            round(coalesce(col("u_acctbal"), col("c_acctbal")), 6)
              .as("acctbal"),
            when(col("__b").isNotNull && col("__u").isNotNull, "updated")
              .when(col("__b").isNull, "inserted")
              .otherwise("unchanged").as("status"))
          .orderBy(col("c_custkey"))
      },
      Some("""WITH upd AS (
             |  SELECT c_custkey, c_acctbal + 100 AS u_acctbal
             |  FROM customer WHERE c_custkey % 10 = 0
             |  UNION ALL
             |  SELECT c_custkey + 1000000, c_acctbal
             |  FROM customer WHERE c_custkey <= 50)
             |SELECT COALESCE(b.c_custkey, u.c_custkey) AS c_custkey,
             |  ROUND(COALESCE(u.u_acctbal, b.c_acctbal), 6) AS acctbal,
             |  CASE WHEN b.c_custkey IS NOT NULL AND u.c_custkey IS NOT NULL
             |         THEN 'updated'
             |       WHEN b.c_custkey IS NULL THEN 'inserted'
             |       ELSE 'unchanged' END AS status
             |FROM customer b FULL OUTER JOIN upd u
             |  ON b.c_custkey = u.c_custkey
             |ORDER BY c_custkey""".stripMargin)),

    Q("window_analytics", // the analytic-window family (SURVEY §2.5:
      // absent in the reference, used everywhere as implementation
      // vehicle — exposed here as a user-facing operator): per-customer
      // event sequence with row_number, lag, moving average and running
      // total. Window sums go through DECIMAL so Spark's sequential
      // frame evaluation and DuckDB's segment-tree aggregation agree.
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val dec = col("o_totalprice").cast("decimal(38,6)")
        ord(s, d).filter(col("o_custkey") < 100)
          .select(col("o_custkey"), col("o_orderkey"),
            row_number().over(w).as("seq"),
            lag(col("o_totalprice"), 1).over(w).as("prev_price"),
            round((sum(dec).over(w.rowsBetween(-2, 0)) /
              count(lit(1)).over(w.rowsBetween(-2, 0))).cast("double"), 6)
              .as("ma3"),
            round(sum(dec).over(w.rowsBetween(Window.unboundedPreceding, 0))
              .cast("double"), 6).as("cum_spend"))
          .orderBy(col("o_custkey"), col("seq"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  ROW_NUMBER() OVER w AS seq,
             |  LAG(o_totalprice, 1) OVER w AS prev_price,
             |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
             |    OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             |    / COUNT(*) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS ma3,
             |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
             |    OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6) AS cum_spend
             |FROM orders WHERE o_custkey < 100
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             |ORDER BY o_custkey, seq""".stripMargin)),

    Q("join_salted_skew", // salted shuffle join on a 3-hot-key join
      // (l_returnflag): per-flag means join back onto the fact with an
      // 8-way salt so no single reducer owns a flag. shuffle_hash hint
      // disables the broadcast that would normally (rightly) win at this
      // dim size — the query exercises the genuine skew fallback shape.
      (s, d) => {
        val flagStats = li(s, d).groupBy(col("l_returnflag"))
          .agg(exactMean(col("l_quantity"), grid6).as("flag_mean")) // qty ≤ 51: fast grid
        MergeOps.saltedJoin(
            li(s, d), flagStats.hint("shuffle_hash"),
            Seq("l_returnflag"), saltFrom = col("l_orderkey"), salts = 8)
          .filter(col("l_quantity") > col("flag_mean"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_above"),
            round(first(col("flag_mean")), 6).as("flag_mean"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""WITH fs AS (
              |  SELECT l_returnflag, ${sqlMean("l_quantity")} AS flag_mean
              |  FROM lineitem GROUP BY l_returnflag)
              |SELECT l.l_returnflag, COUNT(*) AS n_above,
              |       ROUND(fs.flag_mean, 6) AS flag_mean
              |FROM lineitem l JOIN fs USING (l_returnflag)
              |WHERE l.l_quantity > fs.flag_mean
              |GROUP BY l.l_returnflag, fs.flag_mean
              |ORDER BY l.l_returnflag""".stripMargin)),

    Q("venn_disjoint_counts", // owvenndiagram.py get_disjoint: distinct-key
      // counts of every inclusion region across 3 sets (parts / parts ever
      // ordered / parts ever returned). One bitmask aggregation — no 2^n
      // set passes, no joins; see MergeOps.vennCounts.
      (s, d) => MergeOps.vennCounts(
        Seq(
          part(s, d).select(col("p_partkey").as("k")),
          li(s, d).select(col("l_partkey").as("k")),
          li(s, d).filter(col("l_returnflag") === "R")
            .select(col("l_partkey").as("k"))),
        "k"),
      Some("""WITH u AS (
             |  SELECT k, CAST(SUM(b) AS BIGINT) AS mask FROM (
             |    SELECT DISTINCT CAST(p_partkey AS VARCHAR) AS k, 1 AS b
             |    FROM part WHERE p_partkey IS NOT NULL
             |    UNION ALL
             |    SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS k, 2 AS b
             |    FROM lineitem WHERE l_partkey IS NOT NULL
             |    UNION ALL
             |    SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS k, 4 AS b
             |    FROM lineitem WHERE l_returnflag = 'R' AND l_partkey IS NOT NULL
             |  ) GROUP BY k)
             |SELECT mask, COUNT(*) AS n FROM u GROUP BY mask ORDER BY mask""".stripMargin)),

    // ----- §2.4 aggregation ---------------------------------------------
    Q("groupby_17agg", // Orange's full GroupBy aggregation set
      (s, d) => GroupByOps.agg17Exact(li(s, d),
          keys = Seq("l_returnflag"), value = "l_quantity",
          concatCol = "l_linestatus",
          // (l_orderkey, l_linenumber) is not unique in the fixture; fold
          // the (integer-valued) quantity into the keys so ties carry the
          // same output value → deterministic.
          orderCol = col("l_orderkey") * 1000 + col("l_linenumber") * 100
            + col("l_quantity"),
          randKey = concat_ws("_", col("l_orderkey"), col("l_linenumber"),
            col("l_quantity").cast("int")))
        .orderBy(col("l_returnflag")),
      Some {
        val v = "l_quantity"
        s"""WITH mode_t AS (
           |  SELECT l_returnflag, $v AS a_mode,
           |         ROW_NUMBER() OVER (PARTITION BY l_returnflag
           |                            ORDER BY COUNT(*) DESC, $v ASC) AS rn
           |  FROM lineitem GROUP BY l_returnflag, $v
           |), base AS (
           |  SELECT l_returnflag,
           |    ${sqlMean(v)} AS a_mean,
           |    ROUND(CAST(quantile_cont($v, 0.5) AS DOUBLE), 6) AS a_median,
           |    ROUND(CAST(quantile_cont($v, 0.25) AS DOUBLE), 6) AS a_q1,
           |    ROUND(CAST(quantile_cont($v, 0.75) AS DOUBLE), 6) AS a_q3,
           |    MIN($v) AS a_min, MAX($v) AS a_max,
           |    ${sqlStdSamp(v)} AS a_std, ${sqlVarSamp(v)} AS a_var,
           |    ${sqlSum(v)} AS a_sum,
           |    STRING_AGG(l_linestatus, '' ORDER BY l_linestatus) AS a_concat,
           |    MAX($v) - MIN($v) AS a_span,
           |    ARG_MIN($v, l_orderkey * 1000 + l_linenumber * 100 + $v) AS a_first,
           |    ARG_MAX($v, l_orderkey * 1000 + l_linenumber * 100 + $v) AS a_last,
           |    ARG_MIN($v, md5(CONCAT(l_orderkey, '_', l_linenumber, '_',
           |                           CAST($v AS INT)))) AS a_rand,
           |    COUNT($v) AS a_count_defined,
           |    COUNT(*) AS a_count,
           |    CAST(COUNT($v) AS DOUBLE) / COUNT(*) AS a_prop_defined
           |  FROM lineitem GROUP BY l_returnflag
           |)
           |SELECT b.*, m.a_mode
           |FROM base b JOIN (SELECT l_returnflag, a_mode FROM mode_t WHERE rn = 1) m
           |USING (l_returnflag)
           |ORDER BY l_returnflag""".stripMargin
      }),

    Q("pivot", // groupBy(row).pivot(col).agg — owpivot.py:55-460
      (s, d) => ReshapeOps.pivot(li(s, d), "l_returnflag", "l_linestatus",
          Seq("F", "O"), grid6(col("l_quantity"))) // qty ≤ 51: fast grid
        .orderBy(col("l_returnflag")),
      Some(s"""SELECT l_returnflag,
              |  ${sqlSum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS "F",
              |  ${sqlSum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS "O"
              |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    Q("pivot_totals", // rollup totals (owpivot.py grand/row totals)
      (s, d) => ReshapeOps.pivotTotals(li(s, d), "l_returnflag", "l_linestatus",
          count(lit(1)), "n")
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT COALESCE(l_returnflag, 'TOTAL') AS l_returnflag,
             |       COALESCE(l_linestatus, 'TOTAL') AS l_linestatus,
             |       COUNT(*) AS n
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Q("rowwise_aggregate", // owaggregatecolumns.py — across-column stats
      (s, d) => li(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          ReshapeOps.RowWise.sumCols(Seq(col("l_tax"), col("l_discount"))).as("rw_sum"),
          ReshapeOps.RowWise.maxCols(Seq(col("l_tax"), col("l_discount"))).as("rw_max"),
          ReshapeOps.RowWise.minCols(Seq(col("l_tax"), col("l_discount"))).as("rw_min"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      Some("""SELECT l_orderkey, l_linenumber,
             |  l_tax + l_discount AS rw_sum,
             |  GREATEST(l_tax, l_discount) AS rw_max,
             |  LEAST(l_tax, l_discount) AS rw_min
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ----- §2.5-ish stats (basic stats / distribution / contingency) ----
    Q("basic_stats",
      (s, d) => graft.functions.StatsOps.basicStats(li(s, d),
          // quantity² ≤ 2601 and discount² ≤ 0.01 ride the grid;
          // extendedprice² ≈ 1.3e10 leaves the 2.25e9 envelope
          Seq("l_quantity" -> grid6, "l_extendedprice" -> exactSum,
            "l_discount" -> grid6)),
      Some {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
        val exprs = cols.flatMap { c => Seq(
          s"MIN($c) AS ${c}_min", s"MAX($c) AS ${c}_max",
          s"${sqlMean(c)} AS ${c}_mean", s"${sqlVarSamp(c)} AS ${c}_var",
          s"COUNT(*) - COUNT($c) AS ${c}_nans", s"COUNT($c) AS ${c}_nonnans")
        }
        s"SELECT ${exprs.mkString(", ")} FROM lineitem"
      }),

    Q("distribution",
      (s, d) => graft.functions.StatsOps.distribution(li(s, d), "l_quantity"),
      Some(s"""SELECT l_quantity, ${sqlSum("1.0")} AS freq
              |FROM lineitem GROUP BY l_quantity ORDER BY l_quantity""".stripMargin)),

    Q("contingency",
      (s, d) => graft.functions.StatsOps.contingency(li(s, d),
          "l_returnflag", "l_linestatus")
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Q("sieve_residuals", // sieve/mosaic display statistics
      // (owsieve.py:45-54): expected-under-independence, Pearson
      // residual, χ² contribution per contingency cell. Marginals via
      // windows over the tiny grouped table, never the fact table.
      (s, d) => graft.functions.StatsOps.sieveResiduals(
        li(s, d).withColumn("qty_bin",
          floor((col("l_quantity") - 1) / 10).cast("int").cast("string")),
        "qty_bin", "l_returnflag"),
      Some("""WITH cont AS (
             |  SELECT CAST(CAST(FLOOR((l_quantity - 1) / 10) AS INT) AS VARCHAR) AS qty_bin,
             |         l_returnflag, COUNT(*) AS n
             |  FROM lineitem GROUP BY 1, 2),
             |w AS (
             |  SELECT qty_bin, l_returnflag, n,
             |    CAST(SUM(n) OVER (PARTITION BY qty_bin) *
             |         SUM(n) OVER (PARTITION BY l_returnflag) AS DOUBLE)
             |      / SUM(n) OVER () AS e
             |  FROM cont)
             |SELECT qty_bin, l_returnflag, n,
             |  ROUND(e, 6) AS expected,
             |  ROUND((n - e) / SQRT(e), 6) AS residual,
             |  ROUND(POW(n - e, 2) / e, 6) AS chisq
             |FROM w ORDER BY qty_bin, l_returnflag""".stripMargin)),

    Q("correlation", // exact-sum Pearson + covariance
      // fast grid for qty/price/qty·price (≤ 5.9e6 ≪ 2.25e9); price²
      // (1.3e10) exceeds the envelope → that one sum stays decimal
      (s, d) => li(s, d).agg(
          exactCorr(col("l_quantity"), col("l_extendedprice"),
            grid6, grid6, xx = grid6).as("corr_qty_price"),
          exactCovarSamp(col("l_quantity"), col("l_extendedprice"),
            grid6, grid6).as("covar_qty_price")),
      Some(s"""SELECT ${sqlCorr("l_quantity", "l_extendedprice")} AS corr_qty_price,
              |  ${sqlCovarSamp("l_quantity", "l_extendedprice")} AS covar_qty_price
              |FROM lineitem""".stripMargin)),

    // ----- §2.6 sort/limit/top-k/sets/reshape ----------------------------
    Q("topk", // orderBy + limit with deterministic tiebreak
      (s, d) => cust(s, d)
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        .limit(10)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")),
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
             |ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 10""".stripMargin)),

    Q("concat_union", // owconcatenate union mode + source indicator
      (s, d) => ReshapeOps.concatUnion(Seq(
          ("building", cust(s, d).filter(col("c_mktsegment") === "BUILDING")
            .select(col("c_custkey"), col("c_name"))),
          ("machinery", cust(s, d).filter(col("c_mktsegment") === "MACHINERY")
            .select(col("c_custkey"), col("c_name")))), Some("source"))
        .orderBy(col("c_custkey")),
      Some("""SELECT c_custkey, c_name, 'building' AS source FROM customer
             |WHERE c_mktsegment = 'BUILDING'
             |UNION ALL
             |SELECT c_custkey, c_name, 'machinery' AS source FROM customer
             |WHERE c_mktsegment = 'MACHINERY'
             |ORDER BY c_custkey""".stripMargin)),

    Q("unique_dedup", // owunique.py: keep first per key by explicit order
      // (l_orderkey, l_linenumber) is NOT unique in the fixture, so the
      // tiebreak must extend to every emitted column to be deterministic.
      (s, d) => ReshapeOps.unique(li(s, d), Seq("l_orderkey"),
          struct(col("l_linenumber"), col("l_quantity"), col("l_extendedprice")),
          ReshapeOps.KeepWhich.First)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM (
             |  SELECT l_orderkey, l_linenumber, l_quantity,
             |         ROW_NUMBER() OVER (PARTITION BY l_orderkey
             |           ORDER BY l_linenumber ASC, l_quantity ASC,
             |                    l_extendedprice ASC) AS rn
             |  FROM lineitem) WHERE rn = 1
             |ORDER BY l_orderkey""".stripMargin)),

    Q("melt", // owmelt.py wide→long over part measure columns
      (s, d) => ReshapeOps.melt(part(s, d), Seq("p_partkey"),
          Seq("p_size", "p_retailprice"))
        .orderBy(col("p_partkey"), col("item")),
      Some("""SELECT p_partkey, item, value FROM (
             |  SELECT p_partkey, 'p_size' AS item, CAST(p_size AS DOUBLE) AS value FROM part
             |  UNION ALL
             |  SELECT p_partkey, 'p_retailprice' AS item, p_retailprice FROM part)
             |WHERE value IS NOT NULL
             |ORDER BY p_partkey, item""".stripMargin)),

    Q("split_explode", // owsplit.py: delimited string → token rows
      (s, d) => ReshapeOps.splitExplode(part(s, d), "p_name", " ")
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("token")),
      Some("""SELECT token, COUNT(*) AS n FROM (
             |  SELECT unnest(string_split(p_name, ' ')) AS token FROM part)
             |GROUP BY token ORDER BY token""".stripMargin)),

    Q("create_class", // owcreateclass.py first-match substring → label
      (s, d) => part(s, d).select(col("p_partkey"),
          ReshapeOps.createClass(col("p_name"),
            Seq("bolt" -> "fastener", "gear" -> "mechanism",
                "widget" -> "gadget")).as("cls"))
        .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey,
             |  CASE WHEN contains(lower(p_name), 'bolt') THEN 'fastener'
             |       WHEN contains(lower(p_name), 'gear') THEN 'mechanism'
             |       WHEN contains(lower(p_name), 'widget') THEN 'gadget'
             |  END AS cls
             |FROM part ORDER BY p_partkey""".stripMargin)),

    Q("time_binning", // TimeVariable binning → date_trunc month
      (s, d) => ord(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n"), grid6(col("o_totalprice")).as("total")) // totalprice ≤ ~6e5: fast grid
        .orderBy(col("month")),
      Some(s"""SELECT date_trunc('month', o_orderdate) AS month,
              |  COUNT(*) AS n, ${sqlSum("o_totalprice")} AS total
              |FROM orders GROUP BY 1 ORDER BY month""".stripMargin)),

    Q("sampling_deterministic", // owdatasampler: fixed-size seeded sample
      // Distributed-deterministic "random" sample: smallest md5 of the key
      // (same trick as GroupByOps.seededRandomValue) — portable & stable.
      (s, d) => ord(s, d)
        .orderBy(md5(col("o_orderkey").cast("string")), col("o_orderkey"))
        .limit(100)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey, o_totalprice FROM (
             |  SELECT o_orderkey, o_totalprice FROM orders
             |  ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey LIMIT 100)
             |ORDER BY o_orderkey""".stripMargin))
  )
}
