package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verified operator query: a Spark builder + (optionally) the
  * equivalent ANSI SQL for the DuckDB oracle. Column aliases MUST match
  * between the two — the driver sorts columns by name before hashing. */
final case class Q(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** SQL-text twins of graft.core.Tables' deterministic aggregates, used to
  * generate oracle SQL that is bit-identical to the Spark plan's output. */
object SqlGen {
  def sqlSum(x: String): String =
    s"CAST(SUM(CAST(($x) AS DECIMAL(38,6))) AS DOUBLE)"
  def sqlMean(x: String): String = s"${sqlSum(x)} / COUNT($x)"
  /** (Σx² − (Σx)²/n) / (n−1) — matches Tables.exactVarSamp. */
  def sqlVarSamp(x: String): String =
    s"(${sqlSum(s"($x)*($x)")} - ${sqlSum(x)} * ${sqlSum(x)} / COUNT($x)) / (COUNT($x) - 1)"
  def sqlStdSamp(x: String): String = s"SQRT(${sqlVarSamp(x)})"
  def sqlCorr(x: String, y: String): String = {
    val n = s"CAST(COUNT(${x}) AS DOUBLE)"
    val sx = sqlSum(x); val sy = sqlSum(y)
    val sxx = sqlSum(s"($x)*($x)"); val syy = sqlSum(s"($y)*($y)")
    val sxy = sqlSum(s"($x)*($y)")
    s"($n * $sxy - $sx * $sy) / (SQRT($n * $sxx - $sx * $sx) * SQRT($n * $syy - $sy * $sy))"
  }
  def sqlCovarSamp(x: String, y: String): String = {
    val n = s"CAST(COUNT(${x}) AS DOUBLE)"
    s"(${sqlSum(s"($x)*($y)")} - ${sqlSum(x)} * ${sqlSum(y)} / $n) / ($n - 1)"
  }
  /** Twin of Tables.detSum(term, scale): order-independent sum of derived
    * doubles (scale 12 by default, coarser for big terms). */
  def sqlDetSum(term: String, scale: Int = 12): String =
    s"CAST(SUM(CAST(ROUND($term, $scale) AS DECIMAL(38,${scale + 2}))) AS DOUBLE)"
  /** Twin of Tables.scaledLongSum and core.ScaledLongSums: the exact
    * HUGEINT sum of the scaled longs, correctly rounded to DOUBLE, then
    * the grid division. The VARCHAR step is the correct rounding: DuckDB's
    * direct HUGEINT→DOUBLE cast rounds twice (it can miss by 1 ulp for
    * negative sums past 2⁵⁴ and for any sum past 2⁶⁴), while the decimal
    * string parses correctly rounded, like Spark's DECIMAL→DOUBLE and
    * Java's BigInteger.doubleValue. A BIGINT cast of the sum would
    * overflow past 2⁶³. */
  def sqlScaledLongSum(t: String): String =
    s"(CAST(CAST(SUM(CAST(ROUND(($t) * 1e12, 0) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 1e12)"
  /** 32-bit int from first 8 hex chars of md5 — twin of Tables.hashVal32. */
  def sqlHash32(s: String): String =
    (1 to 8).map { i =>
      s"(instr('0123456789abcdef', substring(md5($s), $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}"
    }.mkString("(", " + ", ")")
}

/** Pure-SQL XXH64 (seed 42) prelude for the DuckDB oracle, bit-equal to
  * Spark's catalyst XXH64 over UTF-8 string bytes (differentially pinned
  * against graft.XxProbe ground truth by tools/test_xxh64_macro.py).
  * Prepending this to an oracle query lets DuckDB replay
  * `pmod(xxhash64(col), 2^32)` via `xg_h32(col)` with no UDF registration:
  * HUGEINT (int128) arithmetic mod 2^64, 64x64 multiplies split into 32-bit
  * halves, stripe/word/byte phases staged through derived-table bindings to
  * stay under DuckDB's macro-recursion cap. */
object Xxh64Sql {
  val prelude: String = """CREATE OR REPLACE MACRO xg_m64(a, b) AS
  ((a::HUGEINT % 4294967296) * (b::HUGEINT % 4294967296)
   + ((((a::HUGEINT % 4294967296) * (b::HUGEINT // 4294967296)
        + (a::HUGEINT // 4294967296) * (b::HUGEINT % 4294967296)) % 4294967296)
      * 4294967296))
  % 18446744073709551616;
CREATE OR REPLACE MACRO xg_rot(x, p, q) AS
  (x::HUGEINT * p::HUGEINT) % 18446744073709551616 + x::HUGEINT // q::HUGEINT;
CREATE OR REPLACE MACRO xg_rnd(acc, x) AS
  xg_m64(xg_rot((acc::HUGEINT + xg_m64(x, 14029467366897019727))
                  % 18446744073709551616,
                2147483648, 8589934592),
         11400714785074694791);
CREATE OR REPLACE MACRO xg_mrg(h, v) AS
  (xg_m64(xor(h::HUGEINT, xg_rnd(0, v)::HUGEINT), 11400714785074694791)
   + 9650029242287828579)
  % 18446744073709551616;
CREATE OR REPLACE MACRO xg_hexv(c) AS strpos('123456789ABCDEF', c::VARCHAR)::HUGEINT;
CREATE OR REPLACE MACRO xg_bytes(s) AS
  (SELECT [16 * xg_hexv(substr(hx, 2 * i - 1, 1)) + xg_hexv(substr(hx, 2 * i, 1))
           for i in range(1, octet_length(encode(s::VARCHAR)) + 1)]
   FROM (SELECT hex(encode(s::VARCHAR)) AS hx));
CREATE OR REPLACE MACRO xg_lane8(b, o) AS
  b[o+1]::HUGEINT + 256*b[o+2]::HUGEINT + 65536*b[o+3]::HUGEINT
  + 16777216*b[o+4]::HUGEINT + 4294967296*b[o+5]::HUGEINT
  + 1099511627776*b[o+6]::HUGEINT + 281474976710656*b[o+7]::HUGEINT
  + 72057594037927936*b[o+8]::HUGEINT;
CREATE OR REPLACE MACRO xg_lane4(b, o) AS
  b[o+1]::HUGEINT + 256*b[o+2]::HUGEINT + 65536*b[o+3]::HUGEINT
  + 16777216*b[o+4]::HUGEINT;
CREATE OR REPLACE MACRO xg_sb(n) AS
  CASE WHEN n::BIGINT >= 32 THEN (n::BIGINT // 32) * 32 ELSE 0 END;
CREATE OR REPLACE MACRO xg_h1(b, n, seed) AS
  (CASE WHEN n::BIGINT >= 32 THEN
    (SELECT xg_mrg(xg_mrg(xg_mrg(xg_mrg(
        (xg_rot(st[1]::HUGEINT, 2, 9223372036854775808)
         + xg_rot(st[2]::HUGEINT, 128, 144115188075855872)
         + xg_rot(st[3]::HUGEINT, 4096, 4503599627370496)
         + xg_rot(st[4]::HUGEINT, 262144, 70368744177664))
          % 18446744073709551616,
        st[1]::HUGEINT), st[2]::HUGEINT), st[3]::HUGEINT), st[4]::HUGEINT)
     FROM (SELECT list_reduce(
        list_prepend(
          [(seed::HUGEINT + 6983438078262162902) % 18446744073709551616,
           (seed::HUGEINT + 14029467366897019727) % 18446744073709551616,
           seed::HUGEINT % 18446744073709551616,
           (seed::HUGEINT + 7046029288634856825) % 18446744073709551616],
          [[xg_lane8(b, 32*k), xg_lane8(b, 32*k + 8),
            xg_lane8(b, 32*k + 16), xg_lane8(b, 32*k + 24)]
           for k in range(0, n::BIGINT // 32)]),
        (acc, x) -> [xg_rnd(acc[1]::HUGEINT, x[1]::HUGEINT),
                     xg_rnd(acc[2]::HUGEINT, x[2]::HUGEINT),
                     xg_rnd(acc[3]::HUGEINT, x[3]::HUGEINT),
                     xg_rnd(acc[4]::HUGEINT, x[4]::HUGEINT)]) AS st))
   ELSE (seed::HUGEINT + 2870177450012600261) % 18446744073709551616
   END + n::HUGEINT)
  % 18446744073709551616;
CREATE OR REPLACE MACRO xg_h2(b, n, h1v) AS
  list_reduce(
    list_prepend(h1v::HUGEINT,
      [xg_lane8(b, xg_sb(n) + 8*k)
       for k in range(0, (n::BIGINT - xg_sb(n)) // 8)]),
    (acc, w) -> (xg_m64(xg_rot(xor(acc::HUGEINT, xg_rnd(0, w::HUGEINT)::HUGEINT),
                               134217728, 137438953472),
                        11400714785074694791) + 9650029242287828579)
                % 18446744073709551616);
CREATE OR REPLACE MACRO xg_h3(b, n, h2v) AS
  list_reduce(
    list_prepend(h2v::HUGEINT,
      CASE WHEN n::BIGINT % 8 >= 4 THEN [xg_lane4(b, (n::BIGINT // 8) * 8)]
           ELSE []::HUGEINT[] END),
    (acc, w) -> (xg_m64(xg_rot(xor(acc::HUGEINT,
                                   xg_m64(w::HUGEINT, 11400714785074694791)::HUGEINT),
                               8388608, 2199023255552),
                        14029467366897019727) + 1609587929392839161)
                % 18446744073709551616);
CREATE OR REPLACE MACRO xg_h4(b, n, h3v) AS
  list_reduce(
    list_prepend(h3v::HUGEINT,
                 b[(n::BIGINT // 4) * 4 + 1 : n::BIGINT]),
    (acc, c) -> xg_m64(xg_rot(xor(acc::HUGEINT,
                                  xg_m64(c::HUGEINT, 2870177450012600261)::HUGEINT),
                              2048, 9007199254740992),
                       11400714785074694791));
CREATE OR REPLACE MACRO xg_av(hh) AS
  (SELECT xor(h4::HUGEINT, h4::HUGEINT // 4294967296)
   FROM (SELECT xg_m64(xor(h2::HUGEINT, h2::HUGEINT // 536870912),
                       1609587929392839161) AS h4
         FROM (SELECT xg_m64(xor(hh::HUGEINT, hh::HUGEINT // 8589934592),
                             14029467366897019727) AS h2)));
CREATE OR REPLACE MACRO xg_xxh64u(s) AS
  (SELECT xg_av(h4v)
   FROM (SELECT xg_h4(b, n, h3v) AS h4v
         FROM (SELECT b, n, xg_h3(b, n, h2v) AS h3v
               FROM (SELECT b, n, xg_h2(b, n, h1v) AS h2v
                     FROM (SELECT b, n, xg_h1(b, n, 42) AS h1v
                           FROM (SELECT xg_bytes(s) AS b,
                                        octet_length(encode(s::VARCHAR)) AS n))))));
CREATE OR REPLACE MACRO xg_h32(s) AS xg_xxh64u(s) % 4294967296;"""
  /** DuckDB twin of Spark `pmod(xxhash64(c), 4294967296)` (the 32-bit-folded
    * shingle hasher of DedupOps.minhashSignaturesFast). */
  def h32(c: String): String = s"xg_h32($c)"
}
