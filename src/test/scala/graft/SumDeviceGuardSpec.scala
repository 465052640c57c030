package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** Keeps the exact-sum devices in one place. The split-radix digit sum,
  * the BigInteger-spill accumulator and the scaled-long oracle twin live in
  * `core/Tables.scala`, `core/ScaledLongSums.scala` and `SqlGen`
  * (`queries/Q.scala`); decimal Spark-side sums go through `Tables.exactSum`
  * / `Tables.detSum`. This spec scans `src/main` for each device's
  * signature and fails when a copy appears anywhere else. The shapes that
  * remain outside those homes differ by path and are listed below with the
  * reason and their count per file; change the list only with the code. */
class SumDeviceGuardSpec extends AnyFunSuite {

  private val root = new File("src/main/scala/graft")

  private def sources: Seq[(String, String)] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(root).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try root.toPath.relativize(f.toPath).toString -> src.mkString
      finally src.close()
    }
  }

  /** (device, signature, home files, allowed elsewhere: file -> (count, reason)) */
  private val devices: Seq[(String, scala.util.matching.Regex, Set[String],
                            Map[String, (Int, String)])] = Seq(
    ("split-radix digit sum", """lit\(\(1L << \w+\) - 1\)""".r, Set("core/Tables.scala"),
      Map.empty),
    ("BigInteger spill accumulator", """\.add\((java\.math\.)?BigInteger\.valueOf\(""".r,
      Set("core/ScaledLongSums.scala"), Map.empty),
    ("scaled-long oracle twin", """, 0\) AS BIGINT\)""".r, Set("queries/Q.scala"), Map(
      "ml/GradBoost.scala" -> (1, "grid chosen per fit (1e-12 up to 8e6 rows, else " +
        "1e-6) by a CTE, twin of GradBoost's own unspilled long sums"))),
    ("Spark-side DECIMAL(38, s) sum", """DecimalType\(38|"decimal\(38""".r,
      Set("core/Tables.scala"), Map(
      "ml/Rules.scala" -> (1, "sums a direct scale-14 cast of the row weights, " +
        "no round(): n equal weights sum to exactly n·w"),
      "ml/Community.scala" -> (1, "PageRank rounds each contribution in the " +
        "projection before the join, then sums the decimals per node"),
      "streaming/StreamOps.scala" -> (2, "trailing-window frame sums over the " +
        "decimal value and its rounded square, not a group sum"),
      "queries/RelationalQueries.scala" -> (1, "window running total over the " +
        "decimal value, not a group sum"),
      "text/DedupOps.scala" -> (2, "integer pair-count estimate c·(c−1)/2, not a " +
        "sum of doubles"),
      "similarity/SimilarityOps.scala" -> (2, "integer pair-count estimate " +
        "c·(c−1)/2, not a sum of doubles"))))

  for ((name, re, homes, allowed) <- devices)
    test(s"no copy of the $name outside its home") {
      val found = sources.flatMap { case (path, text) =>
        val n = re.findAllMatchIn(text).size
        if (n > 0 && !homes(path)) Some(path -> n) else None
      }.toMap
      assert(homes.forall(h => sources.exists(_._1 == h)), s"home missing: $homes")
      assert(found == allowed.map { case (f, (n, _)) => f -> n },
        s"$name outside ${homes.mkString(", ")}: $found; allowed: ${allowed.map {
          case (f, (n, why)) => s"$f ×$n ($why)" }.mkString("; ")}")
    }
}
