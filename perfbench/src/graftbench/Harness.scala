package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Bench, SparkEntry}
import graft.core.Tables

/** One benchmark run of one workload: a single client in a closed loop
  * runs the workload's deck once cold, checks every query's output
  * (untimed), then runs warm passes for the given number of seconds, each
  * pass in a seed-permuted order. Every query call is timed as `build`
  * (the call into the owning module) and `consume` (execution into the
  * noop sink). Everything is written to one JSON file as
  * spans plus the check fingerprints; perfbench/run.py reduces it.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --cpus N --work DIR --out FILE */
object Harness {
  private final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, cpus: Int, work: String, out: String)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def arg(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(arg("workload"), arg("seed").toLong, arg("seconds").toDouble, arg("trace") == "1",
      arg("data"), arg("cpus").toInt, arg("work"), arg("out"))
  }

  def main(argv: Array[String]): Unit = {
    val entry = Clock.nowMs
    val a = parse(argv)
    val registry = SparkEntry.queries
    val deck = Decks.resolve(a.workload, registry.keySet)

    // set-up: harness entry to session ready with the input tables registered
    val spark = session(a)
    val setup = (Clock.nowMs - entry) / 1e3

    val result = bench(spark, a, deck, registry)
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(a.out), mapper.writeValueAsBytes(
      result ++ Map("workload" -> a.workload, "seed" -> a.seed, "deck" -> deck,
        "owner" -> deck.map(n => n -> Decks.owner(n)).toMap, "setup_s" -> setup)))
    sys.exit(0)
  }

  private def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // no periodic GC inside the timed passes: the harness forces one
      // full GCs after every pass, which also let the cleaner free broadcasts
      .config("spark.cleaner.periodicGC.interval", "1h")
      // graft.Bench's status-store limits
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "4")
      // the run writes only under the work directory (run.py also points
      // SPARK_LOCAL_DIRS and java.io.tmpdir there)
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (f <- new java.io.File(a.data).listFiles().sortBy(_.getName)
         if f.getName.endsWith(".parquet"))
      Tables.load(spark, a.data, f.getName.stripSuffix(".parquet"))
        .createOrReplaceTempView(f.getName.stripSuffix(".parquet"))
    spark
  }

  private def bench(spark: SparkSession, a: Args, deck: Seq[String],
      registry: Map[String, (SparkSession, String) => DataFrame]): Map[String, Any] = {
    val spans = new Spans
    val tracer = if (a.trace) Some(new Tracer(spark, spans)) else None
    val rng = new scala.util.Random(a.seed)
    val run = spans.open(0, "run", a.workload, 0)
    val errors = ArrayBuffer[Map[String, String]]()

    def runQuery(pass: Span, name: String): Unit = {
      tracer.foreach(_.settle())
      val q = spans.open(pass.id, "query", name, 0)
      tracer.foreach(_.beginQuery(q))
      def part(kind: String)(body: => Unit): Unit = {
        val p = spans.open(q.id, kind, name, q.id)
        tracer.foreach(_.enter(p))
        try body finally p.close()
      }
      try {
        var df: DataFrame = null
        part("build") { df = registry(name)(spark, a.data) }
        part("consume") { Bench.consume(df) }
      } catch {
        case t: Throwable =>
          q.set("failed", 1)
          errors += Map("pass" -> pass.name, "query" -> name, "error" -> describe(t))
      }
      q.close()
      tracer.foreach(_.endQuery())
      cleanUp(spark)
    }

    /** Runs one pass over the deck; returns its wall time in ms. */
    def runPass(name: String): Double = {
      val order = rng.shuffle(deck)
      val before = Jvm.sample()
      val pass = spans.open(run.id, "pass", name, 0)
      order.foreach(runQuery(pass, _))
      pass.close()
      Jvm.sample().deltaFrom(before).foreach { case (k, v) => pass.set(k, v) }
      pass.set("heap_live_mb", Jvm.liveHeapMb())
      pass.end - pass.start
    }

    runPass("cold")
    // output check, outside every timed region; it also runs each query
    // once more before the warm passes
    val checks = deck.map { name =>
      val fp = try fingerprint(registry(name)(spark, a.data))
        catch { case t: Throwable => Map("error" -> describe(t)) }
      cleanUp(spark)
      name -> fp
    }.toMap
    // --seconds counts the time inside warm passes only, not the heap
    // reading between them
    var warmMs = 0.0
    var passes = 0
    while (warmMs < a.seconds * 1e3) {
      passes += 1
      warmMs += runPass(s"warm$passes")
    }
    run.close()
    tracer.foreach(_.close())
    Map("spans" -> spans.toSeq, "checks" -> checks, "errors" -> errors.toSeq)
  }

  private def describe(t: Throwable): String =
    Option(t.getMessage).getOrElse(t.getClass.getName).take(300)

  /** graft.Bench's hygiene between queries: drop cached plans and release
    * persistent RDD blocks (blocking) so queries and passes stay independent. */
  private def cleanUp(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Row count and an order-independent SHA-256 over the rows, with the
    * columns sorted by name as the oracle comparison sorts them. */
  private def fingerprint(df: DataFrame): Map[String, Any] = {
    val order = df.columns.zipWithIndex.sortBy(_._1.toLowerCase).map(_._2)
    val rows = df.collect().map(r => order.map(i => show(r.get(i))).mkString("\u0001")).sorted
    val sha = MessageDigest.getInstance("SHA-256").digest(rows.mkString("\n").getBytes(UTF_8))
    Map("rows" -> rows.length, "sha" -> sha.map("%02x".format(_)).mkString)
  }

  private def show(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(show).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => show(k) + ":" + show(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(show).mkString("[", ",", "]")
    case other => other.toString
  }

  /** JVM-wide counters from the MXBeans. */
  private object Jvm {
    final case class Sample(gcMs: Double, classes: Double, codeCacheMb: Double) {
      def deltaFrom(b: Sample): Map[String, Double] = Map(
        "jvm_gc_s" -> (gcMs - b.gcMs) / 1e3,
        "jvm_classes_loaded" -> (classes - b.classes),
        "jvm_codecache_mb" -> (codeCacheMb - b.codeCacheMb))
    }
    def sample(): Sample = Sample(
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble,
      ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount.toDouble,
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getType == MemoryType.NON_HEAP && p.getName.contains("Code"))
        .map(_.getUsage.getUsed).sum / 1e6)
    def heapUsedMb(): Double =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6

    /** Heap in use once a full GC frees less than 1 MB more. Some memory
      * is freed only a little after a GC (Spark's cleaner drops a
      * broadcast's blocks once a GC has found it unreachable), so the heap
      * right after a single GC varies by tens of MB from run to run. */
    def liveHeapMb(): Double = {
      System.gc()
      var last = heapUsedMb()
      for (_ <- 1 to 10) {
        Thread.sleep(200)
        System.gc()
        val now = heapUsedMb()
        if (last - now < 1.0) return now
        last = now
      }
      last
    }
  }
}
