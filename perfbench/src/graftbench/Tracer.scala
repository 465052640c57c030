package graftbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.graftbench.SparkInternals
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's view of Spark's layers, taken only through hooks the
  * benchmark registers: a SparkListener (jobs, stages, task metrics, SQL
  * executions, block updates), a QueryExecutionListener (planning
  * phases), a StreamingQueryListener (micro-batches), the CodegenMetrics
  * histogram and CodeGenerator's compile log line. Every event becomes a
  * span or a counter in `spans`, under the query that was running. */
final class Tracer(spark: SparkSession, spans: Spans) {
  import Tracer._
  private val sc = spark.sparkContext

  // The query being run; the harness drains the listener bus before it
  // moves on, so an event is always processed under its own query.
  @volatile private var query: Span = _
  private def queryId: Long = Option(query).map(_.id).getOrElse(0L)

  private val sqls = new ConcurrentHashMap[Long, Span]()
  private val jobs = new ConcurrentHashMap[Int, Span]()
  private val stageJob = new ConcurrentHashMap[Int, Span]()
  private val stages = new ConcurrentHashMap[(Int, Int), Span]()
  private val blocksSeen = ConcurrentHashMap.newKeySet[String]()
  private var liveBefore = Set.empty[String]
  private var compilesBefore = 0L

  private def under(parent: Long, kind: String, name: String, start: Double) =
    spans.open(parent, kind, name, queryId, start)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val part = prop(PartKey).map(_.toLong).getOrElse(queryId)
      val sql = prop("spark.sql.execution.id").flatMap(id => Option(sqls.get(id.toLong)))
      // an execution hangs under the build or consume call whose job first names it
      sql.filter(_.parent == queryId).foreach(_.parent = part)
      val job = under(sql.map(_.id).getOrElse(part), "job", e.jobId.toString, e.time.toDouble)
      jobs.put(e.jobId, job)
      e.stageIds.foreach(stageJob.put(_, job))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach(_.close(e.time.toDouble))

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val info = e.stageInfo
      val parent = Option(stageJob.get(info.stageId)).map(_.id).getOrElse(queryId)
      val start = info.submissionTime.map(_.toDouble).getOrElse(Clock.nowMs)
      stages.put((info.stageId, info.attemptNumber()),
        under(parent, "stage", info.stageId.toString, start))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stages.remove((info.stageId, info.attemptNumber())))
        .foreach(_.close(info.completionTime.map(_.toDouble).getOrElse(Clock.nowMs)))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val stage = stages.get((e.stageId, e.stageAttemptId))
      val m = e.taskMetrics
      if (stage != null && m != null) {
        stage.add("tasks", 1)
        stage.add("run_s", m.executorRunTime / 1e3)
        stage.add("cpu_s", m.executorCpuTime / 1e9)
        stage.add("gc_s", m.jvmGCTime / 1e3)
        stage.add("deserialize_s", m.executorDeserializeTime / 1e3)
        stage.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        stage.add("input_rows", m.inputMetrics.recordsRead.toDouble)
        stage.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        stage.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        stage.add("fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        stage.add("spill_bytes", m.diskBytesSpilled.toDouble)
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (query != null && info.blockId.isRDD && info.storageLevel.isValid &&
          blocksSeen.add(info.blockId.name))
        query.add("rdd_blocks_created", 1)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val sql = under(queryId, "sql", s.executionId.toString, s.time.toDouble)
        sql.set("wsc_stages", wholeStageCodegens(s.sparkPlanInfo))
        sqls.put(s.executionId, sql)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        Option(sqls.get(u.executionId))
          .foreach(_.set("wsc_stages", wholeStageCodegens(u.sparkPlanInfo)))
      case end: SparkListenerSQLExecutionEnd =>
        Option(sqls.remove(end.executionId)).foreach(_.close(end.time.toDouble))
      case _ =>
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) {
        val plan = under(queryId, "plan", funcName,
          phases.values.map(_.startTimeMs).min.toDouble)
        for ((phase, summary) <- phases) plan.set(s"${phase}_s", summary.durationMs / 1e3)
        plan.close(phases.values.map(_.endTimeMs).max.toDouble)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      onSuccess(funcName, qe, 0L)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ms = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val batch = under(queryId, "batch", p.batchId.toString, start)
      batch.set("input_rows", p.numInputRows.toDouble)
      batch.set("state_rows_updated", p.stateOperators.map(_.numRowsUpdated).sum.toDouble)
      batch.set("state_rows_total", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
      batch.close(start + ms)
    }
  }

  // CodeGenerator logs "Code generated in <ms> ms" once per compilation
  // (cache misses only); it runs on the compiling thread, inside the query.
  private val compileLog = new AbstractAppender("graftbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(event: LogEvent): Unit = {
      val q = query
      CompileLine.findFirstMatchIn(event.getMessage.getFormattedMessage).foreach { m =>
        if (q != null) {
          val end = Clock.nowMs
          spans.open(q.id, "compile", "codegen", q.id, end - m.group(1).toDouble).close(end)
        }
      }
    }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(planListener)
  spark.streams.addListener(streamListener)
  locally {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    compileLog.start()
    config.addAppender(compileLog)
    val logger = new LoggerConfig(CodegenLogger, Level.INFO, false)
    logger.addAppender(compileLog, Level.INFO, null)
    config.addLogger(CodegenLogger, logger)
    ctx.updateLoggers()
  }

  /** Before a query starts: waits for the events of whatever ran before
    * it and takes the block and compile baselines. */
  def settle(): Unit = {
    SparkInternals.drainListeners(sc)
    liveBefore = SparkInternals.liveBlocks()
    compilesBefore = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  }

  def beginQuery(q: Span): Unit = query = q

  /** Marks the build or consume call `part` as the parent of the jobs it runs. */
  def enter(part: Span): Unit = sc.setLocalProperty(PartKey, part.id.toString)

  /** After the query returned and before any cleanup: waits for every
    * event of the query, then records its codegen compiles, the
    * persistent-RDD blocks it created that are still alive (its leaks) and
    * the broadcasts it created that are still alive. Broadcasts include
    * every stage's task binary, which Spark frees only after a GC, so
    * they are counted apart from the leaks. */
  def endQuery(): Unit = {
    sc.setLocalProperty(PartKey, null)
    SparkInternals.drainListeners(sc)
    val q = query
    q.set("compiles", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compilesBefore).toDouble)
    val created = SparkInternals.liveBlocks() -- liveBefore
    q.set("leaked_blocks", created.count(_.startsWith("rdd_")).toDouble)
    q.set("live_broadcasts",
      created.count(b => b.startsWith("broadcast_") && !b.contains("_piece")).toDouble)
    query = null
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.removeLogger(CodegenLogger)
    ctx.updateLoggers()
    compileLog.stop()
  }
}

object Tracer {
  private val PartKey = "graftbench.part"
  private val CodegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val CompileLine = """Code generated in ([0-9.]+) ms""".r

  private def wholeStageCodegens(plan: SparkPlanInfo): Double =
    (if (plan.nodeName.startsWith("WholeStageCodegen")) 1.0 else 0.0) +
      plan.children.map(wholeStageCodegens).sum
}
