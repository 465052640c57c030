package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Epoch milliseconds with nanosecond steps, so spans the harness times
  * and spans rebuilt from Spark listener events (epoch ms) share a clock. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One timed interval with its cause (`parent`), the query it belongs to
  * and the counts recorded at its boundary. */
final class Span(val id: Long, @volatile var parent: Long, val kind: String,
    val name: String, queryId: Long, val start: Double) {
  val query: Long = if (kind == "query") id else queryId
  @volatile var end: Double = Double.NaN
  private val counters = mutable.Map[String, Double]()
  def add(key: String, v: Double): Unit = synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }
  def set(key: String, v: Double): Unit = synchronized { counters(key) = v }
  def close(at: Double = Clock.nowMs): Unit = end = at
  def toMap: Map[String, Any] = synchronized {
    Map("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
      "query" -> query, "start" -> start, "end" -> end, "counters" -> counters.toMap)
  }
}

/** In-memory span log: run → pass → query → {build, consume} → sql → job →
  * stage, plus plan, compile and batch spans. Written out once, at the end. */
final class Spans {
  private val ids = new AtomicLong(0)
  private val all = new ConcurrentLinkedQueue[Span]()

  /** Opens a span. `query` is the id of the query span it belongs to (0
    * outside any query); a query span is its own query. */
  def open(parent: Long, kind: String, name: String, query: Long,
      start: Double = Clock.nowMs): Span = {
    val s = new Span(ids.incrementAndGet(), parent, kind, name, query, start)
    all.add(s)
    s
  }

  def toSeq: Seq[Map[String, Any]] = all.asScala.toSeq.map(_.toMap)
}
