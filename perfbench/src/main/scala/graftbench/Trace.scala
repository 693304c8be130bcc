package graftbench

import scala.collection.mutable

/** One timed region. Times are epoch milliseconds with sub-millisecond
  * precision; `group` ties together every span of one query or pipeline. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      group: String, start: Double, end: Double) {
  def ms: Double = end - start
}

/** In-memory span recorder for the traced run. Spans nest as
  * run → query | pipeline → construct | action | batch → job → stage, with
  * plan phases (analysis, optimization, planning) under the action. When
  * tracing is off every call is a no-op apart from reading the clock. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L

  def add(parent: Long, kind: String, name: String, group: String,
          start: Double, end: Double): Long = synchronized {
    if (!enabled) return 0L
    val id = nextId
    nextId += 1
    spans += Span(id, parent, kind, name, group, start, end)
    id
  }

  /** Times `body` as one span, returning the span id with the result. */
  def span[T](parent: Long, kind: String, name: String, group: String)(
      body: Long => T): T = {
    val reserved = synchronized { val id = nextId; nextId += 1; id }
    val t0 = Clock.nowMs
    try body(if (enabled) reserved else 0L)
    finally {
      val t1 = Clock.nowMs
      if (enabled) synchronized {
        spans += Span(reserved, parent, kind, name, group, t0, t1)
      }
    }
  }

  def all: Seq[Span] = synchronized(spans.toSeq.sortBy(s => (s.start, s.id)))

  /** Self time (ms) of every span: its length minus the union of its
    * children's intervals. */
  def selfTimes: Map[Long, Double] = {
    val s = all
    val kids = s.groupBy(_.parent)
    s.map { sp =>
      sp.id -> Stats.selfTime(sp.start, sp.end,
        kids.getOrElse(sp.id, Nil).map(c => (c.start, c.end)))
    }.toMap
  }

  /** Self time summed per span kind, in seconds: the layer breakdown. */
  def layerSelfSeconds: Map[String, Double] = {
    val self = selfTimes
    all.groupBy(_.kind).map { case (k, ss) => k -> ss.map(x => self(x.id)).sum / 1000.0 }
  }
}

object Clock {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds on the monotonic clock, comparable with the
    * millisecond timestamps Spark puts on job, stage and plan events. */
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6
}
