package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.AgnosticEncoders.{agnosticEncoderFor, EncoderField, ProductEncoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.types.Metadata

import scala.reflect.ClassTag
import org.apache.spark.sql.streaming._

import graft.functions.CombineFn
import graft.operators.Windows

/** Trigger engine with pane metadata — the port of the reference's
  * ReduceFnRunner + trigger state machines
  * (reference: RCORE/ReduceFnRunner.java:89 — active-window tracking,
  * firing, GC at window.maxTimestamp + allowedLateness;
  * RCORE/triggers/AfterWatermarkStateMachine.java,
  * AfterPaneStateMachine.java; pane bookkeeping
  * SDK/transforms/windowing/PaneInfo.java: index, EARLY/ON_TIME/LATE,
  * isFirst/isLast).
  *
  * Spark's built-in streaming aggregation covers DefaultTrigger append
  * (final pane) and update (refinements) — this operator exists for what
  * those modes cannot express: pane indices and timing labels, element-count
  * early firings (AfterPane.elementCountAtLeast), discarding-mode per-pane
  * deltas, and ClosingBehavior/OnTimeBehavior control.
  *
  * Execution shape: one pane processor ([[PaneProcessor]]) runs every
  * window and trigger path. Non-merging windows are assigned up front
  * (Beam assigns windows eagerly too — WindowedValue carries them) and
  * keyed by (userKey, windowStart), so per-(key, window) state matches
  * Beam's state namespaces (RCORE/StateNamespaces.java); merging windows
  * are keyed by userKey. Two event-time timers per window: end-of-window
  * (ON_TIME firing) and end + allowedLateness (final firing + state GC).
  */
object Triggers {

  /** Firing condition before the watermark reaches end-of-window
    * (reference: AfterWatermark.java:76 withEarlyFirings,
    * AfterPane.java:31). */
  sealed trait EarlyFiring
  case object NoEarlyFiring extends EarlyFiring
  /** Fire on every micro-batch that saw input for the window —
    * AfterWatermark.withEarlyFirings(AfterProcessingTime...) at micro-batch
    * cadence. */
  case object EveryBatch extends EarlyFiring
  /** AfterPane.elementCountAtLeast(n). */
  final case class AfterCount(n: Int) extends EarlyFiring

  /** Shorthand for AfterWatermark with optional early firings and per-batch
    * late refinements; see [[trigger]]. */
  final case class TriggerConfig(
      windowSizeMs: Long,
      allowedLatenessMs: Long = 0L,
      early: EarlyFiring = NoEarlyFiring,
      /** ACCUMULATING vs DISCARDING fired panes (WindowingStrategy.java:50) */
      accumulating: Boolean = true,
      /** Variable-length calendar windows (reference: CalendarWindows
        * .java:96/:198/:314) — full multi-unit + time-zone config
        * ([[graft.operators.Windows.CalendarWindows]]); window boundaries
        * come from the shared grid math in Windows, ignoring
        * windowSizeMs. Assign with [[assignCalendarWindows]]. */
      calendar: Option[Windows.CalendarWindows] = None) {

    /** The composite trigger this config lowers to. */
    def trigger: TriggerAst = AfterWatermarkEL(early match {
      case NoEarlyFiring => None
      case EveryBatch    => Some(AfterCountT(1)) // a batch with input adds >= 1
      case AfterCount(n) => Some(AfterCountT(n))
    }, None)

    /** End of the window starting at `startMs` (fixed span or calendar
      * grid — months/years vary in length; DST makes even day windows
      * variable in the configured zone). */
    def windowEnd(startMs: Long): Long = calendar match {
      case None     => startMs + windowSizeMs
      case Some(cw) => Windows.calendarWindowEndMs(cw, startMs)
    }
  }

  /** Calendar-window assignment: wstart from the shared anchored-grid
    * math ([[graft.operators.Windows.calendarWindowStartMs]] — same
    * floor/clamp semantics as the batch Column path). */
  def assignCalendarWindows[K, V](ds: Dataset[(K, java.sql.Timestamp, V)],
                                  cw: Windows.CalendarWindows)(
      implicit outEnc: Encoder[(K, Long, V)]): Dataset[(K, Long, V)] =
    ds.map { case (k, ts, v) =>
      (k, Windows.calendarWindowStartMs(cw, ts.getTime), v)
    }

  /** One fired pane: (key, windowStart, windowEnd, value, paneIndex,
    * timing, isFinal). timing ∈ EARLY | ON_TIME | LATE. */
  type Pane[K, OUT] = (K, Long, Long, OUT, Int, String, Boolean)

  private val ON_TIME = "ON_TIME"; private val EARLY = "EARLY"; private val LATE = "LATE"

  /** Triggered fixed-window aggregation with pane metadata. `assigned` must
    * be (key, windowStartMs, value) with a watermark declared upstream
    * (use [[assignFixedWindows]]). */
  def triggeredAggregate[K, V, ACC, OUT](
      assigned: Dataset[(K, Long, V)], fn: CombineFn[V, ACC, OUT], cfg: TriggerConfig)(
      implicit kEnc: Encoder[(K, Long)], accEnc: Encoder[ACC],
      outEnc: Encoder[Pane[K, OUT]]): Dataset[Pane[K, OUT]] =
    paneAggregate(assigned)(r => (r._1, r._2), (g: (K, Long)) => g._1,
      (ws: Long, _: V) => (ws, cfg.windowEnd(ws)), fn, cfg.trigger, cfg.allowedLatenessMs,
      cfg.accumulating)(kEnc, windowEncoder(accEnc), outEnc)

  /** Fixed-window assignment (FixedWindows.java:36): wstart =
    * floor(ts / size) * size, carried next to the key — Beam's eager window
    * assignment (Window.Assign). */
  def assignFixedWindows[K, V](ds: Dataset[(K, java.sql.Timestamp, V)], sizeMs: Long)(
      implicit outEnc: Encoder[(K, Long, V)]): Dataset[(K, Long, V)] =
    ds.map { case (k, ts, v) =>
      val t = ts.getTime
      (k, math.floorDiv(t, sizeMs) * sizeMs, v)
    }

  /** Sliding-window triggered aggregation: takes the size ONCE and wires
    * assignment + TriggerConfig consistently (passing different sizes to
    * the two stages would silently corrupt window ends and timers). */
  def triggeredSlidingAggregate[K, V, ACC, OUT](
      events: Dataset[(K, java.sql.Timestamp, V)], fn: CombineFn[V, ACC, OUT],
      sizeMs: Long, periodMs: Long, allowedLatenessMs: Long = 0L,
      early: EarlyFiring = NoEarlyFiring, accumulating: Boolean = true)(
      implicit aEnc: Encoder[(K, Long, V)], kEnc: Encoder[(K, Long)],
      accEnc: Encoder[ACC], outEnc: Encoder[Pane[K, OUT]]): Dataset[Pane[K, OUT]] =
    triggeredAggregate(assignSlidingWindows(events, sizeMs, periodMs), fn,
      TriggerConfig(windowSizeMs = sizeMs, allowedLatenessMs = allowedLatenessMs,
        early = early, accumulating = accumulating))

  /** Sliding-window assignment (SlidingWindows.java:43): each element lands
    * in size/period windows — row duplication mirrors Beam's multi-window
    * WindowedValue membership. The pane processors work unchanged (window
    * end = start + size holds for sliding windows too). Prefer
    * [[triggeredSlidingAggregate]], which wires the size consistently. */
  def assignSlidingWindows[K, V](ds: Dataset[(K, java.sql.Timestamp, V)],
                                 sizeMs: Long, periodMs: Long)(
      implicit outEnc: Encoder[(K, Long, V)]): Dataset[(K, Long, V)] =
    ds.flatMap { case (k, ts, v) =>
      val t = ts.getTime
      val lastStart = math.floorDiv(t, periodMs) * periodMs
      Iterator.iterate(lastStart)(_ - periodMs)
        .takeWhile(s => s > t - sizeMs)
        .map(s => (k, s, v)).toSeq
    }

  // ------------------------------------------------------- composite triggers

  /** Composite trigger AST (reference: SDK/transforms/windowing/Trigger.java:72;
    * state machines RCORE/triggers/AfterFirstStateMachine.java,
    * AfterAllStateMachine.java, AfterEachStateMachine.java,
    * RepeatedlyStateMachine.java, OrFinallyStateMachine.java,
    * AfterProcessingTimeStateMachine.java,
    * AfterWatermarkStateMachine.java:60 AfterWatermarkEarlyAndLate). Each
    * node keeps (elementCount, finished, procDeadline) per (key, window);
    * semantics follow the reference:
    *  - AfterWatermarkT fires once the watermark passes end-of-window, then
    *    finishes;
    *  - AfterCountT(n) fires when ≥ n elements arrived since its last
    *    reset, then finishes;
    *  - AfterProcessingTimeT(d[, alignPeriod, alignOffset]) —
    *    AfterProcessingTime.pastFirstElementInPane().plusDelayOf(d)
    *    [.alignedTo(period, offset)] (reference:
    *    SDK/transforms/windowing/AfterProcessingTime.java:37,:82): arms a
    *    processing-time deadline at the pane's first element and fires once
    *    the deadline passes, then finishes. Spark's transformWithState
    *    allows one TimeMode, and the pane engine runs in EventTime — so the
    *    deadline is checked at each evaluation opportunity (every input
    *    micro-batch and event-time timer): firing happens at micro-batch
    *    granularity after the deadline, the same cadence Beam's
    *    processing-time firings exhibit under a micro-batch runner.
    *    Quiescent keys are covered by a CATCH-UP event-time timer: while a
    *    deadline is armed, the processor keeps a timer registered just past
    *    the current watermark, so any later batch — data for OTHER keys
    *    included — wakes the armed key and re-checks the proc-time clock
    *    (re-registering until the deadline passes). A key goes unwoken only
    *    if the whole stream is silent, in which case no micro-batch runs at
    *    all — the inherent micro-batch narrowing, same as Beam on a
    *    micro-batch runner;
    *  - AfterWatermarkEL(early, late) — AfterWatermark.pastEndOfWindow()
    *    .withEarlyFirings(early).withLateFirings(late): early fires
    *    repeatedly before the watermark passes end-of-window, exactly one
    *    ON_TIME firing at/after it, then late fires repeatedly; the node
    *    never finishes (the window closes at the GC horizon).
    *    late=None means per-batch late refinements (Beam's default-trigger
    *    behavior, modeled as AfterCount(1)); early=None means no early
    *    panes;
    *  - AfterFirstT fires when ANY child would fire, then finishes;
    *  - AfterAllT fires when ALL children would fire, then finishes;
    *  - AfterEachT runs children in sequence, advancing as each finishes;
    *    it finishes with its last child;
    *  - RepeatedlyT(t) fires whenever t would fire and resets t — never
    *    finishes;
    *  - NeverT (reference: SDK/transforms/windowing/Never.java:36) never
    *    fires on its own: the window emits exactly one pane, the final
    *    flush at its GC horizon;
    *  - OrFinallyT(main, until): main's firings repeat until `until` would
    *    fire, which produces the FINAL pane and finishes the window.
    * A finished root closes the window (accumulator state dropped, a closed
    * marker retained until the GC horizon so later data for the window is
    * dropped, not re-aggregated) — ReduceFnRunner's trigger-finished +
    * droppedDueToClosedWindow contract.
    */
  sealed trait TriggerAst extends Serializable
  case object AfterWatermarkT extends TriggerAst
  final case class AfterCountT(n: Long) extends TriggerAst
  final case class AfterProcessingTimeT(delayMs: Long, alignPeriodMs: Long = 0L,
                                        alignOffsetMs: Long = 0L) extends TriggerAst {
    /** AfterProcessingTime.pastFirstElementInPane().plusDelayOf(delay)
      * [.alignedTo(period, offset)] (reference: AfterProcessingTime
      * .java:70 plusDelayOf, :82 alignedTo; TimestampTransform.AlignTo =
      * ceiling-align to the smallest period multiple since offset not
      * before the timestamp): the deadline armed at the pane's first
      * element. */
    private[graft] def deadlineFrom(nowMs: Long): Long = {
      val t = nowMs + delayMs
      if (alignPeriodMs <= 0) t
      else {
        val rem = Math.floorMod(t - alignOffsetMs, alignPeriodMs)
        if (rem == 0) t else t + (alignPeriodMs - rem)
      }
    }
  }
  final case class AfterWatermarkEL(early: Option[TriggerAst],
                                    late: Option[TriggerAst]) extends TriggerAst
  final case class AfterFirstT(children: Seq[TriggerAst]) extends TriggerAst
  final case class AfterAllT(children: Seq[TriggerAst]) extends TriggerAst
  final case class AfterEachT(children: Seq[TriggerAst]) extends TriggerAst
  final case class RepeatedlyT(child: TriggerAst) extends TriggerAst
  case object NeverT extends TriggerAst
  final case class OrFinallyT(main: TriggerAst, until: TriggerAst) extends TriggerAst

  /** Mutable per-window trigger state: node path →
    * (count, finished, procDeadlineMs; Long.MaxValue = unarmed). */
  private[graft] type TrigState = collection.mutable.Map[String, (Long, Boolean, Long)]

  /** Evaluation context: where the watermark stands relative to
    * end-of-window, and the processing-time clock for AfterProcessingTimeT.
    * `nowProcMs` is the ONLY processing-time input to every trigger
    * decision — the pane processors forward Spark's
    * `getCurrentProcessingTimeInMs()` here, and tests inject a virtual
    * clock at this seam (TriggersSpec's deterministic
    * AfterProcessingTime scenarios — no sleeps). */
  private[graft] final case class TrigCtx(wmPastEnd: Boolean, nowProcMs: Long)

  private[graft] object TriggerEval {
    def childPath(p: String, i: Int): String = s"$p.$i"
    private val NONE = (0L, false, Long.MaxValue)
    private def entry(path: String, st: TrigState) = st.getOrElse(path, NONE)

    /** AfterWatermarkEL child slots: 0 = early, 1 = late,
      * 2 = the "watermark fired" marker pseudo-child. */
    private def effLate(l: Option[TriggerAst]): TriggerAst = l.getOrElse(AfterCountT(1))

    /** A node's AST children with their path slots. */
    private def children(t: TriggerAst): Seq[(TriggerAst, Int)] = t match {
      case AfterFirstT(cs)        => cs.zipWithIndex
      case AfterAllT(cs)          => cs.zipWithIndex
      case AfterEachT(cs)         => cs.zipWithIndex
      case RepeatedlyT(ch)        => Seq(ch -> 0)
      case OrFinallyT(m, u)       => Seq(m -> 0, u -> 1)
      case AfterWatermarkEL(e, l) => e.map(_ -> 0).toSeq :+ (effLate(l) -> 1)
      case _                      => Nil
    }

    def addElements(t: TriggerAst, path: String, st: TrigState, n: Long,
                    nowProcMs: Long): Unit = {
      val (c, f, d) = entry(path, st)
      val armed = t match {
        // pastFirstElementInPane: the deadline arms at the pane's first
        // element and survives until the node fires or resets
        case pt @ AfterProcessingTimeT(_, _, _) if d == Long.MaxValue && n > 0 =>
          pt.deadlineFrom(nowProcMs)
        case _ => d
      }
      st(path) = (c + n, f, armed)
      children(t).foreach { case (ch, i) => addElements(ch, childPath(path, i), st, n, nowProcMs) }
    }

    def finished(path: String, st: TrigState): Boolean = entry(path, st)._2

    def shouldFire(t: TriggerAst, path: String, st: TrigState,
                   ctx: TrigCtx): Boolean =
      !finished(path, st) && (t match {
        case NeverT           => false // only the GC-horizon flush fires
        case AfterWatermarkT  => ctx.wmPastEnd
        case AfterCountT(n)   => entry(path, st)._1 >= n
        case AfterProcessingTimeT(_, _, _) =>
          val d = entry(path, st)._3
          d != Long.MaxValue && ctx.nowProcMs >= d
        case AfterWatermarkEL(e, l) =>
          if (!ctx.wmPastEnd)
            e.exists(ch => shouldFire(ch, childPath(path, 0), st, ctx))
          else if (!finished(childPath(path, 2), st)) true // the ON_TIME firing
          else shouldFire(effLate(l), childPath(path, 1), st, ctx)
        case AfterFirstT(cs)  => cs.zipWithIndex.exists { case (ch, i) =>
          shouldFire(ch, childPath(path, i), st, ctx) }
        case AfterAllT(cs)    => cs.zipWithIndex.forall { case (ch, i) =>
          finished(childPath(path, i), st) || shouldFire(ch, childPath(path, i), st, ctx) }
        case AfterEachT(cs)   => cs.zipWithIndex.find { case (_, i) =>
          !finished(childPath(path, i), st) }.exists { case (ch, i) =>
          shouldFire(ch, childPath(path, i), st, ctx) }
        case RepeatedlyT(ch)  => shouldFire(ch, childPath(path, 0), st, ctx)
        case OrFinallyT(m, u) =>
          shouldFire(u, childPath(path, 1), st, ctx) ||
          shouldFire(m, childPath(path, 0), st, ctx)
      })

    /** Post-firing transition (the reference's onFire/onElement reset
      * logic). Returns nothing; mutates finished flags / resets counts. */
    def onFire(t: TriggerAst, path: String, st: TrigState, ctx: TrigCtx): Unit = t match {
      case NeverT => () // unreachable: NeverT never reports shouldFire
      case AfterWatermarkT | AfterCountT(_) | AfterProcessingTimeT(_, _, _) =>
        st(path) = (0L, true, Long.MaxValue)
      case AfterWatermarkEL(e, l) =>
        if (!ctx.wmPastEnd) {
          // early firings repeat: fire + reset the early child
          e.foreach { ch =>
            onFire(ch, childPath(path, 0), st, ctx)
            reset(ch, childPath(path, 0), st)
          }
        } else if (!finished(childPath(path, 2), st)) {
          // the ON_TIME firing: mark the watermark sub-trigger done and
          // start the late child fresh (pre-watermark elements don't count
          // toward late firings — AfterWatermarkStateMachine.onFire)
          st(childPath(path, 2)) = (0L, true, Long.MaxValue)
          reset(effLate(l), childPath(path, 1), st)
        } else {
          val lt = effLate(l)
          onFire(lt, childPath(path, 1), st, ctx)
          reset(lt, childPath(path, 1), st) // late firings repeat
        }
      // the node itself never finishes: the window stays open to the GC
      // horizon
      case AfterFirstT(cs) =>
        cs.zipWithIndex.foreach { case (ch, i) =>
          if (shouldFire(ch, childPath(path, i), st, ctx)) onFire(ch, childPath(path, i), st, ctx) }
        st(path) = (0L, true, Long.MaxValue)
      case AfterAllT(cs) =>
        cs.zipWithIndex.foreach { case (ch, i) =>
          if (!finished(childPath(path, i), st)) onFire(ch, childPath(path, i), st, ctx) }
        st(path) = (0L, true, Long.MaxValue)
      case AfterEachT(cs) =>
        cs.zipWithIndex.find { case (_, i) => !finished(childPath(path, i), st) }
          .foreach { case (ch, i) => onFire(ch, childPath(path, i), st, ctx) }
        if (cs.indices.forall(i => finished(childPath(path, i), st)))
          st(path) = (0L, true, Long.MaxValue)
      case RepeatedlyT(ch) =>
        onFire(ch, childPath(path, 0), st, ctx)
        reset(ch, childPath(path, 0), st) // forever: child restarts
      case OrFinallyT(m, u) =>
        if (shouldFire(u, childPath(path, 1), st, ctx)) st(path) = (0L, true, Long.MaxValue)
        else {
          onFire(m, childPath(path, 0), st, ctx)
          if (finished(childPath(path, 0), st)) reset(m, childPath(path, 0), st)
        }
    }

    def reset(t: TriggerAst, path: String, st: TrigState): Unit = {
      st(path) = NONE
      children(t).foreach { case (ch, i) => reset(ch, childPath(path, i), st) }
      if (t.isInstanceOf[AfterWatermarkEL]) st(childPath(path, 2)) = NONE
    }

    /** Merge trigger state across merging windows (the reference's
      * TriggerStateMachine.onMerge in the RCORE/triggers state machines):
      * element counts add (the merged window saw the union of elements),
      * finished flags OR (a satisfied sub-trigger stays satisfied — in
      * particular a fired watermark marker keeps the merged window in
      * late-firing mode, matching MergingActiveWindowSet's
      * EOW-already-fired handling), processing-time deadlines take the
      * earliest armed value. */
    def merge(into: TrigState, from: TrigState): Unit =
      from.foreach { case (p, (c, f, d)) =>
        val (c0, f0, d0) = entry(p, into)
        into(p) = (c0 + c, f0 || f, math.min(d0, d))
      }

    /** Any unfinished node holding an armed processing-time deadline? */
    def armedDeadline(st: TrigState): Boolean =
      st.valuesIterator.exists { case (_, f, d) => !f && d != Long.MaxValue }
  }

  // ----------------------------------------------------------- pane processor

  /** Per-window pane state, one MapState record per window keyed by its
    * start: (end, acc, paneIndex, onTimeFired, pendingSinceFire, closed,
    * triggerState). */
  type SessionW[ACC] = (Long, ACC, Int, Boolean, Long, Boolean, List[(String, Long, Boolean, Long)])

  /** [[SessionW]] encoder from the accumulator's. */
  private def windowEncoder[ACC](accEnc: Encoder[ACC]): Encoder[SessionW[ACC]] = {
    val fields = Seq[Encoder[_]](Encoders.scalaLong, accEnc, Encoders.scalaInt,
      Encoders.scalaBoolean, Encoders.scalaLong, Encoders.scalaBoolean,
      ExpressionEncoder[List[(String, Long, Boolean, Long)]]()).zipWithIndex.map { case (e, i) =>
      val a = agnosticEncoderFor(e)
      EncoderField(s"_${i + 1}", a, a.nullable, Metadata.empty)
    }
    ProductEncoder(implicitly[ClassTag[SessionW[ACC]]], fields, None)
  }

  /** One window while the processor works on it: the [[SessionW]] fields
    * as mutable slots, plus the elements added this batch (applied to the
    * trigger once, after merging; > 0 marks the window touched). */
  private final class Win[ACC](var end: Long, var acc: ACC, var paneIndex: Int,
                               var onTime: Boolean, var pending: Long, var closed: Boolean,
                               val trig: TrigState) {
    var added = 0L
    /** end (and GC time) not yet registered as timers */
    var timersDue = false
    def this(w: SessionW[ACC]) = this(w._1, w._2, w._3, w._4, w._5, w._6,
      collection.mutable.Map.from(w._7.map { case (p, c, f, d) => p -> ((c, f, d)) }))
    def record: SessionW[ACC] = (end, acc, paneIndex, onTime, pending, closed,
      trig.toList.map { case (p, (c, f, d)) => (p, c, f, d) })
  }

  /** The ReduceFnRunner analogue (reference: RCORE/ReduceFnRunner.java:89,
    * merging and non-merging active-window sets) for every window and
    * trigger path. `assign(ts, value)` is the WindowFn's proto-window
    * [start, end). Non-merging WindowFns group by (key, windowStart);
    * merging ones (Sessions.java:40, WindowFn.java:82,
    * RCORE/MergingActiveWindowSet.java) group by key, and a proto-window
    * merges with every INTERSECTING active window — abutting half-open
    * intervals stay separate (MergeOverlappingIntervalWindows.java:37) —
    * merging partial aggregates (CombineFn.mergeAccumulators), pane
    * metadata and trigger state (TriggerEval.merge). An element whose
    * proto-window is an open window folds straight into it with addInput.
    *
    * Each window fires whenever its root trigger says so: EARLY before the
    * watermark passes end-of-window, ON_TIME for the first at/after, LATE
    * subsequently. A finished root closes the window early: a tombstone
    * survives to the GC horizon so later data in its span is dropped
    * (droppedDueToClosedWindow) instead of reopening it. Timers at end
    * (ON_TIME opportunity) and end + lateness (final pane + GC) are
    * registered when a window first gets that end; timers orphaned by
    * merges match no window and are ignored. */
  private class PaneProcessor[G, K, V, ACC, OUT](
      fn: CombineFn[V, ACC, OUT], trigger: TriggerAst, allowedLatenessMs: Long,
      accumulating: Boolean, userKey: G => K, assign: (Long, V) => (Long, Long))(
      implicit wEnc: Encoder[SessionW[ACC]], outEnc: Encoder[Pane[K, OUT]])
      extends StatefulProcessor[G, (K, Long, V), Pane[K, OUT]] {

    @transient private var windows: MapState[Long, SessionW[ACC]] = _

    override def init(om: OutputMode, tm: TimeMode): Unit =
      windows = getHandle.getMapState[Long, SessionW[ACC]](
        "windows", Encoders.scalaLong, wEnc, TTLConfig.NONE)

    private def gcTime(end: Long): Long = end + allowedLatenessMs

    private def fire(key: K, start: Long, w: Win[ACC], wmPastEnd: Boolean,
                     isFinal: Boolean): Pane[K, OUT] = {
      val timing = if (!wmPastEnd) EARLY else if (!w.onTime) ON_TIME else LATE
      val pane = (key, start, w.end, fn.extractOutput(w.acc), w.paneIndex, timing, isFinal)
      w.paneIndex += 1; w.pending = 0L; w.onTime ||= timing != EARLY
      if (!accumulating) w.acc = fn.createAccumulator() // discarding: emit delta
      pane
    }

    private def evalAndFire(key: K, start: Long, w: Win[ACC], wmPastEnd: Boolean,
                            nowProcMs: Long): Option[Pane[K, OUT]] = {
      val ctx = TrigCtx(wmPastEnd, nowProcMs)
      if (!TriggerEval.shouldFire(trigger, "r", w.trig, ctx)) None
      else {
        TriggerEval.onFire(trigger, "r", w.trig, ctx)
        val rootDone = TriggerEval.finished("r", w.trig)
        val pane = fire(key, start, w, wmPastEnd, isFinal = rootDone)
        if (rootDone) {
          // early closure: tombstone until the GC horizon (see class doc)
          w.acc = fn.createAccumulator(); w.closed = true; w.trig.clear()
        }
        Some(pane)
      }
    }

    /** The quiescent-key CATCH-UP timer ([[AfterProcessingTimeT]] in the
      * [[TriggerAst]] doc; Beam's runner-scheduled proc-time timers,
      * RCORE/triggers/AfterProcessingTimeStateMachine.java): one timer wake
      * per armed key per watermark advance. */
    private def armCatchupTimer(wm: Long, ws: Iterable[Win[ACC]]): Unit =
      if (ws.exists(w => !w.closed && wm + 1 < w.end && TriggerEval.armedDeadline(w.trig)))
        getHandle.registerTimer(wm + 1)

    override def handleInputRows(key: G, rows: Iterator[(K, Long, V)],
                                 tv: TimerValues): Iterator[Pane[K, OUT]] = {
      val wm = tv.getCurrentWatermarkInMs()
      val nowProc = tv.getCurrentProcessingTimeInMs()
      val active = collection.mutable.Map.empty[Long, Win[ACC]]
      windows.iterator().foreach { case (s, w) => active(s) = new Win(w) }
      val stored = active.keySet.toSet
      rows.foreach { case (_, ts, v) =>
        // WindowFn.assignWindows: the proto-window is element-driven (value
        // AND timestamp — Beam's AssignContext exposes both); Sessions is
        // (ts, ts + gap), a dynamic-gap WindowFn reads the gap off `v`
        val (ps, pe) = assign(ts, v)
        require(ps < pe, s"assign produced empty window [$ps, $pe)")
        // too-late data: beyond the GC horizon → dropped
        // (reference: RCORE/LateDataDroppingDoFnRunner.java)
        if (wm < gcTime(pe)) active.get(ps) match {
          case Some(w) if w.end == pe && !w.closed =>
            // the proto-window IS an open window (always, for non-merging
            // WindowFns): active windows are disjoint, so nothing else
            // intersects it
            w.acc = fn.addInput(w.acc, v); w.pending += 1; w.added += 1
          case _ =>
            val overlapping = active.filter { case (s, w) => s < pe && ps < w.end }
            // an element whose span touches a CLOSED window (root trigger
            // finished) is dropped (droppedDueToClosedWindow), never
            // reopening or extending the window
            if (!overlapping.valuesIterator.exists(_.closed)) {
              val w = new Win[ACC](pe, fn.addInput(fn.createAccumulator(), v), 0, false, 1L,
                false, collection.mutable.Map.empty)
              w.added = 1L
              var start = ps
              overlapping.foreach { case (s, o) =>
                start = math.min(start, s); w.end = math.max(w.end, o.end)
                w.acc = fn.mergeAccumulators(o.acc, w.acc)
                w.paneIndex = math.max(w.paneIndex, o.paneIndex); w.onTime ||= o.onTime
                w.pending += o.pending; w.added += o.added
                TriggerEval.merge(w.trig, o.trig)
                active.remove(s)
              }
              // timers exist already for an end a merged window had
              w.timersDue = overlapping.valuesIterator.forall(o => o.end != w.end || o.timersDue)
              active(start) = w
            }
        }
      }
      val k = userKey(key)
      var out = List.empty[Pane[K, OUT]]
      active.foreach { case (s, w) =>
        if (w.added > 0) { // touched this batch
          // the element-acceptance gate guarantees wm < end + lateness for
          // every touched window, so a touched window is never AT its GC
          // horizon here — the GC timer owns final flushing
          TriggerEval.addElements(trigger, "r", w.trig, w.added, nowProc)
          evalAndFire(k, s, w, wmPastEnd = wm >= w.end, nowProc).foreach(p => out = p :: out)
          if (w.timersDue) {
            getHandle.registerTimer(w.end)
            if (allowedLatenessMs > 0) getHandle.registerTimer(gcTime(w.end))
          }
          windows.updateValue(s, w.record)
        }
      }
      stored.foreach(s => if (!active.contains(s)) windows.removeKey(s)) // merged away
      armCatchupTimer(wm, active.values)
      out.reverseIterator
    }

    override def handleExpiredTimer(key: G, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[Pane[K, OUT]] = {
      val expiry = info.getExpiryTimeInMs()
      val wmNow = tv.getCurrentWatermarkInMs()
      val nowProc = tv.getCurrentProcessingTimeInMs()
      val k = userKey(key)
      var out = List.empty[Pane[K, OUT]]
      val open = collection.mutable.ListBuffer.empty[Win[ACC]]
      windows.iterator().toList.foreach { case (s, rec) =>
        if (expiry >= gcTime(rec._1)) {
          // GC horizon (with zero lateness the end-of-window timer IS the
          // GC timer). Closed tombstones just evaporate; open windows flush
          // a final pane when:
          //  - the trigger itself would fire and its on-time pane has not
          //    fired yet (e.g. orFinally's AfterWatermark until-clause when
          //    allowedLateness=0 folds end-of-window into GC), or
          //  - data arrived since the last firing
          //    (ClosingBehavior.FIRE_IF_NON_EMPTY, WindowingStrategy.java:105), or
          //  - no pane ever fired (every window produces at least one pane).
          if (!rec._6) {
            val w = new Win(rec)
            val trigWants = !w.onTime && TriggerEval.shouldFire(trigger, "r", w.trig,
              TrigCtx(wmPastEnd = true, nowProc))
            if (trigWants || w.pending > 0 || w.paneIndex == 0)
              out = fire(k, s, w, wmPastEnd = true, isFinal = true) :: out
          }
          windows.removeKey(s)
        } else if (!rec._6 && expiry <= rec._1) {
          // end-of-window with allowedLateness > 0: the ON_TIME
          // opportunity, composite roots may also finish here. A timer
          // before end-of-window is a proc-time catch-up and must not
          // report wmPastEnd — that would fire AfterWatermark children
          // early
          val w = new Win(rec)
          if (expiry == w.end || TriggerEval.armedDeadline(w.trig))
            evalAndFire(k, s, w, wmPastEnd = expiry == w.end, nowProc).foreach { p =>
              out = p :: out; windows.updateValue(s, w.record)
            }
          open += w
        }
        // stale timers from merged-away windows match nothing: ignored
      }
      armCatchupTimer(wmNow, open)
      out.reverseIterator
    }
  }

  /** Every entry point's wiring: group `events`, run the pane processor. */
  private def paneAggregate[G, K, V, ACC, OUT](events: Dataset[(K, Long, V)])(
      group: ((K, Long, V)) => G, userKey: G => K, assign: (Long, V) => (Long, Long),
      fn: CombineFn[V, ACC, OUT], trigger: TriggerAst, allowedLatenessMs: Long,
      accumulating: Boolean)(
      implicit gEnc: Encoder[G], wEnc: Encoder[SessionW[ACC]],
      outEnc: Encoder[Pane[K, OUT]]): Dataset[Pane[K, OUT]] = {
    Stateful.requireRocksDBStateStore(events.sparkSession)
    events.groupByKey(group).transformWithState(
      new PaneProcessor(fn, trigger, allowedLatenessMs, accumulating, userKey, assign),
      TimeMode.EventTime(), OutputMode.Append())
  }

  /** Session-windowed triggered aggregation with the DEFAULT trigger shape
    * (AfterWatermark, optional early/late element-count firings — the
    * `early_late_sessions` transcript shape). Panes carry the real merged
    * session bounds. `events` must be (key, eventTimeMs, value) with a
    * watermark declared upstream. */
  def sessionAggregate[K, V, ACC, OUT](
      events: Dataset[(K, Long, V)], fn: CombineFn[V, ACC, OUT],
      gapMs: Long, allowedLatenessMs: Long = 0L, accumulating: Boolean = true,
      earlyCount: Option[Long] = None, lateCount: Option[Long] = None)(
      implicit kEnc: Encoder[K], accEnc: Encoder[SessionW[ACC]],
      outEnc: Encoder[Pane[K, OUT]]): Dataset[Pane[K, OUT]] =
    sessionAggregateTriggered(events, fn, gapMs,
      AfterWatermarkEL(earlyCount.map(AfterCountT(_)), lateCount.map(AfterCountT(_))),
      allowedLatenessMs, accumulating)

  /** Session-windowed aggregation under an ARBITRARY composite trigger AST —
    * the reference's ReduceFnRunner-over-merging-windows path (any trigger
    * state machine composed with Sessions). Sessions.java:61 assigns
    * [ts, ts + gap). */
  def sessionAggregateTriggered[K, V, ACC, OUT](
      events: Dataset[(K, Long, V)], fn: CombineFn[V, ACC, OUT],
      gapMs: Long, trigger: TriggerAst, allowedLatenessMs: Long = 0L,
      accumulating: Boolean = true)(
      implicit kEnc: Encoder[K], accEnc: Encoder[SessionW[ACC]],
      outEnc: Encoder[Pane[K, OUT]]): Dataset[Pane[K, OUT]] =
    mergingWindowAggregate(events, fn, (ts: Long, _: V) => (ts, ts + gapMs),
      trigger, allowedLatenessMs, accumulating)

  /** CUSTOM merging WindowFn (reference: SDK/transforms/windowing/
    * WindowFn.java — assignWindows gets the element's value and timestamp
    * via AssignContext; mergeWindows for interval WindowFns is
    * MergeOverlappingIntervalWindows.java:37, the rule every practical
    * merging WindowFn uses): `assign(ts, value)` produces the element's
    * proto-window [start, end) and intersecting active windows merge —
    * accumulators, pane metadata and trigger state included. Sessions is
    * `(ts, _) => (ts, ts + gapMs)`; a data-driven dynamic-gap session fn
    * reads its gap off the value. Runs the full composite-trigger AST. */
  def mergingWindowAggregate[K, V, ACC, OUT](
      events: Dataset[(K, Long, V)], fn: CombineFn[V, ACC, OUT],
      assign: (Long, V) => (Long, Long), trigger: TriggerAst,
      allowedLatenessMs: Long = 0L,
      accumulating: Boolean = true)(
      implicit kEnc: Encoder[K], accEnc: Encoder[SessionW[ACC]],
      outEnc: Encoder[Pane[K, OUT]]): Dataset[Pane[K, OUT]] =
    paneAggregate(events)(_._1, (k: K) => k, assign, fn, trigger, allowedLatenessMs,
      accumulating)

  /** Triggered aggregation with a composite trigger AST. */
  def triggeredAggregateComposite[K, V, ACC, OUT](
      assigned: Dataset[(K, Long, V)], fn: CombineFn[V, ACC, OUT],
      trigger: TriggerAst, windowSizeMs: Long, allowedLatenessMs: Long = 0L,
      accumulating: Boolean = true)(
      implicit kEnc: Encoder[(K, Long)], accEnc: Encoder[ACC],
      outEnc: Encoder[Pane[K, OUT]]): Dataset[Pane[K, OUT]] =
    paneAggregate(assigned)(r => (r._1, r._2), (g: (K, Long)) => g._1,
      (ws: Long, _: V) => (ws, ws + windowSizeMs), fn, trigger, allowedLatenessMs,
      accumulating)(kEnc, windowEncoder(accEnc), outEnc)
}
