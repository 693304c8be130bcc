package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.functions.CombineFn
import graft.streaming.Triggers
import graft.streaming.Triggers._

/** Composite-trigger conformance scenarios (reference:
  * RCORE/triggers/AfterFirstStateMachine.java, AfterEachStateMachine.java,
  * RepeatedlyStateMachine.java, OrFinallyStateMachine.java; transcript
  * corpus sdks/python/apache_beam/testing/data/trigger_transcripts.yaml). */
class CompositeTriggerSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val countFn: CombineFn[Long, Long, Long] = new CombineFn[Long, Long, Long] {
    def createAccumulator(): Long = 0L
    def addInput(acc: Long, in: Long): Long = acc + 1
    def mergeAccumulators(a: Long, b: Long): Long = a + b
    def extractOutput(acc: Long): Long = acc
  }

  /** Run a scripted scenario; returns key-"a" panes as
    * (value, paneIndex, timing, isFinal) ordered by pane index. */
  private def run(trigger: TriggerAst, name: String, lateness: Long = 0L,
                  accumulating: Boolean = true)(
      script: (MemoryStream[(String, Timestamp, Long)],
               org.apache.spark.sql.streaming.StreamingQuery) => Unit): Seq[(Long, Int, String, Boolean)] = {
    val input = MemoryStream[(String, Timestamp, Long)](spark)
    val assigned = Triggers.assignFixedWindows(
      input.toDF().toDF("k", "t", "v").withWatermark("t", "0 seconds")
        .as[(String, Timestamp, Long)], 60000L)
    val panes = Triggers.triggeredAggregateComposite(assigned, countFn, trigger,
      windowSizeMs = 60000L, allowedLatenessMs = lateness, accumulating = accumulating)
    val q = panes.toDF("k", "wstart", "wend", "value", "pane_index", "timing", "is_final")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try script(input, q) finally q.stop()
    spark.table(name).collect()
      .filter(_.getAs[String]("k") == "a")
      .map(r => (r.getAs[Long]("value"), r.getAs[Int]("pane_index"),
        r.getAs[String]("timing"), r.getAs[Boolean]("is_final")))
      .sortBy(_._2).toSeq
  }

  test("Repeatedly.forever(AfterCount(2)) fires every 2 elements") {
    val panes = run(RepeatedlyT(AfterCountT(2)), "ct_repeat") { (input, q) =>
      input.addData(("a", ts("2024-01-01 10:00:01"), 1L), ("a", ts("2024-01-01 10:00:02"), 1L))
      q.processAllAvailable()
      input.addData(("a", ts("2024-01-01 10:00:03"), 1L))
      q.processAllAvailable() // 1 since reset: no firing
      input.addData(("a", ts("2024-01-01 10:00:04"), 1L))
      q.processAllAvailable() // 2 since reset: fire (accumulating: 4)
      input.addData(("z", ts("2024-01-01 10:05:00"), 1L))
      q.processAllAvailable() // watermark past end: GC final pane
    }
    // FIRE_IF_NON_EMPTY: nothing pending after the second firing, so the
    // window closes silently at GC — exactly two panes
    assert(panes == Seq((2L, 0, "EARLY", false), (4L, 1, "EARLY", false)), panes.toString)
  }

  test("AfterFirst(AfterCount(10), AfterWatermark) = whichever comes first, then finished") {
    val panes = run(AfterFirstT(Seq(AfterCountT(10), AfterWatermarkT)), "ct_first") { (input, q) =>
      input.addData(("a", ts("2024-01-01 10:00:01"), 1L), ("a", ts("2024-01-01 10:00:02"), 1L))
      q.processAllAvailable() // 2 < 10, wm below end: nothing
      input.addData(("z", ts("2024-01-01 10:05:00"), 1L))
      q.processAllAvailable() // watermark wins: fire + finish window
      input.addData(("z", ts("2024-01-01 10:06:00"), 1L))
      q.processAllAvailable()
    }
    assert(panes == Seq((2L, 0, "ON_TIME", true)), panes.toString)
  }

  test("AfterEach(AfterCount(2), AfterCount(3)) runs children in sequence") {
    val panes = run(AfterEachT(Seq(AfterCountT(2), AfterCountT(3))), "ct_each",
      lateness = 600000L) { (input, q) =>
      input.addData(("a", ts("2024-01-01 10:00:01"), 1L), ("a", ts("2024-01-01 10:00:02"), 1L))
      q.processAllAvailable() // child 0 (>=2): fire
      input.addData(("a", ts("2024-01-01 10:00:03"), 1L), ("a", ts("2024-01-01 10:00:04"), 1L))
      q.processAllAvailable() // child 1 needs 3 SINCE ITS OWN COUNT (4 total >= 3): fires
      input.addData(("z", ts("2024-01-01 10:20:00"), 1L))
      q.processAllAvailable()
    }
    assert(panes.head == ((2L, 0, "EARLY", false)), panes.toString)
    assert(panes.length >= 2 && panes(1)._1 == 4L, panes.toString)
  }

  test("orFinally(Repeatedly(AfterCount(1)), AfterWatermark): repeat until watermark closes") {
    val panes = run(OrFinallyT(RepeatedlyT(AfterCountT(1)), AfterWatermarkT), "ct_orfinally",
      accumulating = false) { (input, q) =>
      input.addData(("a", ts("2024-01-01 10:00:01"), 1L))
      q.processAllAvailable() // fire delta 1
      input.addData(("a", ts("2024-01-01 10:00:02"), 1L), ("a", ts("2024-01-01 10:00:03"), 1L))
      q.processAllAvailable() // fire delta 2
      input.addData(("z", ts("2024-01-01 10:05:00"), 1L))
      q.processAllAvailable() // watermark: final pane, finished
      input.addData(("z", ts("2024-01-01 10:06:00"), 1L))
      q.processAllAvailable()
    }
    assert(panes.take(2) == Seq((1L, 0, "EARLY", false), (2L, 1, "EARLY", false)), panes.toString)
    assert(panes.last._4 && panes.last._3 == "ON_TIME", s"final on-time pane closes: $panes")
    assert(panes.length == 3, s"no firings after finish: $panes")
  }

  test("AfterProcessingTime delay 0: early pane fires in the arming batch") {
    // AfterProcessingTime.pastFirstElementInPane().plusDelayOf(0) as the
    // early clause (reference: AfterProcessingTime.java:37,
    // RCORE/triggers/AfterProcessingTimeStateMachine.java): the deadline
    // arms at the pane's first element, a zero delay is already due at the
    // same evaluation, so every batch with data yields an EARLY pane;
    // after the fire the clause resets and re-arms on the next element.
    val panes = run(AfterWatermarkEL(Some(AfterProcessingTimeT(0L)), None),
      "ct_proctime0", lateness = 600000L) { (input, q) =>
      input.addData(("a", ts("2024-01-01 10:00:01"), 1L), ("a", ts("2024-01-01 10:00:02"), 1L))
      q.processAllAvailable() // arm + due -> EARLY (2)
      input.addData(("a", ts("2024-01-01 10:00:03"), 1L))
      q.processAllAvailable() // re-arm + due -> EARLY (3)
      input.addData(("z", ts("2024-01-01 10:05:00"), 1L))
      q.processAllAvailable() // watermark past end -> ON_TIME
    }
    assert(panes == Seq((2L, 0, "EARLY", false), (3L, 1, "EARLY", false),
      (3L, 2, "ON_TIME", false)), panes.toString)
  }

  test("AfterProcessingTime fires for a QUIESCENT key: other keys' batches wake it") {
    // the round-4 narrowing: key "a" arms a proc-time deadline and then
    // receives no further input; only key "z" (same window span, watermark
    // stays below end-of-window) is driven. The catch-up event-time timer
    // must wake "a" once the deadline passes — before end-of-window.
    val panes = run(AfterWatermarkEL(Some(AfterProcessingTimeT(250L)), None),
      "ct_proctime_quiescent", lateness = 600000L) { (input, q) =>
      input.addData(("a", ts("2024-01-01 10:00:01"), 1L), ("a", ts("2024-01-01 10:00:02"), 1L))
      q.processAllAvailable() // arm deadline; not yet due -> no pane
      Thread.sleep(400)       // let the proc-time deadline pass while "a" is idle
      input.addData(("z", ts("2024-01-01 10:00:30"), 1L))
      q.processAllAvailable() // z's batch advances the watermark -> catch-up wakes "a"
      input.addData(("z", ts("2024-01-01 10:05:00"), 1L))
      q.processAllAvailable() // watermark past end -> ON_TIME
    }
    assert(panes == Seq((2L, 0, "EARLY", false), (2L, 1, "ON_TIME", false)), panes.toString)
  }

  test("AfterProcessingTime with an unreachable delay never fires early") {
    val panes = run(AfterWatermarkEL(Some(AfterProcessingTimeT(java.util.concurrent.TimeUnit.DAYS.toMillis(365))), None),
      "ct_proctime_far", lateness = 600000L) { (input, q) =>
      input.addData(("a", ts("2024-01-01 10:00:01"), 1L), ("a", ts("2024-01-01 10:00:02"), 1L))
      q.processAllAvailable() // armed, deadline a year out: no early pane
      input.addData(("z", ts("2024-01-01 10:05:00"), 1L))
      q.processAllAvailable() // watermark -> ON_TIME only
    }
    assert(panes == Seq((2L, 0, "ON_TIME", false)), panes.toString)
  }

  test("a finished root CLOSES the window: in-lateness data is dropped, no second final pane") {
    // regression for the closed-window hazard: AfterCount(2) fires and
    // finishes before the watermark; data for the same window arriving
    // before the GC horizon must be dropped (droppedDueToClosedWindow) —
    // round 2 reopened the window with a fresh accumulator and emitted a
    // second isFinal pane
    val panes = run(AfterCountT(2), "ct_closed", lateness = 600000L) { (input, q) =>
      input.addData(("a", ts("2024-01-01 10:00:01"), 1L), ("a", ts("2024-01-01 10:00:02"), 1L))
      q.processAllAvailable() // count met: fire + root finished -> closed
      input.addData(("a", ts("2024-01-01 10:00:03"), 1L))
      q.processAllAvailable() // same window, before GC: dropped
      input.addData(("z", ts("2024-01-01 10:30:00"), 1L))
      q.processAllAvailable() // past GC horizon: tombstone clears silently
      input.addData(("a", ts("2024-01-01 10:00:04"), 1L))
      q.processAllAvailable() // beyond lateness: still dropped
    }
    assert(panes == Seq((2L, 0, "EARLY", true)), panes.toString)
  }

  test("AfterAll(AfterCount(2), AfterWatermark) waits for both conditions") {
    val panes = run(AfterAllT(Seq(AfterCountT(2), AfterWatermarkT)), "ct_all",
      lateness = 600000L) { (input, q) =>
      input.addData(("a", ts("2024-01-01 10:00:01"), 1L), ("a", ts("2024-01-01 10:00:02"), 1L))
      q.processAllAvailable() // count met, watermark not: no fire
      input.addData(("z", ts("2024-01-01 10:05:00"), 1L))
      q.processAllAvailable() // both met now: fire
      input.addData(("z", ts("2024-01-01 10:20:00"), 1L))
      q.processAllAvailable()
    }
    assert(panes.head == ((2L, 0, "ON_TIME", true)) || panes.head == ((2L, 0, "ON_TIME", false)),
      panes.toString)
    assert(panes.head._1 == 2L && panes.head._3 == "ON_TIME", panes.toString)
  }

  test("Never: exactly one pane per window, the final flush at the GC horizon") {
    // reference: SDK/transforms/windowing/Never.java:36 - the trigger never
    // fires; ReduceFnRunner still emits the window's contents once when it
    // expires
    val panes = run(NeverT, "ct_never", lateness = 60000L) { (input, q) =>
      input.addData(("a", ts("2024-01-01 10:00:01"), 1L), ("a", ts("2024-01-01 10:00:02"), 1L))
      q.processAllAvailable() // no firing
      input.addData(("z", ts("2024-01-01 10:01:30"), 1L))
      q.processAllAvailable() // watermark past end, before GC: still nothing
      input.addData(("a", ts("2024-01-01 10:00:59"), 1L))
      q.processAllAvailable() // late within lateness: absorbed, no firing
      input.addData(("z", ts("2024-01-01 10:30:00"), 1L))
      q.processAllAvailable() // GC horizon: the single final pane
    }
    assert(panes == Seq((3L, 0, "ON_TIME", true)), panes.toString)
  }

  test("state layout: one state row per open window") {
    // each (key, window) is ONE MapState record — accumulator, pane
    // metadata and trigger state together; timers live in the store's
    // internal column families, which numRowsTotal leaves out
    val (keys, wins) = (3, 4)
    val input = MemoryStream[(String, Timestamp, Long)](spark)
    val assigned = Triggers.assignFixedWindows(
      input.toDF().toDF("k", "t", "v").withWatermark("t", "0 seconds")
        .as[(String, Timestamp, Long)], 60000L)
    val panes = Triggers.triggeredAggregateComposite(assigned, countFn,
      AfterWatermarkEL(Some(AfterCountT(2)), None), windowSizeMs = 60000L,
      allowedLatenessMs = 3600000L)
    val q = panes.toDF().writeStream.format("memory").queryName("ct_layout")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      input.addData(for (k <- 0 until keys; w <- 0 until wins)
        yield (s"k$k", new Timestamp(ts("2024-01-01 10:00:10").getTime + w * 60000L), 1L))
      q.processAllAvailable()
      val rows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(rows == keys * wins, s"$rows state rows for $keys keys x $wins open windows")
    } finally q.stop()
  }

  test("AfterProcessingTime.alignedTo: deadline ceiling-aligns to the period grid") {
    // reference TimestampTransform.AlignTo: smallest multiple of period
    // since offset that is NOT before the timestamp
    assert(AfterProcessingTimeT(100L).deadlineFrom(1234L) == 1334L) // no alignment
    assert(AfterProcessingTimeT(100L, alignPeriodMs = 1000L).deadlineFrom(1234L) == 2000L)
    assert(AfterProcessingTimeT(100L, alignPeriodMs = 1000L, alignOffsetMs = 500L)
      .deadlineFrom(1234L) == 1500L)
    // exactly on a boundary: stays (not-before contract)
    assert(AfterProcessingTimeT(100L, alignPeriodMs = 1000L).deadlineFrom(900L) == 1000L)
    // negative-epoch arming still lands on the grid (floorMod, not %)
    assert(AfterProcessingTimeT(0L, alignPeriodMs = 1000L).deadlineFrom(-1500L) == -1000L)
  }
}
