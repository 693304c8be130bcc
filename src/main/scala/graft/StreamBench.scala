package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.CombineFn
import graft.streaming.Triggers
import graft.streaming.Triggers._

/** Streaming PERFORMANCE bench (dev tool, not part of the library):
  * absolute throughput (rows/s), per-micro-batch latency, and state-store
  * size for the engine's stateful streaming operators vs the Spark
  * BUILT-IN equivalent where one exists — the numbers [[StreamProbe]]'s
  * scale-ratio/leak probes deliberately don't capture.
  *
  * Pipelines (each fed ≥1M rows through MemoryStream at local[32],
  * RocksDB state store, one `processAllAvailable` per generated batch):
  *
  *  - `win_builtin`   : groupBy(k, window(t, 60s)).agg(sum) append — the
  *    Catalyst streaming aggregation (partial agg before the shuffle,
  *    codegen'd) that the default-trigger pane processor competes with;
  *  - `win_custom`    : [[Triggers.triggeredAggregate]] final-panes-only —
  *    SAME semantics as win_builtin, so custom/builtin is a pure
  *    overhead ratio for the trigger engine's hot path
  *    (RCORE/ReduceFnRunner.java:89 is the reference's own equivalent);
  *  - `sess_builtin`  : groupBy(k, session_window(t, 10s)).agg(sum);
  *  - `sess_custom`   : [[Triggers.sessionAggregateTriggered]] with the
  *    plain AfterWatermark trigger — same finals as sess_builtin;
  *  - `asof_backward/forward/nearest`: the [[graft.streaming.AsOfStream]]
  *    processors (no built-in equivalent exists — Spark's interval join
  *    emits every in-range right, not the latest/earliest/nearest one);
  *    absolute throughput + the dominance-GC state ceiling over time.
  *
  * Emits one JSON line per pipeline:
  * {"stream_bench":name,rows,wall_sec,rows_per_sec,batch_med_ms,
  *  batch_p95_ms,max_state_rows,final_state_rows} and a closing
  * {"stream_bench_summary":...} with the custom/builtin ratios. Knobs:
  * SPARK_GRAFT_SB_KEYS (default 2000), SPARK_GRAFT_SB_BATCHES (8),
  * SPARK_GRAFT_SB_ROWS (rows per key per batch, 64) — defaults give
  * 2000×8×64 = 1.024M rows per pipeline. Results + analysis live in
  * BASELINE.md (round 14 streaming table).
  */
object StreamBench {

  /** BENCH-ONLY copy of the pre-r15 GroupIntoBatches formulation — one
    * RocksDB appendValue per ELEMENT plus a full list read per flush —
    * kept here solely as the comparison arm for the `gib_perrow` pipeline
    * (the library operator batches its state writes; see
    * [[graft.streaming.Stateful.GroupIntoBatchesProcessor]]). */
  private final class PerRowBatcher[K, V](n: Int, flushDelayMs: Long)(
      implicit vEnc: org.apache.spark.sql.Encoder[V],
      kvListEnc: org.apache.spark.sql.Encoder[(K, List[V])])
      extends org.apache.spark.sql.streaming.StatefulProcessor[K, V, (K, List[V])] {
    import org.apache.spark.sql.streaming._
    @transient private var buf: ListState[V] = _
    @transient private var cnt: ValueState[Long] = _
    override def init(om: OutputMode, tm: TimeMode): Unit = {
      buf = getHandle.getListState[V]("buf", vEnc, TTLConfig.NONE)
      cnt = getHandle.getValueState[Long]("cnt",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: K, rows: Iterator[V],
                                 tv: TimerValues): Iterator[(K, List[V])] = {
      var out = List.empty[(K, List[V])]
      var pending = if (cnt.exists()) cnt.get() else 0L
      rows.foreach { v =>
        buf.appendValue(v)
        pending += 1
        if (pending >= n) {
          out = (key, buf.get().toList) :: out
          buf.clear(); pending = 0
        }
      }
      // clear-vs-update(0) parity with the library processor (the r18
      // state-row leak fix): a drained key must leave ZERO quiescent rows
      if (pending > 0) {
        cnt.update(pending)
        getHandle.registerTimer(tv.getCurrentWatermarkInMs() + flushDelayMs)
      } else cnt.clear()
      out.reverseIterator
    }
    override def handleExpiredTimer(key: K, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[(K, List[V])] = {
      val pending = if (cnt.exists()) cnt.get() else 0L
      if (pending > 0) {
        val batch = buf.get().toList
        buf.clear(); cnt.clear()
        Iterator((key, batch))
      } else { cnt.clear(); Iterator.empty }
    }
  }

  private val sumFn: CombineFn[Long, Long, Long] = new CombineFn[Long, Long, Long] {
    def createAccumulator(): Long = 0L
    def addInput(acc: Long, in: Long): Long = acc + in
    def mergeAccumulators(a: Long, b: Long): Long = a + b
    def extractOutput(acc: Long): Long = acc
  }

  private final case class Res(name: String, rows: Long, wallSec: Double,
                               batchMedMs: Long, batchP95Ms: Long,
                               maxState: Long, finalState: Long) {
    def eps: Double = rows / wallSec
    def json: String =
      f"""{"stream_bench":"$name","rows":$rows,"wall_sec":$wallSec%.2f,""" +
        f""""rows_per_sec":$eps%.0f,"batch_med_ms":$batchMedMs,""" +
        f""""batch_p95_ms":$batchP95Ms,"max_state_rows":$maxState,""" +
        f""""final_state_rows":$finalState}"""
  }

  def main(args: Array[String]): Unit = {
    val nKeys = sys.env.getOrElse("SPARK_GRAFT_SB_KEYS", "2000").toInt
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_SB_BATCHES", "8").toInt
    val perKey = sys.env.getOrElse("SPARK_GRAFT_SB_ROWS", "64").toInt
    // the asof pipelines feed perKey/2 rows per SIDE; an odd knob would
    // silently give them one fewer row per key than the window/session
    // pipelines — require even so cross-pipeline row counts agree
    require(perKey % 2 == 0,
      s"SPARK_GRAFT_SB_ROWS must be even (asof pipelines use perKey/2 per side), got $perKey")
    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val winMs = 60000L

    // checkpoint dirs are deleted after each pipeline's q.stop() —
    // every run otherwise leaks its full RocksDB state footprint to /tmp
    val ckptDirs = scala.collection.mutable.ListBuffer.empty[java.nio.file.Path]
    def startNoop(df: DataFrame): StreamingQuery = {
      val dir = java.nio.file.Files.createTempDirectory("graft-streambench")
      ckptDirs += dir
      df.writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", dir.toString).start()
    }
    def cleanCkpts(): Unit = {
      ckptDirs.foreach(d => try {
        org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
      } catch { case _: Throwable => () })
      ckptDirs.clear()
    }

    /** Drive `q`: per batch, feed `mk(batch)` rows into the stream(s) via
      * `feed`, processAllAvailable; then run `flush` twice (watermark past
      * every GC horizon). Returns throughput/latency/state numbers. */
    def drive(name: String, q: StreamingQuery, rows: Long, nb: Int,
              feed: Int => Unit, flush: Int => Unit): Res = {
      val t0 = System.nanoTime()
      (0 until nb).foreach { b => feed(b); q.processAllAvailable() }
      // three flush advances: one to ride the watermark past every GC
      // horizon, one so every expired timer has run, one more so the
      // final numRowsTotal snapshot is AFTER the last eviction batch
      (0 until 3).foreach { i => flush(i); q.processAllAvailable() }
      val wall = (System.nanoTime() - t0) / 1e9
      val prog = q.recentProgress.toSeq
      val durs = prog.flatMap(p => Option(p.durationMs.get("triggerExecution"))
        .map(_.toLong)).filter(_ > 0).sorted
      val med = if (durs.isEmpty) -1L else durs(durs.size / 2)
      val p95 = if (durs.isEmpty) -1L else durs(math.min(durs.size - 1, (durs.size * 95) / 100))
      val states = prog.flatMap(_.stateOperators.toSeq.map(_.numRowsTotal))
      q.stop()
      cleanCkpts()
      Res(name, rows, wall, med, p95,
        if (states.isEmpty) -1 else states.max, if (states.isEmpty) -1 else states.last)
    }


    // ---- fixed windows: batch b covers window b per key --------------------
    def winRows(ks: Seq[String], b: Int): Seq[(String, Timestamp, Long)] = {
      val base = b * winMs
      ks.flatMap(k => (0 until perKey).map(j =>
        (k, new Timestamp(base + j * (winMs - 4000) / perKey + 1), j.toLong)))
    }
    def winFlush(in: MemoryStream[(String, Timestamp, Long)], nb: Int)(i: Int): Unit =
      in.addData(("__wm", new Timestamp((nb + 4 + 4 * i) * winMs), 0L))

    def winBuiltin(name: String, ks: Seq[String], nb: Int): Res = {
      val in = MemoryStream[(String, Timestamp, Long)](spark)
      // the sentinel filter must be a TYPED lambda on BOTH pipelines: a
      // Column predicate gets pushed below the EventTimeWatermark node and
      // the flush sentinels would never advance the watermark (verified —
      // the built-in then never evicts its last windows). Sharing the
      // ingestion shape also makes custom/builtin a pure stateful-operator
      // ratio.
      val agg = in.toDF().toDF("k", "t", "v")
        .withWatermark("t", "0 seconds")
        .as[(String, Timestamp, Long)].filter(_._1 != "__wm")
        .toDF("k", "t", "v")
        .groupBy(col("k"), window(col("t"), "60 seconds"))
        .agg(sum(col("v")).as("s"))
      drive(name, startNoop(agg), ks.size.toLong * nb * perKey, nb,
        b => in.addData(winRows(ks, b)), winFlush(in, nb))
    }

    def winCustom(name: String, ks: Seq[String], nb: Int): Res = {
      val in = MemoryStream[(String, Timestamp, Long)](spark)
      val assigned = Triggers.assignFixedWindows(
        in.toDF().toDF("k", "t", "v").withWatermark("t", "0 seconds")
          .as[(String, Timestamp, Long)].filter(_._1 != "__wm"), winMs)
      val panes = Triggers.triggeredAggregate(assigned, sumFn,
        TriggerConfig(windowSizeMs = winMs))
      drive(name, startNoop(panes.toDF()), ks.size.toLong * nb * perKey, nb,
        b => in.addData(winRows(ks, b)), winFlush(in, nb))
    }

    // ---- sessions: batch b = one burst per key (span < gap) ----------------
    val gapMs = 10000L
    def sessRows(ks: Seq[String], b: Int): Seq[(String, Timestamp, Long)] = {
      val base = b * winMs
      ks.flatMap(k => (0 until perKey).map(j =>
        (k, new Timestamp(base + j * 100 + 1), j.toLong)))
    }

    def sessBuiltin(name: String, ks: Seq[String], nb: Int): Res = {
      val in = MemoryStream[(String, Timestamp, Long)](spark)
      val agg = in.toDF().toDF("k", "t", "v")
        .withWatermark("t", "0 seconds")
        .as[(String, Timestamp, Long)].filter(_._1 != "__wm") // see winBuiltin
        .toDF("k", "t", "v")
        .groupBy(col("k"), session_window(col("t"), "10 seconds"))
        .agg(sum(col("v")).as("s"))
      drive(name, startNoop(agg), ks.size.toLong * nb * perKey, nb,
        b => in.addData(sessRows(ks, b)), winFlush(in, nb))
    }

    def sessCustom(name: String, ks: Seq[String], nb: Int): Res = {
      val in = MemoryStream[(String, Timestamp, Long)](spark)
      val events = in.toDF().toDF("k", "t", "v")
        .withWatermark("t", "0 seconds")
        .selectExpr("k", "CAST(unix_millis(t) AS LONG) AS ts", "v")
        .as[(String, Long, Long)]
        .filter(_._1 != "__wm")
      val panes = Triggers.sessionAggregateTriggered(events, sumFn,
        gapMs = gapMs, trigger = AfterWatermarkEL(None, None),
        allowedLatenessMs = 0L)
      drive(name, startNoop(panes.toDF()), ks.size.toLong * nb * perKey, nb,
        b => in.addData(sessRows(ks, b)), winFlush(in, nb))
    }

    // ---- GroupIntoBatches: the r15 state-write-batching fix, quantified in
    // STREAMING mode (the 20x q_stateful_batches win was batch-mode). Two
    // arms over identical feeds: the library processor (one appendList per
    // key-call) vs a bench-local copy of the pre-r15 per-row-append
    // formulation — so the ratio isolates exactly the state-traffic change.
    def gib(name: String, perRowArm: Boolean, ks: Seq[String], nb: Int): Res = {
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val in = MemoryStream[(String, Timestamp, Long)](spark)
      val grouped = in.toDF().toDF("k", "t", "v")
        .withWatermark("t", "0 seconds")
        .as[(String, Timestamp, Long)]
        .filter(_._1 != "__wm")
        .groupByKey(_._1)
      val out =
        if (perRowArm)
          grouped.transformWithState(
            new PerRowBatcher[String, (String, Timestamp, Long)](100, 0L),
            TimeMode.EventTime(), OutputMode.Append())
        else
          graft.streaming.Stateful.groupIntoBatches(grouped, n = 100,
            flushDelayMs = 0L, timeMode = TimeMode.EventTime())
      val sizes = out.map { case (k, vs) => (k, vs.size) }
      drive(name, startNoop(sizes.toDF()), ks.size.toLong * nb * perKey, nb,
        b => in.addData(winRows(ks, b)), winFlush(in, nb))
    }

    // ---- composite trigger: MANY live windows per key ----------------------
    // The composite-trigger regime none of the arms above exercise:
    // `liveWindows` fixed windows per key held open SIMULTANEOUSLY for the
    // whole run (the watermark lags by liveWindows*winMs), early panes
    // firing every perWin rows (Repeatedly(AfterCount) under
    // AfterWatermarkEL) in accumulating mode — live state =
    // keys × liveWindows window accumulators + per-window trigger-AST
    // state, the worst case for the trigger engine's state envelope.
    val liveWindows = 16
    def compRows(ks: Seq[String], b: Int): Seq[(String, Timestamp, Long)] = {
      val perWin = math.max(1, perKey / liveWindows)
      ks.flatMap(k => (0 until perKey).map { j =>
        val w = j % liveWindows
        val off = b.toLong * perWin + j / liveWindows
        (k, new Timestamp(w * winMs + (off % (winMs - 4000)) + 1), j.toLong)
      })
    }
    def compCustom(name: String, ks: Seq[String], nb: Int): Res = {
      val wmDelayMs = liveWindows * winMs
      val in = MemoryStream[(String, Timestamp, Long)](spark)
      val assigned = Triggers.assignFixedWindows(
        in.toDF().toDF("k", "t", "v")
          .withWatermark("t", s"${wmDelayMs / 1000} seconds")
          .as[(String, Timestamp, Long)].filter(_._1 != "__wm"), winMs)
      val panes = Triggers.triggeredAggregateComposite(assigned, sumFn,
        trigger = AfterWatermarkEL(
          Some(RepeatedlyT(AfterCountT(math.max(1, perKey / liveWindows)))), None),
        windowSizeMs = winMs, accumulating = true)
      def flush(i: Int): Unit = in.addData(
        ("__wm", new Timestamp(wmDelayMs + (liveWindows + 4 + 4 * i) * winMs), 0L))
      drive(name, startNoop(panes.toDF()), ks.size.toLong * nb * perKey, nb,
        b => in.addData(compRows(ks, b)), flush)
    }

    // ---- streaming as-of: half rights, half lefts per batch ----------------
    def asof(name: String, direction: String, ks: Seq[String], nb: Int): Res = {
      val leftIn = MemoryStream[(String, Timestamp, String)](spark)
      val rightIn = MemoryStream[(String, Timestamp, Long)](spark)
      val half = perKey / 2
      val out = (direction match {
        case "forward" => graft.streaming.AsOfStream.asOfJoinForward(
          leftIn.toDS(), rightIn.toDS(), toleranceMs = 5000L)
        case "nearest" => graft.streaming.AsOfStream.asOfJoinNearest(
          leftIn.toDS(), rightIn.toDS(), toleranceMs = 5000L)
        case _ => graft.streaming.AsOfStream.asOfJoin(leftIn.toDS(), rightIn.toDS())
      }).map(j => (j.key, j.leftTs, j.rightTs.getOrElse(-1L)))
      def feed(b: Int): Unit = {
        val base = b * winMs
        val step = (winMs - 4000) / half
        rightIn.addData(ks.flatMap(k => (0 until half).map(j =>
          (k, new Timestamp(base + j * step + 1), j.toLong))))
        leftIn.addData(ks.flatMap(k => (0 until half).map(j =>
          (k, new Timestamp(base + j * step + 500), "l"))))
      }
      def flush(i: Int): Unit = {
        val far = (nb + 5 + 4 * i) * winMs
        rightIn.addData(("__wm", new Timestamp(far), 0L))
        leftIn.addData(("__wm", new Timestamp(far + 1000), "l"))
      }
      drive(name, startNoop(out.toDF()), ks.size.toLong * nb * half * 2, nb,
        feed, flush)
    }

    val keys = (0 until nKeys).map(i => s"k$i")
    // SPARK_GRAFT_SB_ARMS: comma-separated arm names to run (default all).
    // Needed for volume runs: a MemoryStream retains its ENTIRE feed on
    // the driver for the pipeline's lifetime (test-source semantics), so
    // the all-arms sweep at ×10 rows holds ~10 × 10.24M feed tuples
    // reachable and OOMs an 8g driver — the feeds, not the engine state,
    // whose envelopes the per-arm assertions pin. A single-arm ×10 run
    // fits comfortably.
    val armFilter = sys.env.get("SPARK_GRAFT_SB_ARMS")
      .map(_.split(",").map(_.trim).toSet)
    def want(name: String) = armFilter.forall(_.contains(name))
    // warm pass: tiny run of every pipeline family so no measured query
    // pays JVM/codegen/RocksDB-JNI first-load costs (the first query
    // otherwise reads ~2x slower than steady state)
    val wk = keys.take(20)
    if (want("win_builtin")) winBuiltin("warm_wb", wk, 2)
    if (want("win_custom")) winCustom("warm_wc", wk, 2)
    if (want("sess_builtin")) sessBuiltin("warm_sb", wk, 2)
    if (want("sess_custom")) sessCustom("warm_sc", wk, 2)
    if (Seq("asof_backward", "asof_forward", "asof_nearest").exists(want))
      asof("warm_a", "backward", wk, 2)
    if (want("gib_batched") || want("gib_perrow")) gib("warm_g", perRowArm = false, wk, 2)
    if (want("comp_custom")) compCustom("warm_cc", wk, 2)
    val results = Seq(
      "win_builtin" -> (() => winBuiltin("win_builtin", keys, nBatches)),
      "win_custom" -> (() => winCustom("win_custom", keys, nBatches)),
      "sess_builtin" -> (() => sessBuiltin("sess_builtin", keys, nBatches)),
      "sess_custom" -> (() => sessCustom("sess_custom", keys, nBatches)),
      "asof_backward" -> (() => asof("asof_backward", "backward", keys, nBatches)),
      "asof_forward" -> (() => asof("asof_forward", "forward", keys, nBatches)),
      "asof_nearest" -> (() => asof("asof_nearest", "nearest", keys, nBatches)),
      "gib_batched" -> (() => gib("gib_batched", perRowArm = false, keys, nBatches)),
      "gib_perrow" -> (() => gib("gib_perrow", perRowArm = true, keys, nBatches)),
      "comp_custom" -> (() => compCustom("comp_custom", keys, nBatches)))
      .collect { case (n, run) if want(n) => run() }
    results.foreach(r => println(r.json))
    // Bounded-state assertions (r15 verdict item 7): every pipeline must
    // return to its documented quiescent envelope after the flush
    // advances — fully evicted for the windowed/session/batching/composite
    // arms, ≤ one dominant right per key + sentinels for backward/nearest
    // as-of, O(1) for forward. A leak at volume exits nonzero instead of
    // silently shipping a bigger number. SPARK_GRAFT_SB_ASSERT=0 disables.
    if (sys.env.getOrElse("SPARK_GRAFT_SB_ASSERT", "1") == "1") {
      val leaks = results.flatMap { r =>
        val bound = r.name match {
          case "asof_backward" | "asof_nearest" => nKeys.toLong + 10
          case "asof_forward" => 10L
          case _ => 0L
        }
        if (r.finalState > bound)
          Some(s"${r.name}: final_state_rows ${r.finalState} > bound $bound")
        else None
      }
      if (leaks.nonEmpty) {
        leaks.foreach(l => System.err.println(s"[streambench] STATE LEAK $l"))
        spark.stop(); sys.exit(1)
      }
    }
    // the ratio summary only makes sense on the full-arm sweep; a
    // filtered run (SPARK_GRAFT_SB_ARMS) gets the per-arm JSON lines only
    if (armFilter.isEmpty) {
      def of(n: String) = results.find(_.name == n).get
      val winRatio = of("win_custom").wallSec / of("win_builtin").wallSec
      val sessRatio = of("sess_custom").wallSec / of("sess_builtin").wallSec
      val gibRatio = of("gib_perrow").wallSec / of("gib_batched").wallSec
      println(f"""{"stream_bench_summary":{"keys":$nKeys,"batches":$nBatches,""" +
        f""""rows_per_pipeline":${nKeys.toLong * nBatches * perKey},"win_custom_over_builtin":$winRatio%.2f,""" +
        f""""sess_custom_over_builtin":$sessRatio%.2f,"gib_perrow_over_batched":$gibRatio%.2f,""" +
        f""""comp_live_windows":${nKeys.toLong * liveWindows},"comp_rows_per_sec":${of("comp_custom").eps}%.0f}}""")
    }
    spark.stop()
  }
}
