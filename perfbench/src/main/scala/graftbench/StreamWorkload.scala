package graftbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.functions.CombineFn
import graft.streaming.{AsOfStream, Stateful, Triggers}
import graft.streaming.Triggers._

/** Keeps every progress report of every streaming query, by query name.
  * `StreamingQuery.recentProgress` keeps only the last
  * `spark.sql.streaming.numRecentProgressUpdates` (100), which would
  * silently cut a longer run's maximum state reading. */
final class ProgressRecorder extends StreamingQueryListener {
  private val byName = new ConcurrentHashMap[String, mutable.ArrayBuffer[StreamingQueryProgress]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val buf = byName.computeIfAbsent(Option(e.progress.name).getOrElse(""),
      _ => mutable.ArrayBuffer.empty)
    buf.synchronized(buf += e.progress)
  }
  def progress(name: String): Seq[StreamingQueryProgress] =
    Option(byName.get(name)).map(b => b.synchronized(b.toSeq)).getOrElse(Nil)
}

object ProgressRecorder {
  private val bySession = mutable.HashMap.empty[SparkSession, ProgressRecorder]
  /** The recorder of `spark`, registered on first use only. */
  def of(spark: SparkSession): ProgressRecorder = synchronized {
    bySession.filterInPlace((s, _) => !s.sparkContext.isStopped)
    bySession.getOrElseUpdate(spark, {
      val r = new ProgressRecorder
      spark.streams.addListener(r)
      r
    })
  }
}

/** Totals the outputs of a pipeline, batch by batch. */
final class OutputTally {
  @volatile var rows = 0L
  @volatile var finals = 0L
  @volatile var finalSum = 0L
  @volatile var sizeSum = 0L
  @volatile var matched = 0L
  @volatile var maxSize = 0L
}

/** One pipeline run: per-batch latencies, wall and rows fed of the timed
  * batches, the outputs, and the checks that failed. */
final case class PipelineRun(name: String, rowsFed: Long, batches: Int, startS: Double,
                             warmS: Double, wallS: Double, batchMs: Seq[Double], tally: OutputTally,
                             progress: Seq[StreamingQueryProgress], checks: Seq[String],
                             exec: ExecLedger, jobs: Seq[JobRec], stages: Seq[StageRec],
                             phases: Seq[PhaseRec], span: Long, batchSpans: Seq[(Long, Double, Double)]) {
  def ok: Boolean = checks.isEmpty
}

/** The stream_stateful workload: five MemoryStream pipelines on the RocksDB
  * state store, each fed a fixed schedule of micro-batches in a closed loop
  * (feed one batch, wait until it is processed, feed the next). Feeds are
  * the StreamBench shapes; the seed sets key order and event-time jitter
  * inside each window. */
final class StreamWorkload(spark: SparkSession, ckptRoot: java.nio.file.Path, seed: Long,
                           keys: Int, perKey: Int, flushes: Int = 2) {
  private val warmBatches = 1
  import spark.implicits._
  require(perKey % 2 == 0 && perKey >= StreamWorkload.LiveWindows)

  private val WinMs = 60000L
  private val GapMs = 10000L
  private val LiveWindows = StreamWorkload.LiveWindows
  private val rnd = new scala.util.Random(seed)
  private val ks: IndexedSeq[String] = rnd.shuffle((0 until keys).map(i => s"k$i"))
  private val sumFn: CombineFn[Long, Long, Long] = new CombineFn[Long, Long, Long] {
    def createAccumulator(): Long = 0L
    def addInput(acc: Long, in: Long): Long = acc + in
    def mergeAccumulators(a: Long, b: Long): Long = a + b
    def extractOutput(acc: Long): Long = acc
  }
  private def jitter(bound: Long): Long = if (bound <= 1) 0L else (rnd.nextLong() & Long.MaxValue) % bound

  /** Fixed windows: batch b fills window b of every key. */
  private def winRows(b: Int): Seq[(String, Timestamp, Long)] = {
    val step = (WinMs - 4000) / perKey
    ks.flatMap(k => (0 until perKey).map(j =>
      (k, new Timestamp(b * WinMs + j * step + 1 + jitter(step)), j.toLong + 1)))
  }
  /** Sessions: batch b is one burst per key, shorter than the gap. */
  private def sessRows(b: Int): Seq[(String, Timestamp, Long)] =
    ks.flatMap(k => (0 until perKey).map(j =>
      (k, new Timestamp(b * WinMs + j * 100 + 1 + jitter(100)), j.toLong + 1)))
  /** Composite: every key keeps `LiveWindows` windows open all run. */
  private def compRows(b: Int): Seq[(String, Timestamp, Long)] = {
    val perWin = perKey / LiveWindows
    ks.flatMap(k => (0 until perKey).map { j =>
      val off = b.toLong * perWin + j / LiveWindows
      (k, new Timestamp((j % LiveWindows) * WinMs + (off % (WinMs - 4000)) + 1), j.toLong + 1)
    })
  }

  private val recorder = ProgressRecorder.of(spark)

  private def start(name: String, out: DataFrame, tally: OutputTally,
                    agg: DataFrame => Array[Long]): StreamingQuery = {
    val dir = java.nio.file.Files.createTempDirectory(ckptRoot, name)
    val sink: (DataFrame, Long) => Unit = (df, _) => {
      val r = agg(df)
      tally.synchronized {
        tally.rows += r(0); tally.finals += r(1); tally.finalSum += r(2)
        tally.sizeSum += r(3); tally.matched += r(4); tally.maxSize = tally.maxSize.max(r(5))
      }
    }
    out.writeStream.queryName(name).option("checkpointLocation", dir.toString)
      .outputMode("append").foreachBatch(sink).start()
  }

  private def paneAgg(df: DataFrame): Array[Long] = {
    val r = df.agg(count(lit(1)), sum(when(col("_7"), 1L).otherwise(0L)),
      sum(when(col("_7"), col("_4")).otherwise(0L))).head()
    Array(r.getLong(0), Option(r.get(1)).fold(0L)(_.toString.toLong),
      Option(r.get(2)).fold(0L)(_.toString.toLong), 0L, 0L, 0L)
  }

  /** Feeds `warmBatches` untimed batches (they load and compile the
    * pipeline's code), then `nb` timed batches, each stamped at creation, then `flushes`
    * watermark advances that bring the pipeline back to its quiescent
    * state. Each batch is processed before the next is fed. */
  private def drive(name: String, created: Double, q: StreamingQuery, nb: Int, feed: Int => (Long, Long),
                    flush: Int => Unit, tally: OutputTally,
                    check: (Long, Long, OutputTally, Seq[StreamingQueryProgress]) => Seq[String],
                    tracer: Tracer, parent: Long): PipelineRun = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val batchSpans = mutable.ArrayBuffer.empty[(Long, Double, Double)]
    val started = Clock.nowMs
    var (rows, vsum) = (0L, 0L)
    var t0 = started
    var timedRows = 0L
    val pipeSpan = tracer.span(parent, "pipeline", name, name) { pipe =>
      try {
        (0 until warmBatches).foreach { b =>
          val (n, s) = feed(b)
          rows += n; vsum += s
          q.processAllAvailable()
        }
        t0 = Clock.nowMs
        (warmBatches until warmBatches + nb).foreach { b =>
          val stamp = Clock.nowMs
          val (n, s) = feed(b)
          rows += n; vsum += s; timedRows += n
          q.processAllAvailable()
          val done = Clock.nowMs
          lat += done - stamp
          batchSpans += ((tracer.add(pipe, "batch", s"$name/$b", name, stamp, done), stamp, done))
        }
        (0 until flushes).foreach { i => flush(i); q.processAllAvailable() }
      } finally q.stop()
      pipe
    }
    val wall = (Clock.nowMs - t0) / 1000.0
    val layers = Layers.of(spark)
    layers.drain()
    val prog = recorder.progress(name)
    System.err.println(f"[perfbench] $name: $timedRows timed rows, $nb batches, wall $wall%.2f s, " +
      f"warm batches ${(t0 - started) / 1000.0}%.2f s, batch p50 ${Stats.medianOr0(lat.toSeq)}%.0f ms")
    val (jobs, stages) = layers.exec.takeSpans()
    PipelineRun(name, timedRows, nb, (started - created) / 1000.0, (t0 - started) / 1000.0, wall,
      lat.toSeq, tally, prog, check(rows, vsum, tally, prog), layers.exec.takeAll(), jobs, stages,
      layers.plan.take()._1, pipeSpan, batchSpans.toSeq)
  }

  private def finalState(prog: Seq[StreamingQueryProgress]): Long =
    prog.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)

  /** Common closed-form checks for pane-producing pipelines. */
  private def paneChecks(expectFinals: Long, stateBound: Long)(
      rows: Long, vsum: Long, t: OutputTally, prog: Seq[StreamingQueryProgress]): Seq[String] =
    Seq(
      if (t.finals != expectFinals) Some(s"final panes ${t.finals} != $expectFinals") else None,
      if (t.finalSum != vsum) Some(s"final pane sum ${t.finalSum} != fed sum $vsum") else None,
      if (finalState(prog) > stateBound || finalState(prog) < 0)
        Some(s"quiescent state rows ${finalState(prog)} > bound $stateBound") else None
    ).flatten

  private def fixedStream() = {
    val in = MemoryStream[(String, Timestamp, Long)](spark)
    val events = in.toDF().toDF("k", "t", "v").withWatermark("t", "0 seconds")
      .as[(String, Timestamp, Long)].filter(_._1 != "__wm")
    (in, events)
  }
  private def feedOf(in: MemoryStream[(String, Timestamp, Long)],
                     rows: Int => Seq[(String, Timestamp, Long)])(b: Int): (Long, Long) = {
    val r = rows(b); in.addData(r); (r.size.toLong, r.map(_._3).sum)
  }

  def winCustom(nb: Int, tracer: Tracer, parent: Long, name: String = "win_custom"): PipelineRun = {
    Layers.of(spark).reset()
    val created = Clock.nowMs
    val (in, events) = fixedStream()
    val panes = Triggers.triggeredAggregate(Triggers.assignFixedWindows(events, WinMs), sumFn,
      TriggerConfig(windowSizeMs = WinMs))
    val tally = new OutputTally
    val q = start(name, panes.toDF(), tally, paneAgg)
    drive(name, created, q, nb, feedOf(in, winRows), i => in.addData(("__wm", new Timestamp((nb + 4 + 4 * i) * WinMs), 0L)),
      tally, paneChecks(keys.toLong * (nb + warmBatches), 0L), tracer, parent)
  }

  def compCustom(nb: Int, tracer: Tracer, parent: Long, name: String = "comp_custom"): PipelineRun = {
    Layers.of(spark).reset()
    val created = Clock.nowMs
    val wmDelayMs = LiveWindows * WinMs
    val in = MemoryStream[(String, Timestamp, Long)](spark)
    val assigned = Triggers.assignFixedWindows(
      in.toDF().toDF("k", "t", "v").withWatermark("t", s"${wmDelayMs / 1000} seconds")
        .as[(String, Timestamp, Long)].filter(_._1 != "__wm"), WinMs)
    val panes = Triggers.triggeredAggregateComposite(assigned, sumFn,
      trigger = AfterWatermarkEL(Some(RepeatedlyT(AfterCountT(perKey / LiveWindows))), None),
      windowSizeMs = WinMs, accumulating = true)
    val tally = new OutputTally
    val q = start(name, panes.toDF(), tally, paneAgg)
    drive(name, created, q, nb, feedOf(in, compRows),
      i => in.addData(("__wm", new Timestamp(wmDelayMs + (LiveWindows + 4 + 4 * i) * WinMs), 0L)),
      tally, paneChecks(keys.toLong * LiveWindows, 0L), tracer, parent)
  }

  def sessCustom(nb: Int, tracer: Tracer, parent: Long, name: String = "sess_custom"): PipelineRun = {
    Layers.of(spark).reset()
    val created = Clock.nowMs
    val in = MemoryStream[(String, Timestamp, Long)](spark)
    val events = in.toDF().toDF("k", "t", "v").withWatermark("t", "0 seconds")
      .selectExpr("k", "CAST(unix_millis(t) AS LONG) AS ts", "v")
      .as[(String, Long, Long)].filter(_._1 != "__wm")
    val panes = Triggers.sessionAggregateTriggered(events, sumFn, gapMs = GapMs,
      trigger = AfterWatermarkEL(None, None), allowedLatenessMs = 0L)
    val tally = new OutputTally
    val q = start(name, panes.toDF(), tally, paneAgg)
    drive(name, created, q, nb, feedOf(in, sessRows), i => in.addData(("__wm", new Timestamp((nb + 4 + 4 * i) * WinMs), 0L)),
      tally, paneChecks(keys.toLong * (nb + warmBatches), 0L), tracer, parent)
  }

  def gibBatched(nb: Int, tracer: Tracer, parent: Long, name: String = "gib_batched"): PipelineRun = {
    Layers.of(spark).reset()
    val created = Clock.nowMs
    import org.apache.spark.sql.streaming.TimeMode
    val (in, events) = fixedStream()
    val out = Stateful.groupIntoBatches(events.groupByKey(_._1), n = StreamWorkload.BatchCap,
      flushDelayMs = 0L, timeMode = TimeMode.EventTime())
    val sizes = out.map { case (k, vs) => (k, vs.size.toLong) }.toDF("k", "n")
    val tally = new OutputTally
    val q = start(name, sizes, tally, df => {
      val r = df.agg(count(lit(1)), sum("n"), max("n")).head()
      Array(r.getLong(0), 0L, 0L, Option(r.get(1)).fold(0L)(_.toString.toLong), 0L,
        Option(r.get(2)).fold(0L)(_.toString.toLong))
    })
    drive(name, created, q, nb, feedOf(in, winRows), i => in.addData(("__wm", new Timestamp((nb + 4 + 4 * i) * WinMs), 0L)),
      tally, (rows, _, t, prog) => Seq(
        if (t.sizeSum != rows) Some(s"batched rows ${t.sizeSum} != fed $rows") else None,
        if (t.maxSize > StreamWorkload.BatchCap) Some(s"batch of ${t.maxSize} > cap") else None,
        if (finalState(prog) != 0) Some(s"quiescent state rows ${finalState(prog)} != 0") else None
      ).flatten, tracer, parent)
  }

  def asofBackward(nb: Int, tracer: Tracer, parent: Long, name: String = "asof_backward"): PipelineRun = {
    Layers.of(spark).reset()
    val created = Clock.nowMs
    val leftIn = MemoryStream[(String, Timestamp, String)](spark)
    val rightIn = MemoryStream[(String, Timestamp, Long)](spark)
    val half = perKey / 2
    val out = AsOfStream.asOfJoin(leftIn.toDS(), rightIn.toDS())
      .map(j => (j.key, j.rightTs.getOrElse(-1L))).toDF("k", "r")
    val tally = new OutputTally
    val q = start(name, out, tally, df => {
      val r = df.agg(count(lit(1)),
        sum(when(col("r") >= 0 && col("k") =!= "__wm", 1L).otherwise(0L))).head()
      Array(r.getLong(0), 0L, 0L, 0L, Option(r.get(1)).fold(0L)(_.toString.toLong), 0L)
    })
    val step = (WinMs - 4000) / half
    def feed(b: Int): (Long, Long) = {
      val base = b * WinMs
      val offs = (0 until half).map(j => base + j * step + 1 + jitter(step - 1000))
      rightIn.addData(ks.flatMap(k => offs.zipWithIndex.map { case (t, j) => (k, new Timestamp(t), j.toLong) }))
      leftIn.addData(ks.flatMap(k => offs.map(t => (k, new Timestamp(t + 500), "l"))))
      (2L * keys * half, 0L)
    }
    def flush(i: Int): Unit = {
      val far = (nb + 5 + 4 * i) * WinMs
      rightIn.addData(("__wm", new Timestamp(far), 0L))
      leftIn.addData(("__wm", new Timestamp(far + 1000), "l"))
    }
    val lefts = keys.toLong * half * (nb + warmBatches)
    drive(name, created, q, nb, feed, flush, tally, (_, _, t, prog) => Seq(
      if (t.matched != lefts) Some(s"as-of matches ${t.matched} != lefts fed $lefts") else None,
      if (finalState(prog) > keys + 10) Some(s"quiescent state rows ${finalState(prog)} > ${keys + 10}") else None
    ).flatten, tracer, parent)
  }

  /** The five pipelines in a fixed order. */
  def all(nb: Int, tracer: Tracer, parent: Long, suffix: String = ""): Seq[PipelineRun] = {
    val pipelines: Seq[(String, (Int, Tracer, Long, String) => PipelineRun)] = Seq(
      "win_custom" -> winCustom, "comp_custom" -> compCustom, "sess_custom" -> sessCustom,
      "gib_batched" -> gibBatched, "asof_backward" -> asofBackward)
    pipelines.map { case (p, run) => StreamWorkload.attempt(p + suffix, nb)(run(nb, tracer, parent, p + suffix)) }
  }
}

object StreamWorkload {
  val LiveWindows = 16
  val BatchCap = 100
  val Pipelines = Seq("win_custom", "comp_custom", "sess_custom", "gib_batched", "asof_backward")
  /** 200 keys × 32 rows per key per batch; 3 timed batches per pipeline. */
  val Keys = 200
  val RowsPerKey = 32
  val TimedBatches = 3

  /** Runs one pipeline. One that throws is returned as a failed run that
    * still carries the wall it used, both as its wall and as its one batch
    * latency, so a failure cannot shrink a total or a mean. */
  def attempt(name: String, nb: Int)(run: => PipelineRun): PipelineRun = {
    val t0 = Clock.nowMs
    try run
    catch {
      case e: Throwable =>
        val ms = Clock.nowMs - t0
        PipelineRun(name, 0L, nb, 0.0, 0.0, ms / 1000.0, Seq(ms), new OutputTally,
          Nil, Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)), new ExecLedger,
          Nil, Nil, Nil, 0L, Nil)
    }
  }
}
