package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        fixtures: String, warmFixtures: String, out: String)

/** Failure ledger: every attempted operation, every failure by name.
  * Nothing that failed is dropped from a total: a failed query's wall up to
  * its failure stays in the suite, and the run is marked incorrect. */
final class Outcomes {
  var attempted = 0
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  def record(what: String, error: Option[String]): Unit = {
    attempted += 1
    error.foreach(e => failures += (what -> e))
  }
  def failed: Int = failures.size
}

/** Entry point: `Main --workload W --seed N --seconds S --trace 0|1
  * --fixtures DIR --warm-fixtures DIR --out DIR`. Writes `DIR/result.json`. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Config(a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      a("fixtures"), a("warm-fixtures"), a("out"))
    val result = run(cfg, graft.SparkEntry.queries)
    Files.createDirectories(Paths.get(cfg.out))
    Files.writeString(Paths.get(cfg.out, "result.json"), Json(result))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  def run(cfg: Config, catalog: Map[String, (SparkSession, String) => DataFrame],
          names: Option[Seq[String]] = None): collection.Map[String, Any] = {
    Heap.install()
    val hostStart = Host.snapshot()
    val (cooldownS, busy, steal) = Host.cooldown(5.0)
    val bench = new Session()
    val outcomes = new Outcomes
    val batchNames = names.getOrElse(BatchWorkload.Core)
    val runner = new BatchRunner(() => bench.get, new Tracer(false), catalog)

    // Set-up, once, in a cold JVM: session build, listener registration,
    // fixture plan warm-up and the warm-up pass on the small fixtures. A
    // rebuild in the same JVM would skip class loading, JIT and every
    // process-wide initialiser, so it is not repeated.
    val setupT0 = Clock.nowMs
    val spark = bench.get
    val built = Clock.nowMs
    Layers.of(spark)
    ProgressRecorder.of(spark)
    graft.GraftSession.tableNames.foreach(t => graft.GraftSession.table(spark, cfg.fixtures, t))
    val tablesMs = Clock.nowMs - built
    BatchWorkload.warmupSet(batchNames).foreach { n =>
      val (qr, _) = runner.run(n, cfg.warmFixtures, -1, 0L)
      outcomes.record(s"setup:$n", qr.error)
    }
    val setupS = (Clock.nowMs - setupT0) / 1000.0
    Heap.settle()
    Heap.reset()

    val body = cfg.workload match {
      case "batch_core" => BatchMain.run(cfg, bench, catalog, batchNames, outcomes)
      case "stream_stateful" => StreamMain.run(cfg, bench, outcomes)
      case other => sys.error(s"unknown workload $other")
    }
    Heap.settle()
    val kernels = if (cfg.trace) Kernels.run(bench.get, cfg.fixtures) else Nil

    val e2e = Json.obj(
      "setup_s" -> setupS,
      "suite_s" -> body.suiteS,
      "op_gmean_ms" -> body.opGmeanMs,
      "heap_after_gc_peak_mb" -> Heap.peakMb)
    val session = Map(
      "session.build_s" -> (built - setupT0) / 1000.0,
      "session.table_cold_ms" -> tablesMs)
    val kernelMetrics = kernels.flatMap(k => Seq(
      s"kernel.${k.name}.ns_per_row" -> k.codegenNsPerRow,
      s"kernel.${k.name}.interp_ns_per_row" -> k.interpretedNsPerRow))
    val layer = if (!cfg.trace) Map.empty[String, Any]
      else Json.obj((session.toSeq ++ body.layers.toSeq ++ kernelMetrics ++
        StreamMain.layerMetrics(body.pipelines)).sortBy(_._1): _*)

    Json.obj(
      "workload" -> cfg.workload,
      "seed" -> cfg.seed,
      "trace" -> cfg.trace,
      "seconds" -> cfg.seconds,
      "attempted" -> outcomes.attempted,
      "failed" -> outcomes.failed,
      "failed_frac" -> outcomes.failed.toDouble / outcomes.attempted.max(1),
      "failures" -> outcomes.failures.map { case (w, e) => Json.obj("what" -> w, "error" -> e) },
      "end_to_end" -> e2e,
      "per_layer" -> layer,
      "detail" -> body.detail,
      "setup" -> session,
      "kernels" -> kernels.map(k => Json.obj("kernel" -> k.name, "codegen_ns_per_row" -> k.codegenNsPerRow,
        "interpreted_ns_per_row" -> k.interpretedNsPerRow, "codegen_fallback" -> k.fallback,
        "projection_class" -> k.projectionClass)),
      "host" -> Json.obj(
        "versions" -> Host.versions,
        "start" -> hostStart,
        "cooldown_s" -> cooldownS,
        "cooldown_gate_busy_cores" -> Host.loadGate,
        "cooldown_gate_steal_pct" -> Host.StealGate,
        "after_cooldown" -> Map("busy_cores" -> busy, "steal_pct" -> steal),
        "end" -> Host.snapshot()))
  }
}

/** The benchmark's session: `GraftSession.getOrCreate`, rebuilt when a
  * query has stopped its SparkContext so later queries are not blamed. */
final class Session {
  private var spark: SparkSession = _
  def get: SparkSession = synchronized {
    if (spark == null || spark.sparkContext.isStopped) {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      spark = graft.GraftSession.getOrCreate()
    }
    spark
  }
  def stop(): Unit = synchronized {
    if (spark != null) { spark.stop(); spark = null }
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** What a workload body hands back to [[Main]]. */
final case class Body(suiteS: Double, opGmeanMs: Double, layers: Map[String, Any],
                      detail: collection.Map[String, Any], pipelines: Seq[PipelineRun] = Nil)

object BatchMain {
  /** Timed passes a run makes at least, however long they take. */
  val MinPasses = 2

  /** Correctness pass (untimed), then timed passes in seed-permuted order
    * until `seconds` have passed and there are enough samples. */
  def run(cfg: Config, bench: Session,
          catalog: Map[String, (SparkSession, String) => DataFrame],
          names: Seq[String], outcomes: Outcomes): Body = {
    val checkT0 = Clock.nowMs
    val dumpDir = Paths.get(cfg.out, "results")
    dump(cfg, bench, catalog, names, dumpDir, outcomes)
    val checkS = (Clock.nowMs - checkT0) / 1000.0

    val untraced = new Tracer(false)
    val traced = new Tracer(cfg.trace)
    val plain = new BatchRunner(() => bench.get, untraced, catalog)
    val tracing = new BatchRunner(() => bench.get, traced, catalog)
    val runs = mutable.ArrayBuffer.empty[(QueryRun, Boolean)]
    val details = mutable.ArrayBuffer.empty[QueryLayers]
    val t0 = Clock.nowMs
    var pass = 0
    // In a traced run, passes alternate traced and untraced, so the
    // tracing overhead is read off the same process at the same warmth.
    def enough = (Clock.nowMs - t0) / 1000.0 >= cfg.seconds &&
      pass >= MinPasses * (if (cfg.trace) 2 else 1)
    while (!enough) {
      val order = new scala.util.Random(cfg.seed * 1000003L + pass).shuffle(names)
      val traceThis = cfg.trace && pass % 2 == 1
      val r = if (traceThis) tracing else plain
      def loop(passSpan: Long): Unit = order.foreach { n =>
        val (qr, d) = r.run(n, cfg.fixtures, pass, passSpan)
        outcomes.record(s"pass$pass:$n", qr.error)
        runs += (qr -> traceThis)
        d.foreach(details += _)
      }
      if (traceThis) traced.span(0L, "pass", s"pass $pass", "")(loop) else loop(0L)
      Heap.settle()
      pass += 1
    }
    val timed = runs.filter(!_._2).map(_._1)
    val suite = suiteOf(timed)
    val opP50 = Stats.median(timed.map(_.wallS * 1000.0).toSeq)
    val tail = Stats.tail(timed.map(_.wallS * 1000.0).toSeq)
    val tracedRuns = runs.filter(_._2).map(_._1)
    val layers = if (!cfg.trace) Map.empty[String, Any] else
      layerMetrics(details.toSeq, tracedRuns.map(_.pass).distinct.size, suite,
        suiteOf(tracedRuns), Stats.median(tracedRuns.map(_.wallS * 1000.0).toSeq), opP50)
    val perQuery = names.map { n =>
      val ws = timed.filter(_.query == n).map(_.wallS).toSeq
      n -> Json.obj("median_s" -> Stats.medianOr0(ws), "samples" -> ws.size,
        "failed" -> timed.count(r => r.query == n && !r.ok))
    }
    val gmean = Stats.gmean(names.map(n => Stats.median(timed.filter(_.query == n).map(_.wallS * 1000.0).toSeq)))
    val detail = Json.obj(
      "queries" -> names,
      "check_pass_s" -> checkS,
      "results_dir" -> dumpDir.toString,
      "passes" -> pass,
      "samples" -> timed.size,
      "query_p50_s" -> opP50 / 1000.0,
      "query_tail" -> tail.map { case (p, v) => Json.obj("percentile" -> p, "value_s" -> v / 1000.0,
        "samples" -> timed.size, "beyond" -> Stats.beyond(timed.size, p)) },
      "query_p90_s" -> Stats.percentile(timed.map(_.wallS).toSeq, 90),
      "per_query" -> Json.obj(perQuery: _*),
      "spans" -> (if (cfg.trace) writeSpans(cfg, traced) else ""),
      "layer_self_s" -> (if (cfg.trace) traced.layerSelfSeconds else Map.empty))
    Body(suite, gmean, layers, detail)
  }

  /** Sum over queries of each query's median wall; a failed run counts
    * with the time it took to fail. */
  def suiteOf(runs: Iterable[QueryRun]): Double =
    runs.groupBy(_.query).values.map(rs => Stats.median(rs.map(_.wallS).toSeq)).sum

  /** Writes every query result to parquet, the way `graft.Verify` does,
    * with the oracle SQL of those queries. */
  def dump(cfg: Config, bench: Session, catalog: Map[String, (SparkSession, String) => DataFrame],
           names: Seq[String], dir: Path, outcomes: Outcomes): Unit = {
    Files.createDirectories(dir)
    names.foreach { n =>
      val target = dir.resolve(n)
      val err = try {
        catalog(n)(bench.get, cfg.fixtures).coalesce(1).write.mode("overwrite").parquet(target.toString)
        None
      } catch {
        case e: Throwable =>
          org.apache.commons.io.FileUtils.deleteQuietly(target.toFile)
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
      }
      outcomes.record(s"check:$n", err)
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(dir.resolve("oracle_sql.json"), Json(oracle))
  }

  def writeSpans(cfg: Config, tracer: Tracer): String = {
    val self = tracer.selfTimes
    val p = Paths.get(cfg.out, "spans.json")
    Files.writeString(p, Json(tracer.all.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
      "kind" -> s.kind, "name" -> s.name, "group" -> s.group, "start_ms" -> s.start,
      "end_ms" -> s.end, "self_ms" -> self(s.id)))))
    p.toString
  }

  def layerMetrics(ds: Seq[QueryLayers], passes: Int, suiteUntraced: Double, suiteTraced: Double,
                   p50Traced: Double, p50Untraced: Double): Map[String, Any] = {
    val n = passes.max(1).toDouble
    val cons = new ExecLedger; val act = new ExecLedger
    ds.foreach { d => cons.add(d.construct); act.add(d.action) }
    val wall = ds.map(_.wallS).sum
    val consS = ds.map(_.constructS).sum
    val actionS = ds.map(_.actionS).sum
    def plan(p: String) = ds.map(_.planS.getOrElse(p, 0.0)).sum
    val planS = Seq("analysis", "optimization", "planning").map(plan).sum
    val stageS = ds.map(_.stageUnionS).sum
    val cores = Host.nproc
    Map(
      "construct.s" -> consS / n,
      "construct.jobs" -> cons.jobs / n,
      "construct.task_s" -> cons.taskMs / 1000.0 / n,
      "construct.share" -> consS / wall,
      "plan.analysis_s" -> plan("analysis") / n,
      "plan.optimization_s" -> plan("optimization") / n,
      "plan.planning_s" -> plan("planning") / n,
      "plan.share" -> planS / wall,
      "exec.jobs" -> act.jobs / n,
      "exec.stages" -> act.stages / n,
      "exec.tasks" -> act.tasks / n,
      "exec.failed_tasks" -> act.failedTasks / n,
      "exec.task_s" -> act.taskMs / 1000.0 / n,
      "exec.cpu_s" -> act.cpuNs / 1e9 / n,
      "exec.gc_s" -> act.gcMs / 1000.0 / n,
      "exec.sched_delay_s" -> act.schedDelayMs / 1000.0 / n,
      "exec.slot_idle_frac" -> (1.0 - act.taskMs / 1000.0 / (actionS * cores)),
      "exec.skew_max" -> act.skewMax,
      "exec.shuffle_write_mb" -> act.shuffleWriteB / 1048576.0 / n,
      "exec.shuffle_read_mb" -> act.shuffleReadB / 1048576.0 / n,
      "exec.spill_mb" -> act.spillB / 1048576.0 / n,
      "exec.peak_exec_mem_mb" -> act.peakExecMemB / 1048576.0,
      "sources.input_mb" -> (cons.inputB + act.inputB) / 1048576.0 / n,
      "sources.scan_s" -> ds.map(_.scanS).sum / n,
      "split.floor_share" -> (1.0 - stageS / wall),
      "split.exec_share" -> stageS / wall,
      "trace.overhead_frac" -> (suiteTraced / suiteUntraced - 1.0),
      "trace.op_p50_overhead_frac" -> (p50Traced / p50Untraced - 1.0))
  }
}

object StreamMain {
  /** An untimed warm-up of the streaming engine, then checked passes of
    * all five pipelines until `seconds` have passed; traced runs alternate
    * untraced and traced passes. */
  def run(cfg: Config, bench: Session, outcomes: Outcomes): Body = {
    val spark = bench.get
    val ckpt = Files.createDirectories(Paths.get(cfg.out, "checkpoints"))
    import StreamWorkload.{Keys, RowsPerKey, TimedBatches}
    def record(pass: String, rs: Seq[PipelineRun]): Unit =
      rs.foreach(r => outcomes.record(s"$pass:${r.name}", if (r.ok) None else Some(r.checks.mkString("; "))))
    // The first pipeline of a fresh JVM otherwise pays for compiling the
    // micro-batch and state-store code paths all pipelines share.
    val warmT0 = Clock.nowMs
    val warmErr = try {
      new StreamWorkload(spark, ckpt, cfg.seed, Keys / 4, RowsPerKey, flushes = 0)
        .winCustom(0, new Tracer(false), 0L, "engine_warmup")
      None
    } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)) }
    outcomes.record("engine_warmup", warmErr)
    val warmS = (Clock.nowMs - warmT0) / 1000.0
    val traced = new Tracer(cfg.trace)
    val untraced = new Tracer(false)
    val runs = mutable.ArrayBuffer.empty[(PipelineRun, Boolean)]
    val t0 = Clock.nowMs
    var pass = 0
    def enough = (Clock.nowMs - t0) / 1000.0 >= cfg.seconds && pass >= (if (cfg.trace) 2 else 1)
    while (!enough) {
      val traceThis = cfg.trace && pass % 2 == 1
      val sw = new StreamWorkload(spark, ckpt, cfg.seed * 1000003L + pass, Keys, RowsPerKey)
      val rs =
        if (traceThis) traced.span(0L, "pass", s"pass $pass", "") { sid =>
          sw.all(TimedBatches, traced, sid, s"_$pass")
        }
        else sw.all(TimedBatches, untraced, 0L, s"_$pass")
      if (traceThis) rs.foreach(r => attach(traced, r))
      record(s"pass$pass", rs)
      runs ++= rs.map(_ -> traceThis)
      Heap.settle()
      pass += 1
    }
    val timed = runs.filter(!_._2).map(_._1).toSeq
    val tracedRuns = runs.filter(_._2).map(_._1).toSeq
    val suite = suiteOf(timed)
    val lat = timed.flatMap(_.batchMs)
    val opP50 = Stats.medianOr0(lat)
    val rowsPerS = timed.map(_.rowsFed).sum / timed.map(_.wallS).sum
    val layers = if (!cfg.trace) Map.empty[String, Any] else
      BatchMain.layerMetrics(tracedRuns.map(asLayers), tracedRuns.size / 5, suite,
        suiteOf(tracedRuns), Stats.medianOr0(tracedRuns.flatMap(_.batchMs)), opP50)
    val detail = Json.obj(
      "pipelines" -> StreamWorkload.Pipelines,
      "keys" -> Keys, "rows_per_key_per_batch" -> RowsPerKey,
      "timed_batches_per_pipeline" -> TimedBatches,
      "engine_warmup_s" -> warmS,
      "warm_batches_s" -> Json.obj(timed.map(r => r.name -> r.warmS): _*),
      "passes" -> pass,
      "stream_rows_per_s" -> rowsPerS,
      "batch_p50_ms" -> opP50,
      "batch_p90_ms" -> (if (lat.isEmpty) 0.0 else Stats.percentile(lat, 90)),
      "batch_tail" -> Stats.tail(lat).map { case (p, v) => Json.obj("percentile" -> p, "value_ms" -> v,
        "samples" -> lat.size, "beyond" -> Stats.beyond(lat.size, p)) },
      "samples" -> lat.size,
      "per_pipeline" -> Json.obj(StreamWorkload.Pipelines.map { p =>
        val rs = timed.filter(_.name.startsWith(p + "_"))
        p -> Json.obj("wall_median_s" -> Stats.medianOr0(rs.map(_.wallS)),
          "rows_fed" -> rs.map(_.rowsFed).sum, "batch_p50_ms" -> Stats.medianOr0(rs.flatMap(_.batchMs)),
          "final_state_rows" -> rs.map(r => r.progress.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)))
      }: _*),
      "spans" -> (if (cfg.trace) BatchMain.writeSpans(cfg, traced) else ""),
      "layer_self_s" -> (if (cfg.trace) traced.layerSelfSeconds else Map.empty))
    val gmean = Stats.gmean(StreamWorkload.Pipelines.map(p =>
      Stats.median(timed.filter(r => baseName(r) == p).flatMap(_.batchMs))))
    Body(suite, gmean, layers, detail, tracedRuns)
  }

  private def baseName(r: PipelineRun): String =
    StreamWorkload.Pipelines.find(p => r.name.startsWith(p + "_")).getOrElse(r.name)

  def suiteOf(runs: Seq[PipelineRun]): Double =
    runs.groupBy(baseName).values.map(rs => Stats.medianOr0(rs.map(_.wallS))).sum

  /** Job and stage spans of a traced pipeline, each under the batch span
    * it ran in (or the pipeline span for flushes and start-up). */
  private def attach(tracer: Tracer, r: PipelineRun): Unit = {
    val jobSpan = r.jobs.map { j =>
      val parent = r.batchSpans.find { case (_, a, b) => j.start >= a - 1 && j.start <= b }
        .map(_._1).getOrElse(r.span)
      j.id -> tracer.add(parent, "job", s"job ${j.id}", r.name, j.start, j.end)
    }.toMap
    r.stages.foreach(s => tracer.add(jobSpan.getOrElse(s.job, r.span), "stage",
      s"stage ${s.id}.${s.attempt}", r.name, s.start, s.end))
  }

  private def asLayers(r: PipelineRun): QueryLayers = {
    val plan = r.phases.groupBy(_.phase).map { case (k, ps) => k -> ps.map(p => p.end - p.start).sum / 1000.0 }
    QueryLayers(r.name, r.startS + r.wallS, r.startS, new ExecLedger, r.exec, r.wallS, plan,
      Stats.unionLength(r.stages.map(s => (s.start, s.end))) / 1000.0, 0.0)
  }

  /** `stream.<pipeline>.*` from every micro-batch's progress report; the
    * workloads without pipelines read 0 on all of them. */
  def layerMetrics(runs: Seq[PipelineRun]): Seq[(String, Any)] =
    StreamWorkload.Pipelines.flatMap { p =>
      val rs = runs.filter(r => baseName(r) == p)
      val prog = rs.flatMap(_.progress)
      val data = prog.filter(_.numInputRows > 0)
      def dur(k: String) = data.flatMap(x => Option(x.durationMs.get(k)).map(_.toDouble))
      val ops = prog.flatMap(_.stateOperators)
      val n = rs.size.max(1).toDouble
      Seq(
        s"stream.$p.rows_per_s" -> (if (rs.isEmpty) 0.0 else rs.map(_.rowsFed).sum / rs.map(_.wallS).sum),
        s"stream.$p.add_batch_ms_p50" -> Stats.medianOr0(dur("addBatch")),
        s"stream.$p.planning_ms_p50" -> Stats.medianOr0(dur("queryPlanning")),
        s"stream.$p.wal_commit_ms_p50" -> Stats.medianOr0(dur("walCommit")),
        s"stream.$p.state_update_ms" -> ops.map(_.allUpdatesTimeMs.toDouble).sum / n,
        s"stream.$p.state_removal_ms" -> ops.map(_.allRemovalsTimeMs.toDouble).sum / n,
        s"stream.$p.state_commit_ms" -> ops.map(_.commitTimeMs.toDouble).sum / n,
        s"stream.$p.state_rows_max" -> (if (prog.isEmpty) 0.0 else prog.map(_.stateOperators.map(_.numRowsTotal).sum).max.toDouble),
        s"stream.$p.state_rows_final" -> rs.map(_.progress.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)).sum / n,
        s"stream.$p.state_mem_mb_max" -> (if (prog.isEmpty) 0.0 else prog.map(_.stateOperators.map(_.memoryUsedBytes).sum).max / 1048576.0))
    }
}
