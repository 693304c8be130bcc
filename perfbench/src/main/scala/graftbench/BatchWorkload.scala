package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One execution of one catalog query: construction (building the
  * DataFrame, including the jobs operators launch while building it) then the
  * action (a noop-sink write that forces full execution). */
final case class QueryRun(query: String, pass: Int, constructS: Double,
                          actionS: Double, error: Option[String]) {
  def wallS: Double = constructS + actionS
  def ok: Boolean = error.isEmpty
}

/** Per-query layer breakdown of one traced execution. */
final case class QueryLayers(query: String, wallS: Double, constructS: Double,
                             construct: ExecLedger, action: ExecLedger,
                             actionS: Double, planS: Map[String, Double],
                             stageUnionS: Double, scanS: Double)

/** Runs catalog queries through `SparkEntry.queries` the way a user of the
  * library would: build the DataFrame, then write it to the noop sink. */
final class BatchRunner(session: () => SparkSession, tracer: Tracer,
                        queries: Map[String, (SparkSession, String) => DataFrame]) {

  /** Runs `name` once; failures are returned, never thrown. */
  def run(name: String, sfDir: String, pass: Int, runSpan: Long): (QueryRun, Option[QueryLayers]) = {
    val spark = session()
    val sc = spark.sparkContext
    val layers = Layers.of(spark)
    val group = s"$name#$pass"
    var constructS = 0.0
    var actionS = 0.0
    var error: Option[String] = None
    if (tracer.enabled) layers.reset()
    val t0 = Clock.nowMs
    var t1 = t0
    try {
      sc.setJobGroup(s"$group:construct", s"$name construct", interruptOnCancel = false)
      val df = queries(name)(spark, sfDir)
      t1 = Clock.nowMs
      sc.setJobGroup(s"$group:action", s"$name action", interruptOnCancel = false)
      df.write.format("noop").mode("overwrite").save()
    } catch {
      case e: Throwable => error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
    } finally {
      val t2 = Clock.nowMs
      if (t1 == t0) t1 = t2
      constructS = (t1 - t0) / 1000.0
      actionS = (t2 - t1) / 1000.0
      if (!sc.isStopped) sc.clearJobGroup()
    }
    val qr = QueryRun(name, pass, constructS, actionS, error)
    val detail = if (!tracer.enabled || sc.isStopped) None else Some {
      layers.drain()
      record(layers, group, name, runSpan, t0, t1, t0 + qr.wallS * 1000.0)
    }
    (qr, detail)
  }

  /** Turns the listener records of one query into spans and a breakdown. */
  private def record(layers: Layers, group: String, name: String, runSpan: Long,
                     t0: Double, t1: Double, t2: Double): QueryLayers = {
    val q = tracer.add(runSpan, "query", name, group, t0, t2)
    val cons = tracer.add(q, "construct", name, group, t0, t1)
    val act = tracer.add(q, "action", name, group, t1, t2)
    val (jobs, stages) = layers.exec.takeSpans()
    val (phases, scanMs) = layers.plan.take()
    val jobSpan = mutable.HashMap.empty[Int, Long]
    jobs.foreach { j =>
      val parent = if (j.group.endsWith(":construct")) cons else act
      jobSpan(j.id) = tracer.add(parent, "job", s"job ${j.id}", group, j.start, j.end)
    }
    stages.foreach { s =>
      tracer.add(jobSpan.getOrElse(s.job, act), "stage", s"stage ${s.id}.${s.attempt}",
        group, s.start, s.end)
    }
    val planS = mutable.LinkedHashMap("analysis" -> 0.0, "optimization" -> 0.0, "planning" -> 0.0)
    phases.foreach { p =>
      val inAction = p.start >= t1 - 1.0
      if (inAction) planS(p.phase) = planS.getOrElse(p.phase, 0.0) + (p.end - p.start) / 1000.0
      tracer.add(if (inAction) act else cons, "plan." + p.phase, p.phase, group, p.start, p.end)
    }
    QueryLayers(name, (t2 - t0) / 1000.0, (t1 - t0) / 1000.0,
      layers.exec.take(s"$group:construct"), layers.exec.take(s"$group:action"),
      (t2 - t1) / 1000.0, planS.toMap,
      Stats.unionLength(stages.map(s => (s.start, s.end))) / 1000.0, scanMs / 1000.0)
  }
}

object BatchWorkload {

  /** batch_core: Beam-core families (element-wise, aggregations, joins,
    * windowing, composed examples), sampled across each family. Small
    * inputs: the per-query floor does most of the work. */
  val Core: Seq[String] = Seq(
    "q_map_project", "q_json_parse",
    "q1_agg", "q_top_per_key",
    "q_join_inner", "q_asof_join",
    "q_window_fixed", "q_sessionize",
    "q_spammy_users")

  /** The query the set-up runs on the warm-up fixtures. */
  def warmupSet(names: Seq[String]): Seq[String] = names.take(1)
}
