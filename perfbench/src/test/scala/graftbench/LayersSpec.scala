package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Spark-backed checks of the benchmark's own machinery. One suite, run in
  * order, because some cases stop and rebuild the session. */
class LayersSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val bench = new Session
  private lazy val work: Path = Files.createTempDirectory("perfbench-spec")
  private lazy val fixtures: String = {
    val dir = work.resolve("fixtures")
    val p = new ProcessBuilder("python3", "gen_fixtures.py", dir.toString, "0.001").inheritIO().start()
    assert(p.waitFor() == 0, "fixture generation failed")
    dir.toString
  }

  override def afterAll(): Unit = {
    bench.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }

  private def spark: SparkSession = bench.get

  private def benchListeners(s: SparkSession): Int =
    org.apache.spark.perfbench.Drain.listeners(s.sparkContext).count(_.isInstanceOf[LayerListener])

  test("listeners register once per context and again after a rebuild") {
    val first = spark
    val a = Layers.of(first)
    assert(Layers.of(first) eq a)
    assert(benchListeners(first) == 1)
    first.sparkContext.parallelize(1 to 10).count() // exactly one job
    a.drain()
    assert(a.exec.takeAll().jobs == 1)

    bench.stop()
    val second = spark
    assert(second.sparkContext ne first.sparkContext)
    val b = Layers.of(second)
    assert(b ne a)
    assert(Layers.of(second) eq b)
    assert(benchListeners(second) == 1)
    second.sparkContext.parallelize(1 to 10).count()
    b.drain()
    assert(b.exec.takeAll().jobs == 1)
    assert(Layers.registered == 1)
  }

  test("construction and action jobs are told apart by job group") {
    val catalog: Map[String, (SparkSession, String) => DataFrame] = Map(
      "q_two_phase" -> { (s: SparkSession, _: String) =>
        val n = s.sparkContext.parallelize(1 to 100).count() // one job while the query is built
        s.range(n).groupBy((col("id") % 7).as("k")).count()
      })
    val tracer = new Tracer(true)
    val runner = new BatchRunner(() => spark, tracer, catalog)
    val (qr, detail) = runner.run("q_two_phase", fixtures, 0, 0L)
    assert(qr.ok, qr.error)
    val d = detail.get
    assert(d.construct.jobs == 1)
    assert(d.action.jobs >= 1)
    assert(d.action.tasks >= 1)
    val kinds = tracer.all.groupBy(_.kind)
    val cons = kinds("construct").head
    val jobsUnderConstruct = kinds("job").filter(_.parent == cons.id)
    assert(jobsUnderConstruct.size == 1)
    assert(kinds("job").size == d.construct.jobs + d.action.jobs)
    assert(kinds.contains("plan.optimization"))
    assert(d.planS("optimization") > 0 || d.planS("planning") > 0)
  }

  test("the stream recorder keeps every batch, not the last hundred") {
    val s = spark
    import s.implicits._
    val in = MemoryStream[Long](s)
    val rec = ProgressRecorder.of(s)
    assert(ProgressRecorder.of(s) eq rec)
    val q = in.toDS().writeStream.queryName("perfbench_long").format("noop")
      .option("checkpointLocation", work.resolve("ckpt").toString).start()
    try (1 to 120).foreach { i => in.addData(i.toLong); q.processAllAvailable() }
    finally q.stop()
    Layers.of(s).drain()
    assert(q.recentProgress.length <= 100)
    assert(rec.progress("perfbench_long").count(_.numInputRows > 0) == 120)
  }

  test("kernels are timed through generated code, with the interpreted path beside it") {
    val rows = Kernels.inputRows(spark, fixtures, 32)
    val timings = Kernels.kernels(spark).map(Kernels.time(_, rows))
    assert(timings.size == 17)
    assert(timings.map(_.name).distinct.size == 17)
    timings.foreach { t =>
      assert(!t.projectionClass.contains("Interpreted"), t)
      assert(t.codegenNsPerRow > 0 && t.interpretedNsPerRow > 0, t)
      assert(t.codegenNsPerRow != t.interpretedNsPerRow, t)
    }
    assert(timings.filter(_.fallback).map(_.name).toSet == Set("UnicodeNormalize",
      "QuantizeInt8Vec", "PqEncodeVec", "NearestCentroidVec", "RandomProjectVec"))
  }

  test("a planted failing query is counted, named and kept in the suite") {
    val boom = udf((x: Long) => { if (x >= 0) throw new IllegalStateException("planted"); x })
    val catalog: Map[String, (SparkSession, String) => DataFrame] = Map(
      "q_ok" -> ((s: SparkSession, _: String) => s.range(10).toDF()),
      "q_planted_failure" -> { (s: SparkSession, _: String) =>
        Thread.sleep(300) // the time spent before failing must stay in the suite
        s.range(10).select(boom(col("id")))
      })
    val cfg = Config("batch_core", seed = 1, seconds = 0, trace = false, fixtures = fixtures,
      warmFixtures = fixtures, out = work.resolve("planted").toString)
    val r = Main.run(cfg, catalog, Some(Seq("q_ok", "q_planted_failure")))
    val failures = r("failures").asInstanceOf[Iterable[collection.Map[String, Any]]].map(_("what").toString)
    // check pass + the minimum two timed passes
    assert(BatchMain.MinPasses == 2)
    assert(failures.toSet == Set("check:q_planted_failure", "pass0:q_planted_failure",
      "pass1:q_planted_failure"))
    assert(r("failed") == 3)
    assert(r("attempted") == 1 + 2 + 4)
    val e2e = r("end_to_end").asInstanceOf[collection.Map[String, Double]]
    val perQuery = r("detail").asInstanceOf[collection.Map[String, Any]]("per_query")
      .asInstanceOf[collection.Map[String, collection.Map[String, Any]]]
    val failedWall = perQuery("q_planted_failure")("median_s").asInstanceOf[Double]
    assert(failedWall >= 0.3)
    assert(e2e("suite_s") >= failedWall)
    assert(perQuery("q_planted_failure")("failed") == 2)
  }

  test("a planted failing pipeline keeps its wall in the suite and the mean") {
    val ok = StreamWorkload.attempt("ok_0", 3)(PipelineRun("ok_0", 10L, 3, 0.0, 0.0, 1.0,
      Seq(100.0, 100.0, 100.0), new OutputTally, Nil, Nil, new ExecLedger, Nil, Nil, Nil, 0L, Nil))
    val failed = StreamWorkload.attempt("planted_0", 3) {
      Thread.sleep(300) // the time spent before failing must stay in the totals
      throw new IllegalStateException("planted")
    }
    assert(ok.ok)
    assert(!failed.ok)
    assert(failed.checks.head.contains("planted"))
    assert(failed.wallS >= 0.3)
    assert(failed.batchMs.size == 1 && failed.batchMs.head >= 300.0)
    val mean = Stats.gmean(Seq(ok, failed).map(r => Stats.median(r.batchMs)))
    assert(mean > 100.0) // the failure pulls the mean up, never out
  }
}
