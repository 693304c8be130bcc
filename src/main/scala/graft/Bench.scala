package graft

/** Bench harness (BASELINE.md protocol): wall-clock per query at the
  * SPARK_GRAFT_SF_DIR scale factor, median of 3 warm runs, one local JVM,
  * full execution forced through the noop sink (count() would let Catalyst
  * prune the computed columns and under-measure). Prints ONE JSON line.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    var spark = GraftSession.getOrCreate()
    // optional args: bench only the named queries (diagnosis runs)
    val names =
      if (args.nonEmpty) args.toSeq.sorted.map { n =>
        require(SparkEntry.queries.contains(n), s"unknown query $n"); n
      } else SparkEntry.queries.keys.toSeq.sorted

    // One query OOMing an executor thread stops the local SparkContext
    // (SparkUncaughtExceptionHandler), and without this every LATER query
    // dies with "Cannot call methods on a stopped SparkContext" — the
    // first full sf100 sweep recorded 123 such cascade failures behind
    // ONE real q_corpus_jaccard heap OOM. Rebuild the session between
    // queries so each failure stays attributed to the query that caused
    // it; queries are self-contained, so a fresh session loses nothing.
    def ensureAlive(): Unit = if (spark.sparkContext.isStopped) {
      System.err.println("[bench] SparkContext stopped by prior query — rebuilding session")
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      spark = GraftSession.getOrCreate()
    }

    // GC visibility for in-sweep anomaly attribution (r18 verdict item 1:
    // q_asof_join read 6.8 s in-sweep vs 0.25 s isolated with no code or
    // plan difference). Total collector time across all GC beans; the
    // per-run DELTA printed below separates "the query was slow" from "a
    // stop-the-world collection landed inside the timed region".
    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    val verbose = sys.env.getOrElse("SPARK_GRAFT_BENCH_VERBOSE", "0") == "1"

    // Between-queries settle (opt-in probe): blocking-unpersist blocks a
    // PRIOR query's cleaner-released checkpoints left behind, BEFORE the
    // timed region opens — isolates each query's wall from its
    // predecessor's async cleanup (the in-sweep vs isolated gap class:
    // q_mp_quantiles 1.15 s in-sweep vs 0.75 s isolated on a clean box).
    // Queries are self-contained (no state is reused across runs by
    // design), so dropping unreferenced blocks cannot change any result.
    val settle = sys.env.getOrElse("SPARK_GRAFT_BENCH_SETTLE", "0") == "1"

    // One timed run: (wall seconds, succeeded). A failed run keeps the
    // wall it spent before failing, so a failure never makes the sweep
    // read faster; the query is named in the artifact's `failed` list.
    def execute(name: String): (Double, Boolean) = {
      ensureAlive()
      if (settle)
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
      val gc0 = gcMillis
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        val sec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[bench] $name failed after $sec%.1f s: ${e.getMessage}")
        return (sec, false)
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // leak visibility: persisted RDDs still registered after the action
      // are either deliberate cleaner-released intermediates (bounded by
      // the periodicGC interval) or a real leak — the count in the log
      // makes in-sweep memory accumulation diagnosable after the fact
      // (the r17 sf30 in-sweep OOMs were exactly this class)
      val live = spark.sparkContext.getPersistentRDDs.size
      if (verbose) {
        val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
        System.err.println(f"[bench-run] $name $sec%.3f s gc=${gcMillis - gc0} ms up=$up%.0f s persisted=$live")
      }
      if (live > 0) System.err.println(f"[bench] $name: $sec%.1f s, $live persisted RDDs still registered")
      (sec, true)
    }
    // median wall over `runs` timed runs, and whether every run succeeded
    def measure(name: String): (Double, Boolean) = {
      val rs = (1 to runs).map(_ => execute(name))
      (rs.map(_._1).sorted.apply(runs / 2), rs.forall(_._2))
    }

    def loadavg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val ncpu = Runtime.getRuntime.availableProcessors
    // Busy cores (non-idle share of all jiffies × ncpu) and hypervisor
    // steal % over a short sampling window, from the first line of Linux
    // /proc/stat ((0, 0) where unavailable). Steal: two full sweeps were
    // contaminated 40-70% at loadavg < 3 — loadavg counts RUNNABLE
    // threads and is blind to a co-tenant stealing the physical cores.
    // Busy cores: the one-minute loadavg still carries the previous run
    // long after it ended, so the gate reads what the CPUs did just now.
    // Sampled OUTSIDE every timed region; recorded in the artifact so a
    // contended capture is adjudicable from the capture itself.
    def cpuSample(windowMs: Long = 1000): (Double, Double) = {
      def read(): Option[(Long, Long, Long)] =
        try {
          val f = java.nio.file.Files
            .readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
            .trim.split("\\s+").drop(1).map(_.toLong)
          if (f.length >= 8) Some((f.sum, f(3) + f(4), f(7))) else None
        } catch { case _: Throwable => None }
      val a = read(); Thread.sleep(windowMs); val b = read()
      (a, b) match {
        case (Some((t0, i0, s0)), Some((t1, i1, s1))) if t1 > t0 =>
          val dt = (t1 - t0).toDouble
          ((1.0 - (i1 - i0) / dt) * ncpu, 100.0 * (s1 - s0) / dt)
        case _ => (0.0, 0.0)
      }
    }
    // Cool-down gate (r15 verdict item 6): three rounds of drift-vs-
    // regression adjudication came down to "was the box loaded at capture
    // time". Wait (bounded) until fewer than a quarter of the cores are
    // busy before the timed pass — perfbench's rule; the old fixed loadavg
    // 3.0 admitted a 4-core box that was 75% busy — and record the load at
    // start AND end in the artifact so the adjudication is mechanical.
    // SPARK_GRAFT_BENCH_COOLDOWN_SECS=0 disables the wait (the loads are
    // still recorded).
    val coolGate = sys.env.get("SPARK_GRAFT_BENCH_LOAD_GATE").map(_.toDouble)
      .getOrElse(0.25 * ncpu)
    // steal gate: idle baseline on this box is 0-4%; contaminated windows
    // are the co-tenant-episode regime. Bounded by the SAME coolMax budget
    // as the load gate, so a permanently stolen box still benches (with
    // the steal on record) rather than hanging the driver.
    val stealGate = sys.env.getOrElse("SPARK_GRAFT_BENCH_STEAL_GATE", "5.0").toDouble
    val coolMax = sys.env.getOrElse("SPARK_GRAFT_BENCH_COOLDOWN_SECS", "300").toInt
    var waited = 0
    var (busy, steal) = cpuSample()
    while ((busy >= coolGate || steal >= stealGate) && waited < coolMax) {
      System.err.println(f"[bench] $busy%.1f busy cores (gate $coolGate%.1f) steal $steal%.1f%% " +
        f"(gate $stealGate%.1f%%) — cooling down ($waited/$coolMax s)")
      Thread.sleep(15000); waited += 15
      val s = cpuSample(); busy = s._1; steal = s._2
    }
    val (busyStart, stealStart) = (busy, steal)

    // loadavg_start is the POST-COOLDOWN, PRE-WARMUP load — the state the
    // cool-down gate actually validated (sampling after warmup recorded
    // warmup-inflated load and made clean captures read as 'loaded'
    // during drift adjudication); loadavg_warmed is sampled again after
    // the warmup pass, immediately before the timed runs.
    val loadStart = loadavg
    // warmup: one pass at the smallest SF primes codegen/JIT per query shape
    names.foreach { n =>
      ensureAlive()
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    val loadWarmed = loadavg

    val measured = names.map(n => n -> measure(n))
    val results = measured.map { case (n, (sec, _)) => n -> sec }
    val failed = measured.collect { case (n, (_, false)) => n }
    val failedJson = failed.map("\"" + _ + "\"").mkString(
      ",\"failed_n\":" + failed.size + ",\"failed\":[", ",", "]")
    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // record box contention in the artifact itself: a loaded machine has
    // produced 2-5x inflated per-query walls in past rounds, and without
    // the load average in the JSON that is indistinguishable from a code
    // regression after the fact
    val load = loadavg
    if (load > ncpu * 0.5)
      System.err.println(f"[bench] WARNING: loadavg $load%.1f on $ncpu cpus — " +
        "box is contended; walls are inflated")

    // Self-adjudication: three rounds running, the full-catalog pass has
    // shown 2-4x contention artifacts on a loaded box that a judge had to
    // re-run by hand. Re-measure the n slowest queries AFTER the full pass
    // (median of `runs`, one query at a time, sequential — the box is at
    // its quietest) and emit both numbers, so a full/isolated gap reads as
    // in-run contention, not a code regression. SPARK_GRAFT_BENCH_RECHECK=0
    // disables.
    val recheckN = sys.env.getOrElse("SPARK_GRAFT_BENCH_RECHECK", "5").toInt
    val recheckJson =
      if (recheckN <= 0) ""
      else {
        val slowest = results.filterNot(r => failed.contains(r._1)).sortBy(-_._2).take(recheckN)
        val entries = slowest.map { case (n, full) =>
          val iso = measure(n)._1
          "\"" + n + "\":{\"full\":" + f"$full%.3f" +
            ",\"isolated\":" + f"$iso%.3f" + "}"
        }
        ",\"recheck\":" + entries.mkString("{", ",", "}") +
          ",\"recheck_loadavg\":" + f"$loadavg%.2f"
      }

    // Persist-leak gate (r17 verdict item 8): the per-query live counts go
    // to stderr; the END-OF-SWEEP count lands in the artifact itself so a
    // leak can't hide — every persist in the catalog is cleaner-released,
    // so after a full sweep the registry should be (close to) empty. The
    // loud threshold is deliberately loose: a handful of blocks can sit in
    // the <=2-min periodic-GC window legitimately.
    val persistedEnd =
      if (spark.sparkContext.isStopped) -1 else spark.sparkContext.getPersistentRDDs.size
    if (persistedEnd > 8)
      System.err.println(s"[bench] WARNING: $persistedEnd persisted RDDs still " +
        "registered at end of sweep — possible persist leak (expect ~0 after periodic GC)")

    val stealEnd = cpuSample()._2
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs""" + failedJson + f""","sf":"$sfDir","loadavg":$load%.2f,"loadavg_start":$loadStart%.2f,"loadavg_warmed":$loadWarmed%.2f,"busy_cores_start":$busyStart%.2f,"load_gate_busy_cores":$coolGate%.2f,"cooldown_waited_sec":$waited,"ncpu":$ncpu,"steal_pct_start":$stealStart%.2f,"steal_pct_end":$stealEnd%.2f,"persisted_rdds_end":$persistedEnd""" + recheckJson + "}"
    println(line)
    // also persist to a file: the driver's stdout tail-capture has
    // truncated the per-query map in past rounds (BENCH_r10 kept 72/144
    // entries) — a file read can't truncate. Anchor the path at the repo
    // root (a relative path silently lands wherever the driver's CWD is):
    // SPARK_GRAFT_REPO overrides, else user.dir, and the absolute path is
    // logged either way.
    val benchFile = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_REPO", sys.props("user.dir")),
      "target", "bench_last.json").toAbsolutePath
    try {
      java.nio.file.Files.createDirectories(benchFile.getParent)
      java.nio.file.Files.writeString(benchFile, line + "\n")
      System.err.println(s"[bench] full per-query map written to $benchFile")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $benchFile write failed: ${e.getMessage}")
    }
    // round-stamped archive (r15 verdict item 6): bench_last.json is
    // overwritten every run and target/ is gitignored, so cross-round
    // per-query comparison had no committed artifact when the driver's
    // stdout capture truncated. bench_archive/ lives in the repo proper
    // (committed at round end); one timestamped file per capture.
    val stamp = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd_HHmmss").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now())
    val archiveFile = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_REPO", sys.props("user.dir")),
      "bench_archive", s"bench_${stamp}_${names.size}q.json").toAbsolutePath
    try {
      java.nio.file.Files.createDirectories(archiveFile.getParent)
      java.nio.file.Files.writeString(archiveFile, line + "\n")
      System.err.println(s"[bench] archived to $archiveFile")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $archiveFile write failed: ${e.getMessage}")
    }
    // LAST stdout line is a SHORT summary the driver's tail-capture can
    // never truncate (the full long line above has been head-truncated in
    // past rounds' artifacts — BENCH_r11 kept 72/148 entries)
    val n = results.size
    println(f"""{"metric":"summary","value":$total%.3f,"unit":"sec","n":$n,"total":$total%.3f,"pace":${if (n > 0) total / n else -1.0}%.3f""" + failedJson + f""","sf":"$sfDir","loadavg":$load%.2f,"file":"$benchFile"}""")
    spark.stop()
  }
}
