package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Session bootstrap + table loading for the graft engine.
  *
  * Spark-native replacement for the reference's `Pipeline.create(options)`
  * (reference: sdks/java/core/src/main/java/org/apache/beam/sdk/Pipeline.java:131):
  * a Beam Pipeline is a deferred DAG; in graft the SparkSession plus lazy
  * DataFrame lineage plays that role, and Catalyst supplies the optimizer
  * Beam never had.
  *
  * Scale notes: shuffle partitions default to the local core count (the
  * driver harness runs local[32]); on a real cluster AQE coalesces and
  * re-splits at runtime, so we enable it unconditionally.
  */
object GraftSession {

  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // NOT raising spark.sql.adaptive.coalescePartitions.initialPartitionNum
      // globally: a 512-start was A/B'd in r17 as the fix for the sf30
      // verify-join per-task memory squeeze and it worked there, but the
      // catalog's ITERATIVE drivers (GD rounds, BPE merge rounds — many
      // tiny exchanges per query) regressed ~3x at sf0.1 from the
      // per-exchange map-side bucket overhead. Operators whose reduce-side
      // state grows with the corpus size instead size their own exchange
      // from the population (Dedup.verifyPartitionsFor — the SCALING.md
      // rule applied to partition counts).
      // Storage floor 0.1 (Spark default 0.5): every persist in this
      // library is MEMORY_AND_DISK (recomputable lineage or disk-backed
      // block), so evicting a cached block under pressure costs one disk
      // read — while the default floor pins half the unified pool away
      // from execution even when sorts/joins are starving. The failure
      // mode it prevents is real: the r15 sf30 sweep OOM'd
      // q_dedup_clusters' star-contraction sorts while half the pool sat
      // in no-longer-hot verify-join caches (BASELINE.md r16). On a
      // production cluster the same reasoning holds per executor.
      // (env override is for A/B measurement only — see BASELINE.md r17.)
      .config("spark.memory.storageFraction",
        sys.env.getOrElse("SPARK_GRAFT_STORAGE_FRACTION", "0.1"))
      // ContextCleaner depends on DRIVER GC to discover unreferenced
      // broadcasts/persists (several operators share an intermediate
      // across two branches of one action and rely on the cleaner for
      // release — Dedup.pairSimilarity's shingle-doc lists being the
      // largest). The default periodic-GC interval (30 min) lets a
      // long-lived session running many heavy queries back-to-back
      // accumulate tens of GBs of dead-but-unGC'd blocks; the r17 sf30
      // full sweep at the default 8g heap OOM'd two verify-join queries
      // in-sweep that pass in isolation. Two minutes bounds dead-block
      // lifetime at negligible GC cost (one driver GC per 2 min).
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // transformWithState (stateful ParDo / trigger engine) needs a state
      // store with column families — RocksDB, bundled with Spark.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // Local files through a Hadoop filesystem that never starts a
      // process. Without libhadoop the stock one runs `chmod` on every
      // create and `readlink` twice on every FileContext rename: 6,468 of
      // the 6,977 spawns in one perfbench stream_stateful run (~115 per
      // stateful micro-batch), most of the ~1 s per-batch floor. With this
      // filesystem and changelog commits the run spawns 101. See
      // graft.sources.ForkFreeLocalFs and BASELINE.md.
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.ForkFreeLocalFs].getName)
      // A state commit appends one changelog file per partition instead of
      // flushing, zipping and uploading a RocksDB snapshot and deleting
      // its working copy (`rm -rf`); snapshots are taken in the background
      // every few batches. Restores checkpoints written either way.
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      // Catalyst extensions (a NO-OP unless spark.graft.* confs enable a
      // rule — see graft.plans.GraftExtensions)
      .config("spark.sql.extensions", classOf[graft.plans.GraftExtensions].getName)

  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    // diagnosis knob: INFO exposes DAGScheduler stage→callsite mapping
    s.sparkContext.setLogLevel(sys.env.getOrElse("SPARK_GRAFT_LOG_LEVEL", "WARN"))
    s
  }

  /** The driver's synthetic star schema (see /root/repo/TESTDATA.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Load one table from a scale-factor directory, normalizing every
    * timestamp column to session-local TIMESTAMP (LTZ) regardless of the
    * physical parquet encoding. The driver has regenerated the testdata
    * with three encodings so far — `events.ts` was int64 TIMESTAMP(NANOS)
    * through round 7 and `timestamp[us]` with no timezone (Spark:
    * TIMESTAMP_NTZ) from round 8 — so downstream code must never see the
    * physical type:
    *
    *  - int64-nanos: `nanosAsLong` surfaces it as LongType ns-since-epoch,
    *    floor-truncated to µs (the same truncation DuckDB's
    *    TIMESTAMP_NS→TIMESTAMP cast performs, so oracle comparisons agree);
    *  - TIMESTAMP_NTZ: the wall clock is interpreted as UTC — exactly how
    *    the DuckDB oracle reads a no-timezone timestamp[us] — via a cast
    *    under the enforced UTC session timezone;
    *  - TIMESTAMP (LTZ): passed through.
    *
    * After this, `unix_micros(ts)` (LTZ-only in Spark 4) is legal on every
    * table column everywhere downstream. */
  /** Parquet schemas inferred once per (absolute path) per JVM — METADATA
    * only, never data or results: schema inference is a distributed
    * footer-read job (30-100 ms) that the old path re-ran on every single
    * `table()` call, i.e. hundreds of times per bench sweep for the same
    * ten immutable fixture files. Passing the memoized schema via
    * `read.schema(...)` skips that job; the scan itself still reads the
    * parquet data from disk on every query (nothing computed is reused).
    * Keyed by absolute path so distinct scale dirs never collide; the
    * entry is exactly what inference under the enforced nanosAsLong conf
    * would return for that immutable file. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Normalized LOGICAL PLANS memoized per (session, absolute path) — the
    * same metadata-only discipline as [[schemaCache]], one level up: the
    * timestamp-normalization foldLeft below re-runs the analyzer once per
    * `withColumn` per call, ~5.7 ms/call measured warm at r19, and a full
    * bench sweep makes ~1000 `table()` calls for the same ten immutable
    * fixtures. A DataFrame is an immutable lazy plan (relation + one
    * projection) — reusing it is byte-identical to rebuilding it; the scan
    * still reads parquet data on every action, nothing computed is reused.
    * The entry is valid only for the session that built it (plans are
    * session-bound): keyed on path with the owning session checked by
    * REFERENCE on every hit, so a rebuilt session (bench ensureAlive after
    * an executor OOM) can never be served a stale plan. */
  private val planCache =
    new java.util.concurrent.ConcurrentHashMap[String, (SparkSession, DataFrame)]()

  /** Drop memoized schemas/plans under `dir` — the sibling of
    * Queries.invalidateCounts for flows that REWRITE fixture tables at the
    * same path inside one JVM (Sf1Gen): a replaced table's file listing and
    * schema are captured in the memoized relation at build time, so a stale
    * entry would scan deleted part-files. Immutable fixture dirs (the
    * normal case) never need this. */
  private[graft] def invalidateTables(dir: String): Unit = {
    val prefix = new java.io.File(dir).getAbsolutePath + java.io.File.separator
    def drop[V](m: java.util.concurrent.ConcurrentHashMap[String, V]): Unit = {
      val it = m.keySet().iterator()
      while (it.hasNext) if (it.next().startsWith(prefix)) it.remove()
    }
    drop(schemaCache); drop(planCache)
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val key = new java.io.File(path).getAbsolutePath
    val hit = planCache.get(key)
    if (hit != null && (hit._1 eq spark)) return hit._2
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = schemaCache.computeIfAbsent(key,
      _ => spark.read.parquet(path).schema)
    val df = spark.read.schema(schema).parquet(path)
    val normalized = df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case LongType if name == "events" && f.name == "ts" =>
          // integer `div`, NOT floor(ts/1000): double division of an ~1e18
          // ns value loses precision below 2^-53 relative — off-by-1µs
          // truncations that break oracle hash-compares.
          d.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          requireUtc(spark,
            s"normalizing NTZ column `${f.name}` of table `$name` to LTZ")
          d.withColumn(f.name, col(f.name).cast(TimestampType))
        case _ => d
      }
    }
    planCache.put(key, (spark, normalized))
    normalized
  }

  /** Epoch microseconds from either timestamp flavor — a native identity
    * expression (both flavors store µs-since-epoch as a long internally)
    * that rejects, at ANALYSIS time, any non-timestamp input and any NTZ
    * input under a non-UTC session. See
    * [[graft.expressions.EpochMicrosExpr]] for the full contract; the old
    * cast-based formulation would have read a LongType epoch-micros column
    * as SECONDS since epoch — a silent 10^6 error this version fail-louds
    * on. */
  def epochMicros(c: Column): Column =
    ColumnBridge.column(graft.expressions.EpochMicrosExpr(ColumnBridge.expression(c)))

  /** Semantic UTC check: accepts "UTC", "Etc/UTC", "GMT", "+00:00", … —
    * any zone whose rules normalize to the UTC offset — not just the exact
    * string "UTC". Unknown zone ids are NOT UTC (fail-loud downstream). */
  private[graft] def isUtcZone(tz: String): Boolean =
    try java.time.ZoneId.of(tz, java.time.ZoneId.SHORT_IDS)
      .normalized() == java.time.ZoneOffset.UTC
    catch { case _: java.time.DateTimeException => false }

  private[graft] def requireUtc(spark: SparkSession, what: String): Unit = {
    val tz = spark.conf.get("spark.sql.session.timeZone")
    require(isUtcZone(tz),
      s"$what requires spark.sql.session.timeZone=UTC, got '$tz' (an NTZ " +
        "wall clock cast under any other zone would silently shift epoch " +
        "micros)")
  }

  /** Load every table and register temp views (for spark.sql usage). */
  def registerAll(spark: SparkSession, sfDir: String): Map[String, DataFrame] =
    tableNames.map { n =>
      val df = table(spark, sfDir, n)
      df.createOrReplaceTempView(n)
      n -> df
    }.toMap
}
