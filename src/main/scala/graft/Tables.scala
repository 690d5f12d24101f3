package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided TPC-H-ish parquet tables (see TESTDATA.md).
  *
  * All readers go through `spark.read.parquet` so Catalyst gets full
  * predicate-pushdown / column-pruning into the parquet scan. At 100 TB these
  * would be partitioned tables behind a catalog; the single-file layout here is
  * the sf0.001..0.1 test harness shape.
  *
  * Loads are memoized per (session, path): `spark.read.parquet` builds a file
  * index and reads the footer schema every call, which at 49 queries × 1-3
  * tables each was a large share of the benchmark's fixed per-query floor.
  * The cached DataFrame pins only the resolved relation (file index +
  * schema) — per-query optimization/codegen still runs per plan.
  *
  * Eviction: a WeakHashMap would never release entries here (the cached
  * DataFrames strongly reference their SparkSession — a value→key path that
  * pins the weak key, the exact anti-pattern the WeakHashMap javadoc warns
  * about), so the cache is a plain map purged of sessions whose
  * SparkContext has stopped on every access.
  */
object Tables {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[String, DataFrame]]()

  private def perSessionCache(spark: SparkSession) = {
    cache.keySet.removeIf(s => s.sparkContext.isStopped)
    cache.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, DataFrame]())
  }

  /** JVM-lifetime scratch root for queries that materialize side artifacts
    * (WARC segments, broker logs, WET sinks): every dir from
    * [[scratchDir]] nests under ONE root that a shutdown hook deletes
    * recursively, so repeated bench reps / verify runs cannot accumulate
    * unbounded /tmp (three bench passes × ~10 segment-writing queries
    * used to leak a fresh temp dir each). The side writes happen
    * driver-side or via `foreachPartition` on LOCAL-mode executors —
    * these queries assume driver and executors share a filesystem, which
    * holds for the test harness; a cluster deployment would point the
    * same operators at a shared store instead.
    */
  private lazy val scratchRoot: java.nio.file.Path = {
    // tmpfs when available: the WARC/jsonl segment harnesses write
    // and re-read these per invocation, and /dev/shm skips the root-fs
    // commit cost the same way dq25's state-store checkpoint does
    val shm = java.nio.file.Paths.get("/dev/shm")
    val root =
      if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm))
        java.nio.file.Files.createTempDirectory(shm, "graft-scratch")
      else java.nio.file.Files.createTempDirectory("graft-scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles()).getOrElse(Array.empty).foreach(rm)
        p.delete(): Unit
      }
      rm(root.toFile)
    }))
    root
  }

  /** A fresh scratch directory under the shutdown-swept root. */
  def scratchDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(scratchRoot, tag).toString

  /** A STABLE scratch root (same path every call — the dq28/29/30 segment
    * stores rely on stable paths so reruns overwrite their own segments
    * idempotently), on tmpfs when available: the per-invocation parquet
    * segment writes pay the filesystem's commit/fsync cost, which on the
    * root fs dominated these queries' bench time the same way dq25's
    * state-store fsyncs did before its checkpoint moved to /dev/shm.
    * Swept by the same shutdown hook as [[scratchDir]] so tmpfs RAM is
    * returned on JVM exit; the segments are tiny (KBs) and every
    * invocation rewrites its own batches from the parquet inputs, so
    * nothing computed ever survives a rerun as an input.
    */
  private lazy val stableRootBase: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)) {
      // PID-keyed: a fixed shared path meant that when two graft
      // JVMs overlap (Bench and Verify), the first to exit swept the
      // second's LIVE dq28/29/30 segment stores mid-run. The pid suffix is
      // stable within a JVM (the rerun-overwrite contract the segment
      // stores rely on) and unique across JVMs, so each hook deletes only
      // its own tree.
      val r = shm.resolve(s"graft-scratch-stable-${ProcessHandle.current().pid()}")
      java.nio.file.Files.createDirectories(r)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(p: java.io.File): Unit = {
          Option(p.listFiles()).getOrElse(Array.empty).foreach(rm)
          p.delete(): Unit
        }
        rm(r.toFile)
      }))
      r
    } else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
  }

  def stableScratchRoot(tag: String): String =
    stableRootBase.resolve(tag).toString

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    perSessionCache(spark).computeIfAbsent(s"$sfDir/$name.parquet",
      path => spark.read.parquet(path))

  /** Scale-adaptive input spread for row-local-HEAVY stages (optimization
    * guide §2.2/§6): the harness tables are single-file, single-row-group
    * parquet, so a scan is ONE task regardless of `maxPartitionBytes` —
    * a query whose dominant cost is per-row work above that scan (hash
    * families, regex chains, shingling) serializes on one core while the
    * rest idle. When the source files sum to LESS than one scan split, a
    * round-robin repartition to the session parallelism costs a sub-split
    * local shuffle and parallelizes everything above it; above one split
    * the scan parallelizes itself and this is the identity, so the rule
    * derives from input size and self-disables at production scale.
    * Round-robin is partition-order-safe here: every registered query is
    * bit-exact by contract (integer/decimal aggregation, deterministic
    * tie-breaks), which the post-round oracle re-verifies. Apply ONLY
    * where the per-row work measurably dominates — the spread exchange
    * costs one serialize/deserialize of the pruned columns, which LOSES
    * on queries whose next operation is a keyed shuffle anyway (measured:
    * q25 +0.7 s, pq51 +0.3 s with a blanket spread; pq84 −0.5 s, pq05
    * −0.3 s where the row work dominates).
    *
    * Known gap (documented rather than fixed): the bytes<split
    * trigger assumes a multi-split input parallelizes itself, but a single
    * FILE with a single ROW GROUP larger than one split still scans as one
    * task, so the spread silently stops applying at that intermediate
    * shape. Detecting it would need footer row-group inspection here (or
    * forcing the physical plan, which under AQE executes query stages
    * eagerly); the failure mode is perf-only at a shape the harness never
    * produces above sf sizes, never correctness.
    */
  def spreadForRowWork(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val bytes =
      try df.inputFiles.map { f =>
        val u = new java.net.URI(f)
        new java.io.File(if (u.getScheme == null) f else u.getPath).length()
      }.sum
      catch { case _: Throwable => Long.MaxValue }
    val maxSplit = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
      .map(v => org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v))
      .getOrElse(128L * 1024 * 1024)
    val par = spark.sparkContext.defaultParallelism
    if (bytes > 0 && bytes < maxSplit && par > 2) df.repartition(par) else df
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame       = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "region")
  /** The events table's `ts` column has shipped in two physical forms across
    * testdata generations: parquet TIMESTAMP(NANOS) — which Spark's vectorized
    * reader rejects, so it is read as nanos-since-epoch via the legacy conf and
    * floor-divided to microseconds (exactly what DuckDB does natively on the
    * same file) — and a plain TIMESTAMP(MICROS), which Spark infers as
    * TIMESTAMP_NTZ and DuckDB as TIMESTAMP. Normalize both to a session-UTC
    * TimestampType column so every downstream query and oracle comparison sees
    * identical values regardless of the file generation.
    * The conf is set only when not already set (a conf write per call would
    * churn session state on every query).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    if (!spark.conf.getOption(key).contains("true")) spark.conf.set(key, "true")
    // resolve the base table BEFORE the computeIfAbsent below: a mapping
    // function must not update other mappings of the same ConcurrentHashMap
    // (same-bin recursion throws "Recursive update")
    val base = table(spark, sfDir, "events")
    perSessionCache(spark).computeIfAbsent(s"$sfDir/events.parquet#micros", _ => {
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      import org.apache.spark.sql.types.{LongType, TimestampType}
      base.schema("ts").dataType match {
        case LongType => // nanos-as-long generation
          base.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampType => base
        case _ => // TIMESTAMP_NTZ generation: wall time == UTC instant here
          base.withColumn("ts", col("ts").cast(TimestampType))
      }
    })
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
}
