package perfbench

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.pipeline.Curation

/** Cold curation passes, measured for per-layer metrics in the traced run
  * of `async_hot_keys`. They are no workload of their own because their
  * wall times do not repeat within any allowed bound on a shared host
  * (perfbench/README.md). A pass runs a fixed list of registered queries on
  * seed-generated sf0.01-sized inputs (`<work>/data`, written by run.py);
  * before every query the pipeline stage caches and the catalog cache are
  * released, so each query pays its construction, planning and execution.
  *
  * A query execution is timed in three spans: the query-function call
  * (construction, including any eager stage jobs), `executedPlan`, and
  * `collect()`. The first warm-up pass's results go to `<work>/out` for the
  * checks in oracle.py; every timed result must equal them.
  */
object CurationBatch {
  /** The dedup, link-graph and similarity rows whose Spark job counts the
    * driver-local paths cut: pq23, pq97, pq106 and pq39.
    */
  val Queries = Seq(
    "pq106_link_pagerank", "pq23_dedup_clusters", "pq39_kmeans", "pq97_deletion_reelect")
  val WarmupPasses = 4

  /** Job, stage, task and shuffle-write totals seen by the listener bus. */
  final class Counts extends SparkListener {
    val jobs = new LongAdder; val stages = new LongAdder; val tasks = new LongAdder
    val shuffleBytes = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      Option(e.taskMetrics).foreach(m => shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    def snap(): (Long, Long, Long, Long) = (jobs.sum(), stages.sum(), tasks.sum(), shuffleBytes.get())
  }

  private def sortedRows(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  final case class Exec(name: String, seconds: Double, rows: Array[Row], schema: org.apache.spark.sql.types.StructType)

  def execute(spark: SparkSession, dir: String, name: String, traced: Boolean, parent: Long, op: Long): Exec = {
    Curation.releaseStageCaches(blocking = true)
    spark.catalog.clearCache()
    def span[A](layer: String)(body: => A): A =
      if (traced) Trace.span(s"queries.$name.$layer", parent, op)(_ => body) else body
    val t0 = System.nanoTime()
    val df = span("build")(SparkEntry.queries(name)(spark, dir))
    span("plan")(df.queryExecution.executedPlan)
    val rows = span("exec")(df.collect())
    Exec(name, (System.nanoTime() - t0) / 1e9, rows, df.schema)
  }

  /** Warm-up passes, then a window of at least `seconds` (the traced half of
    * the run). The outcome counts every query executed in the window.
    */
  def traced(spark: SparkSession, args: RunArgs, seconds: Double): Outcome = {
    val dir = args.work.resolve("data").toString
    val counts = new Counts
    spark.sparkContext.addSparkListener(counts)
    val outDir = args.work.resolve("out")
    java.nio.file.Files.createDirectories(outDir)
    val oracle = SparkEntry.oracleSql
    val sqlJson = Queries.map { n =>
      val sql = oracle.getOrElse(n, throw new IllegalStateException(s"$n has no oracle SQL"))
      s"${Main.q(n)}: ${Main.q(sql)}"
    }.mkString("{", ", ", "}")
    java.nio.file.Files.write(outDir.resolve("oracle_sql.json"), sqlJson.getBytes("UTF-8"))

    // first untimed warm-up pass; its results are what oracle.py checks
    val reference = Queries.map { n =>
      val e = execute(spark, dir, n, traced = false, 0L, 0L)
      spark.createDataFrame(e.rows.toSeq.asJava, e.schema).coalesce(1)
        .write.mode("overwrite").parquet(outDir.resolve(n).toString)
      Main.log(f"warm-up $n ${e.seconds}%.2fs")
      n -> sortedRows(e.rows)
    }.toMap
    // pass time keeps falling for ~20 passes as the JIT compiles the
    // driver-side paths (3.0 s → 2.0 s on 4 cores); a few more untimed
    // passes put the timed ones where it falls slowly
    (1 until WarmupPasses).foreach { i =>
      val t0 = System.nanoTime()
      Queries.foreach(n => execute(spark, dir, n, traced = false, 0L, 0L))
      Main.log(f"warm-up pass $i ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }

    // passes run untraced, traced, traced, untraced, ... so that the JVM's
    // warming over the window weighs on both kinds alike, and the window
    // ends on a whole group of four
    var opId = 0L
    val plain, traced = scala.collection.mutable.ArrayBuffer.empty[Double]
    val mismatches = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    var jvm = (0.0, 0.0, 0.0)
    var sparkCounts = (0L, 0L, 0L, 0L)
    val t0 = System.nanoTime()
    while ((plain.size + traced.size) % 4 != 0 || plain.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      val i = plain.size + traced.size
      val tracePass = i % 4 == 1 || i % 4 == 2
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val c0 = counts.snap()
      val j0 = Jvm.snap()
      val pass = if (tracePass) Trace.open("curation.pass", 0L, i) else 0L
      val p0 = System.nanoTime()
      val results = Queries.map { n => opId += 1; execute(spark, dir, n, tracePass, pass, opId) }
      val secs = (System.nanoTime() - p0) / 1e9
      Trace.close(pass)
      if (tracePass) traced += secs
      else {
        plain += secs
        val (gc, alloc, cpu) = Jvm.delta(j0, Jvm.snap())
        jvm = (jvm._1 + gc, jvm._2 + alloc, jvm._3 + cpu)
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        val c1 = counts.snap()
        sparkCounts = (sparkCounts._1 + c1._1 - c0._1, sparkCounts._2 + c1._2 - c0._2,
          sparkCounts._3 + c1._3 - c0._3, sparkCounts._4 + c1._4 - c0._4)
      }
      results.foreach(e => if (sortedRows(e.rows) != reference(e.name)) mismatches(e.name) += 1)
    }
    spark.sparkContext.removeSparkListener(counts)

    def p50Self(span: String) = Stats.quantile(Trace.selfTimesNs(span).map(_ / 1e6), 0.5)
    val perQuery = Queries.flatMap { n =>
      Seq("build", "plan", "exec").map(l => s"queries.$n.${l}_ms" -> (p50Self(s"queries.$n.$l"), "ms"))
    }
    val (gc, alloc, cpu) = jvm
    val passes = plain.size.toDouble
    val perOp = passes * Queries.size
    val (jobs, stages, tasks, shuffle) = sparkCounts
    val passMs = Stats.median(plain.toSeq) * 1000
    val layers = perQuery.toMap ++ Map(
      "curation.pass_ms" -> (passMs, "ms"),
      "curation.trace_overhead_ms" -> (Stats.median(traced.toSeq) * 1000 - passMs, "ms"),
      "curation.jvm.gc_ms" -> (gc / perOp, "ms"),
      "curation.jvm.alloc_mb" -> (alloc / perOp, "MB"),
      "curation.jvm.cpu_ms" -> (cpu / perOp, "ms"),
      "spark.jobs" -> (jobs / passes, "count"),
      "spark.stages" -> (stages / passes, "count"),
      "spark.tasks" -> (tasks / passes, "count"),
      "spark.shuffle_write_mb" -> (shuffle / 1048576.0 / passes, "MB"))
    val runs = plain.size + traced.size
    val notes = Seq(s"curation pass_s=${plain.mkString(",")} traced_pass_s=${traced.mkString(",")}",
      s"curation_runs $runs") ++ mismatches.toSeq.map { case (n, c) => s"mismatch $n $c" }
    Outcome(runs.toLong * Queries.size, mismatches.values.sum.toLong, Map.empty, layers, notes)
  }
}
