package perfbench

import org.apache.spark.sql.SparkSession

/** What one workload run measured. `e2e` holds the end-to-end metrics of the
  * timed window (untraced); `layers` the per-layer metrics of a traced window.
  */
final case class Outcome(
    attempted: Long,
    failed: Long,
    e2e: Map[String, (Double, String)],
    layers: Map[String, (Double, String)],
    notes: Seq[String])

/** Settings shared by every workload. `seconds` is the length of one timed
  * window; `work` is a scratch directory inside the checkout that the caller
  * deletes after the run.
  */
final case class RunArgs(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: java.nio.file.Path,
    traceOut: Option[java.nio.file.Path]) {
  /** Deterministic per-run random source; the program never sees the seed. */
  def rng(salt: Long): java.util.SplittableRandom = new java.util.SplittableRandom(seed * 1000003L + salt)
}

/** Benchmark entry point, started by `perfbench/run.py`. Writes one JSON
  * object to `<work>/result.json`; the Python side adds checks that need
  * DuckDB and prints the final line.
  */
object Main {
  private val t0 = System.nanoTime()
  def log(msg: String): Unit = System.err.println(f"[perfbench] +${(System.nanoTime() - t0) / 1e9}%.2fs $msg")

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val args = RunArgs(
      workload = kv("workload"),
      seed = kv("seed").toLong,
      seconds = kv("seconds").toDouble,
      trace = kv("trace") == "1",
      work = java.nio.file.Paths.get(kv("work")).toAbsolutePath,
      traceOut = kv.get("trace-out").map(java.nio.file.Paths.get(_).toAbsolutePath))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    log("session started")
    val readyMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val ready: () => Unit = () => readyMs.set(System.currentTimeMillis())
    val outcome =
      try args.workload match {
        case "async_io"       => AsyncIo.run(spark, args, ready, AsyncIo.ManyKeys, BrokerCycle.traced)
        case "async_hot_keys" => AsyncIo.run(spark, args, ready, AsyncIo.HotKeys, CurationBatch.traced)
        case other            => throw new IllegalArgumentException(s"unknown workload $other")
      } finally spark.stop()
    args.traceOut.foreach(Trace.write)
    writeResult(args.work.resolve("result.json"), outcome, readyMs.get())
  }

  /** A JSON string literal. */
  def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def metrics(m: Map[String, (Double, String)]): String =
    m.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      s"${q(k)}: {\"value\": $v, \"unit\": ${q(u)}}"
    }.mkString("{", ", ", "}")

  private def writeResult(path: java.nio.file.Path, o: Outcome, readyMs: Long): Unit = {
    val json =
      s"""{"attempted": ${o.attempted}, "failed": ${o.failed}, "ready_ms": $readyMs, """ +
      s""""spans": ${Trace.spansRecorded}, "spans_dropped": ${Trace.spansDropped}, """ +
      s""""e2e": ${metrics(o.e2e)}, "layers": ${metrics(o.layers)}, """ +
      s""""notes": ${o.notes.map(q).mkString("[", ", ", "]")}}"""
    java.nio.file.Files.write(path, json.getBytes("UTF-8"))
  }
}
