package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe. Bench, Verify, Explain, the tools and the test
  * suites all build their SparkSession here, so a probe measures the same
  * engine the bench measures:
  *  - `local[cpus]` with as many shuffle partitions as cores;
  *  - UTC session time zone, AQE on, no UI;
  *  - a codegen cache of 10,000 classes: the Janino cache is an LRU of 100
  *    generated classes, and the ~170 registered plans have several codegen
  *    stages each, so at the default size every interleaved rep (and any
  *    long-lived session running the query suite) recompiles every stage,
  *    measured as a ~0.1-0.5 s fixed tax per query rep at sf0.1. It is a
  *    static conf, so it must be set before the session exists;
  *  - the engine's SQL functions through the standard extensions config
  *    ([[graft.plans.GraftExtensions]]), exactly as a user enables them;
  *  - block-manager scratch on tmpfs when there is one ([[tmpfsLocalDir]]).
  * `overrides` are static confs applied last: `Explain` turns AQE off for
  * its static audit, and `PlanCostProbe` passes its `-bconf:` pairs.
  */
object Sessions {

  /** Cores of the local session: `SPARK_GRAFT_CPUS`, 4 when unset. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  def local(cpus: Int = Sessions.cpus, overrides: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    tmpfsLocalDir().foreach(builder.config("spark.local.dir", _))
    overrides.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Shuffle/block-store scratch on tmpfs when available: PlanCostProbe
    * -floor measured the FIRST shuffle of a tiny query at ~0.41 s with local
    * dirs on an overlay root fs vs ~0.21-0.33 s on /dev/shm — pure
    * transient-file churn (blockmgr data+index files), the same host cost
    * that put the state-store and segment scratch on tmpfs.
    * Parameterized, not tuned: production points spark.local.dir
    * (or the SPARK_LOCAL_DIRS env, which Spark gives precedence) at its
    * fast local disks; this default only replaces a slow root fs when
    * tmpfs exists, and falls back to the JVM default otherwise. PID-keyed
    * and swept on exit so overlapping JVMs never collide and tmpfs RAM is
    * returned.
    */
  def tmpfsLocalDir(): Option[String] = {
    val shm = new java.io.File("/dev/shm")
    if (!shm.isDirectory || !shm.canWrite) return None
    val d = new java.io.File(shm, s"graft-local-${ProcessHandle.current().pid()}")
    if (!d.isDirectory && !d.mkdirs()) return None
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(d): Unit))
    Some(d.getAbsolutePath)
  }
}
