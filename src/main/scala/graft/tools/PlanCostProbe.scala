package graft.tools

import graft.{Sessions, SparkEntry}
import graft.metrics.QueryProfile
import graft.tools.Probe.timed

/** The per-query profile of registered queries. For each named query it
  * prints one `PLANCOST` line, the median of three warmed reps of:
  *  - driver time, split into construction (the query builder itself:
  *    eager per-call analysis of every DataFrame operator, plus any
  *    construction-time actions), analysis, cache lookup
  *    (CacheManager.useCachedData canonicalization), logical optimization
  *    and physical planning;
  *  - execution seconds of a noop write of the built query;
  *  - the jobs, stages, tasks and shuffle write/read KB from analysis
  *    through that write (planning runs no job, so these are the write's);
  *  - `constructJobs`, the jobs the builder itself ran, which `construct`
  *    includes and `jobs` does not;
  *  - GC ms and allocated MB over construction and the rest of the rep.
  * Each window is one [[QueryProfile]]. A query whose time is mostly
  * construction needs a smaller expression tree, or fewer builder jobs;
  * one that is mostly execution across many jobs needs fewer actions; one
  * with few jobs but heavy shuffle bytes needs fewer or narrower
  * exchanges. `-rules` adds Catalyst's own per-rule cumulative timings, so
  * a hot rule is named, not guessed; the other modes are described where
  * they run.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.tools.PlanCostProbe [-rules] <query> [query...]
  */
object PlanCostProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dumpRules = args.contains("-rules")
    // -conf:key=value args apply as session confs before probing (A/B aid)
    val confs = args.filter(_.startsWith("-conf:")).map { a =>
      val kv = a.stripPrefix("-conf:").split("=", 2); (kv(0), kv(1))
    }.toSeq
    val names = args.filterNot(_.startsWith("-")).toSeq
    require(names.nonEmpty, "pass query names")
    // -bconf:key=value pairs apply at BUILDER time (static confs like
    // spark.local.dir that a live session cannot change)
    val bconfs = args.filter(_.startsWith("-bconf:")).map { a =>
      val kv = a.stripPrefix("-bconf:").split("=", 2); (kv(0), kv(1))
    }.toSeq
    bconfs.foreach { case (k, v) => println(s"[plancost] bconf $k=$v") }
    val spark = Sessions.local(overrides = bconfs)
    confs.foreach { case (k, v) => spark.conf.set(k, v); println(s"[plancost] conf $k=$v") }
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
        "region", "documents", "embeddings")
      .foreach(t => graft.Tables.table(spark, dir, t).write.format("noop").mode("overwrite").save())
    graft.Tables.events(spark, dir).write.format("noop").mode("overwrite").save()

    // one bad name or runtime error must not abort the remaining queries
    names.foreach { name =>
      try {
        val fn = SparkEntry.queries(name)
        // warm pass: construction actions, codegen, stage caches
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        val reps = (1 to 3).map { _ =>
          val ((df, construct), built) = QueryProfile.run(spark)(timed(fn(spark, dir)))
          val qe = df.queryExecution
          val (phases, ran) = QueryProfile.run(spark) {
            Seq(timed(qe.analyzed)._2, timed(qe.withCachedData)._2, timed(qe.optimizedPlan)._2,
              timed(qe.executedPlan)._2,
              timed(df.write.format("noop").mode("overwrite").save())._2)
          }
          (construct +: phases) ++ Seq(ran.jobs.toDouble, ran.stages.toDouble, ran.tasks.toDouble,
            (ran.shuffleWriteBytes / 1024).toDouble, (ran.shuffleReadBytes / 1024).toDouble,
            (built.gcMs + ran.gcMs).toDouble,
            (built.allocatedBytes + ran.allocatedBytes) / 1048576.0, built.jobs.toDouble)
        }
        val m = reps.transpose.map(_.sorted.apply(1))
        println(f"PLANCOST $name%-28s construct=${m(0)}%6.3f analyze=${m(1)}%6.3f " +
          f"cacheLookup=${m(2)}%6.3f optimize=${m(3)}%6.3f physical=${m(4)}%6.3f exec=${m(5)}%6.3f " +
          f"jobs=${m(6)}%3.0f constructJobs=${m(13)}%3.0f stages=${m(7)}%3.0f tasks=${m(8)}%5.0f " +
          f"shufW=${m(9)}%8.0fKB shufR=${m(10)}%8.0fKB gcMs=${m(11)}%5.0f allocMB=${m(12)}%6.0f")
      } catch { case e: Throwable => System.err.println(s"[plancost] $name probe failed: $e") }
    }
    // -loop: rebuild the first query's plan continuously for ~60 s so an
    // external sampler (jstack) can attribute construction hotspots
    if (args.contains("-loop")) {
      val fn = SparkEntry.queries(names.head)
      val counts = (1 to 4).map { _ =>
        val t0 = System.currentTimeMillis()
        var n = 0
        while (System.currentTimeMillis() - t0 < 15000) {
          fn(spark, dir).queryExecution.executedPlan
          n += 1
        }
        n
      }
      println(s"LOOP ${names.head} plans per 15s: ${counts.mkString(",")}")
    }
    // -ab: same-JVM interleaved A/B of the FIRST -conf entry on the first
    // query's construction (cross-JVM loop comparisons proved unusable:
    // the second JVM of a pair ran 2x faster than the first regardless of
    // conf). Six alternating 15 s windows, default first.
    if (args.contains("-ab") && confs.nonEmpty) {
      val (k, v) = confs.head
      val dflt = spark.conf.get(k)
      // -abexec: run the FULL query (noop sink) instead of planning only
      val exec = args.contains("-abexec")
      names.foreach { name =>
        val fn = SparkEntry.queries(name)
        val out = (0 until 6).map { w =>
          spark.conf.set(k, if (w % 2 == 0) dflt else v)
          val t0 = System.currentTimeMillis()
          var n = 0
          while (System.currentTimeMillis() - t0 < 15000) {
            if (exec) fn(spark, dir).write.format("noop").mode("overwrite").save()
            else fn(spark, dir).queryExecution.executedPlan: Unit
            n += 1
          }
          (if (w % 2 == 0) "default" else "conf   ", n)
        }
        out.foreach { case (tag, n) => println(s"AB $name $tag $n ${if (exec) "execs" else "plans"}/15s") }
        spark.conf.set(k, dflt)
      }
    }
    // -floor: the per-job / per-stage fixed cost of this session shape —
    // what a 170-query suite pays ~500 times regardless of data
    if (args.contains("-floor")) {
      import org.apache.spark.sql.functions.{col => c}
      def medMs(tag: String)(body: => Unit): Unit = {
        (1 to 3).foreach(_ => body) // warm
        val reps = (1 to 15).map { _ =>
          val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
        }.sorted
        println(f"FLOOR $tag%-28s p50=${reps(7)}%7.1f ms min=${reps.head}%7.1f ms")
      }
      medMs("count(range(1))") { spark.range(1).count(): Unit }
      medMs("noop(range(1))") {
        spark.range(1).write.format("noop").mode("overwrite").save()
      }
      medMs("noop(range 1M, 32p)") {
        spark.range(0, 1000000, 1, 32).write.format("noop").mode("overwrite").save()
      }
      medMs("1-shuffle groupBy") {
        spark.range(0, 100000, 1, 32).selectExpr("id % 97 as k")
          .groupBy(c("k")).count()
          .write.format("noop").mode("overwrite").save()
      }
      medMs("2-shuffle groupBy+sort") {
        spark.range(0, 100000, 1, 32).selectExpr("id % 97 as k")
          .groupBy(c("k")).count().orderBy(c("k"))
          .write.format("noop").mode("overwrite").save()
      }
      medMs("broadcast join tiny") {
        val a = spark.range(0, 100000, 1, 32).selectExpr("id % 97 as k")
        val b = spark.range(97).selectExpr("id as k")
        a.join(org.apache.spark.sql.functions.broadcast(b), "k")
          .write.format("noop").mode("overwrite").save()
      }
    }
    if (dumpRules) {
      org.apache.spark.sql.catalyst.rules.RuleExecutor.resetMetrics()
      names.foreach { name =>
        try {
          val df = SparkEntry.queries(name)(spark, dir)
          df.queryExecution.executedPlan
        } catch { case _: Throwable => () }
      }
      // top rules by cumulative time across the probed set
      println(org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent())
    }
    spark.stop()
  }
}
