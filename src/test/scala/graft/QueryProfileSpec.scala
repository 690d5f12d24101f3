package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import org.apache.spark.sql.graftbridge.{GraftBridge, TestEvents}

import graft.metrics.QueryProfile

class QueryProfileSpec extends SparkTestBase {

  /** 10,000 rows in 4 partitions grouped into 97 keys: one shuffle. */
  private def oneShuffle(): DataFrame =
    spark.range(0, 10000, 1, 4).groupBy((col("id") % 97).as("k")).count()

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  test("one shuffle: its stages, tasks and shuffle bytes") {
    noop(oneShuffle()) // warm: codegen out of the window
    val (_, p) = QueryProfile.run(spark)(noop(oneShuffle()))
    info(s"jobs=${p.jobs} stages=${p.stages} tasks=${p.tasks} " +
      s"shufW=${p.shuffleWriteBytes} shufR=${p.shuffleReadBytes}")
    assert(p.stages == 2, "the map stage and the result stage")
    assert(p.tasks == 5, "4 map tasks, and AQE coalesces the 97 keys into 1 reduce task")
    assert(p.shuffleWriteBytes > 0)
    assert(p.shuffleWriteBytes == p.shuffleReadBytes, "every byte written is read once")
    assert(p.inputBytes == 0 && p.spillBytes == 0, "range reads no file and spills nothing")
  }

  test("a job run before the window is not counted") {
    noop(oneShuffle())
    val (_, p) = QueryProfile.run(spark)(())
    assert(p.jobs == 0 && p.stages == 0 && p.tasks == 0 && p.shuffleWriteBytes == 0)
  }

  test("a body that throws still detaches the listener and rethrows") {
    def profiles() = TestEvents.sparkListeners(spark.sparkContext).collect { case q: QueryProfile => q }
    assert(profiles().isEmpty)
    var attached: Seq[QueryProfile] = Nil
    val e = intercept[IllegalStateException] {
      QueryProfile.run(spark) {
        attached = profiles()
        noop(oneShuffle())
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(attached.size == 1, "the profile is attached inside the body")
    assert(profiles().isEmpty, "and detached after the throw")
    val jobs = attached.head.jobs
    assert(jobs > 0)
    noop(oneShuffle())
    GraftBridge.drainListenerBus(spark.sparkContext)
    assert(attached.head.jobs == jobs, "a detached profile counts nothing more")
  }

  test("a builder that calls count() shows up as one construct job") {
    def builder(): DataFrame = {
      val n = spark.range(0, 1000, 1, 1).count() // one partition: no exchange, one job
      spark.range(n).toDF()
    }
    builder() // warm
    val (df, built) = QueryProfile.run(spark)(builder())
    assert(built.jobs == 1)
    val (_, ran) = QueryProfile.run(spark)(noop(df))
    assert(ran.jobs == 1, "the action's job is counted in its own window only")
  }
}
