package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.config.{DynamicProperty, EngineProperties, FilePropertySupplier}
import graft.operators.{AveragingRateLimiter, DynamicRateLimiter, RateGate, RateLimiter}

object RateLimiterSpec {
  val processed = new ConcurrentLinkedQueue[java.lang.Long]()
  val blocked = new ConcurrentLinkedQueue[java.lang.Long]()
}

class RateLimiterSpec extends SparkTestBase {

  /** Virtual clock: sleeps advance time instantly, so regime assertions are
    * exact without wall-clock flakiness.
    */
  private class VirtualTime {
    val now = new AtomicLong(0L)
    val slept = new AtomicLong(0L)
    val nanoTime: () => Long = () => now.get()
    val sleep: Long => Unit = n => { now.addAndGet(n); slept.addAndGet(n) }
  }

  test("bounded regime: rate N admits a 1s burst then paces at N permits/sec") {
    val vt = new VirtualTime
    val l = new AveragingRateLimiter(100L, 1.0, vt.nanoTime, vt.sleep)
    // full burst: first 100 permits are free
    (1 to 100).foreach(_ => l.acquire(1))
    assert(vt.slept.get() == 0L, s"burst should be free, slept ${vt.slept.get()}ns")
    // next 200 permits must take 2 seconds of pacing
    (1 to 200).foreach(_ => l.acquire(1))
    val sleptSec = vt.slept.get() / 1e9
    assert(sleptSec >= 1.9 && sleptSec <= 2.1, s"expected ~2s of pacing, got ${sleptSec}s")
  }

  test("bounded regime: bulk acquire paces the same as unit acquires") {
    val vt = new VirtualTime
    val l = new AveragingRateLimiter(1000L, 1.0, vt.nanoTime, vt.sleep)
    l.acquire(1000) // burst
    l.acquire(500)  // reserves ahead; waits nothing yet (reservation model)
    l.acquire(500)  // must wait for the previous reservation: ~0.5s
    val sleptSec = vt.slept.get() / 1e9
    assert(sleptSec >= 0.45 && sleptSec <= 0.6, s"expected ~0.5s, got ${sleptSec}s")
  }

  test("unlimited regime: rate -1 never waits") {
    val prop = new DynamicProperty(EngineProperties.ProcessingRate, -1L)
    val vt = new VirtualTime
    val l = new DynamicRateLimiter(prop, vt.nanoTime, vt.sleep)
    (1 to 10000).foreach(_ => l.acquire(1))
    assert(vt.slept.get() == 0L)
    l.close()
  }

  test("paused regime: rate 0 parks acquirers until the rate changes") {
    val prop = new DynamicProperty(EngineProperties.ProcessingRate, 0L)
    val l = new DynamicRateLimiter(prop) // real clock: the park loop waits on a monitor
    @volatile var acquired = false
    val t = new Thread(() => { l.acquire(1); acquired = true })
    t.start()
    Thread.sleep(300)
    assert(!acquired, "acquire must block while rate is 0")
    prop.set(-1L) // resume unlimited
    t.join(2000)
    assert(acquired, "acquire must resume when the rate leaves 0")
    l.close()
  }

  test("close() releases acquirers parked on rate 0") {
    val prop = new DynamicProperty(EngineProperties.ProcessingRate, 0L)
    val l = new DynamicRateLimiter(prop)
    @volatile var released = false
    val t = new Thread(() => { l.acquire(1); released = true })
    t.start()
    Thread.sleep(200)
    l.close()
    t.join(2000)
    assert(released, "close must release paused acquirers")
  }

  test("hot reload swaps the bucket: rate change takes effect on next acquire") {
    val vt = new VirtualTime
    val prop = new DynamicProperty(EngineProperties.ProcessingRate, 100L)
    val l = new DynamicRateLimiter(prop, vt.nanoTime, vt.sleep)
    (1 to 300).foreach(_ => l.acquire(1)) // burst 100 + 2s pacing
    val sleptAt100 = vt.slept.get()
    assert(sleptAt100 / 1e9 >= 1.9)
    prop.set(10000L)
    (1 to 300).foreach(_ => l.acquire(1)) // fresh bucket: 300 < 10000 burst ⇒ free
    assert(vt.slept.get() == sleptAt100,
      s"after raising the rate, 300 permits must ride the new burst (slept ${vt.slept.get() - sleptAt100}ns more)")
    l.close()
  }

  test("MaxRatePerPartition is enforced as a validator, not a dead constant") {
    val prop = new DynamicProperty(EngineProperties.ProcessingRate, -1L)
    intercept[IllegalArgumentException] {
      prop.set(graft.operators.RateLimit.MaxRatePerPartition + 1)
    }
    prop.set(graft.operators.RateLimit.MaxRatePerPartition) // at the cap: fine
  }

  test("a RUNNING streaming query picks up a file-edited blocklist at a trigger boundary (P4)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    RateLimiterSpec.blocked.clear()

    val cfg = tempFile("graft-blocklist", ".properties")
    Files.writeString(cfg, "decaton.ignore.keys=\n")
    val supplier = new FilePropertySupplier(cfg, pollMillis = 50L)
    val prop = new DynamicProperty(EngineProperties.IgnoreKeys, Seq.empty[String])
    supplier.bind(prop)

    val in = MemoryStream[Long]
    val q = in.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        // re-read the dynamic property at each trigger: the broadcast-refresh
        // pattern — the blocklist the batch sees is whatever the file said
        // at this trigger boundary
        val ignore = prop.value
        graft.operators.KeyBlocking
          .blockKeys(df, org.apache.spark.sql.functions.col("value").cast("string"), ignore)
          .collect().foreach(r => RateLimiterSpec.blocked.add(r.getLong(0)))
      }
      .start()
    try {
      in.addData(1L, 2L, 3L)
      q.processAllAvailable()
      assert(RateLimiterSpec.blocked.asScala.toSet == Set(1L, 2L, 3L), "empty blocklist passes all")
      RateLimiterSpec.blocked.clear()
      Files.writeString(cfg, "decaton.ignore.keys=2,3\n")
      // wait for the watcher to re-drive the bound property
      val deadline = System.currentTimeMillis() + 5000
      while (prop.value != Seq("2", "3") && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(prop.value == Seq("2", "3"), "file edit must reach the dynamic property")
      in.addData(1L, 2L, 3L, 4L)
      q.processAllAvailable()
      assert(RateLimiterSpec.blocked.asScala.toSet == Set(1L, 4L),
        s"edited blocklist must drop keys 2,3 at the next trigger, saw ${RateLimiterSpec.blocked.asScala.toSet}")
    } finally {
      q.stop()
      supplier.close()
    }
  }

  test("C4: shaping topics carry their own per-query rate via source options") {
    // per-topic rate override = a separate query over the shaping topic with
    // its own intake bound (SURVEY §2.6 C4): the options must be independent
    val origin = graft.sources.TaskSource.kafkaOptions("tasks", Some("tasks-retry"), Nil,
      graft.operators.RateLimit.maxOffsetsPerTrigger(1000, partitions = 4, triggerSeconds = 1))
    val shaping = graft.sources.TaskSource.kafkaOptions("tasks-shaping", None, Nil,
      graft.operators.RateLimit.maxOffsetsPerTrigger(50, partitions = 4, triggerSeconds = 1))
    assert(origin("maxOffsetsPerTrigger") == "4000")
    assert(shaping("maxOffsetsPerTrigger") == "200")
    assert(shaping("subscribe") == "tasks-shaping")
    // rate 0 on a shaping topic pauses it outright (take nothing per trigger)
    assert(graft.operators.RateLimit.maxOffsetsPerTrigger(0, 4, 1).contains(0L))
  }

  test("a RUNNING streaming query picks up a file-edited rate at a trigger boundary (P4)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    RateLimiterSpec.processed.clear()

    val cfg = tempFile("graft-rate", ".properties")
    Files.writeString(cfg, "decaton.processing.rate.per.partition=0\n")
    val supplier = new FilePropertySupplier(cfg, pollMillis = 50L)
    val prop = new DynamicProperty(EngineProperties.ProcessingRate, 0L)
    supplier.bind(prop)
    val limiter = new DynamicRateLimiter(prop)

    val in = MemoryStream[Long]
    in.addData(1L, 2L, 3L)
    val q = in.toDF().writeStream
      .foreachBatch(RateGate.gated(limiter) { (df, _) =>
        df.collect().foreach(r => RateLimiterSpec.processed.add(r.getLong(0)))
      })
      .start()
    try {
      // rate 0: the admission gate must hold the first batch back
      Thread.sleep(1500)
      assert(RateLimiterSpec.processed.isEmpty,
        s"rate 0 must pause the pipeline, processed ${RateLimiterSpec.processed.size()} rows")
      // live edit: unlimited. The watcher re-drives the bound property, which
      // wakes the parked admission call — no query restart.
      Files.writeString(cfg, "decaton.processing.rate.per.partition=-1\n")
      q.processAllAvailable()
      assert(RateLimiterSpec.processed.size() == 3,
        s"after the rate change the held batch must flow, got ${RateLimiterSpec.processed.size()}")
    } finally {
      q.stop()
      limiter.close()
      supplier.close()
    }
  }
}
