package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.{TaskSource, TaskWriter}
import graft.sources.kafkalike.BrokerLog
import graft.streaming.StreamOps

/** The full quota-shaping loop ON the broker — the reference's
  * `QuotaApplierImpl.apply → shaping producer → shaping consumer at its own
  * rate` path (`QuotaApplierImpl.java:56-114`, `PerKeyQuotaConfig.java:
  * 124-151`) executed end-to-end across real graft-kafka topics:
  *
  *   1. a consumer of the origin topic detects hot keys per micro-batch
  *      and diverts their records to a REAL `<topic>-shaping` topic through
  *      the producer surface, completing compliant traffic immediately;
  *   2. a second, independent query consumes `<topic>-shaping` with its own
  *      overridden consumption rate (C4: `PerKeyQuotaConfig.java:124-151`
  *      gives the shaping consumer its own processing rate) enforced by the
  *      source's admission control;
  *   3. nothing is lost crossing the broker, compliant traffic never waits
  *      behind the shaped backlog, and the shaped stream drains strictly
  *      rate-limited over multiple triggers.
  *
  * The loop runs twice: once with the exact windowed count
  * ([[StreamOps.routeByQuota]]) and once with the CMS-sketch estimate
  * ([[StreamOps.routeByQuotaSketch]]) — the latter is the reference's actual
  * live decision rule (`PerKeyQuotaManager.java:112-135` shapes on the
  * ESTIMATED rate) and the posture that survives an unbounded key space:
  * per-window state is `width·depth·8` bytes, not a per-key map.
  */
object ShapingLoopSpec {
  // compliant completions: (key, wallClockMillis)
  val compliant = new ConcurrentLinkedQueue[(String, Long)]()
  // shaped-consumer deliveries: (batchId, key, wallClockMillis)
  val shapedSeen = new ConcurrentLinkedQueue[(Long, String, Long)]()
  def reset(): Unit = { compliant.clear(); shapedSeen.clear() }
}

class ShapingLoopSpec extends SparkTestBase {

  /** Drive the end-to-end loop with `route` as the per-micro-batch shaping
    * decision; every assertion is identical across decision rules — the
    * delivered sets must not depend on whether the detector was exact or a
    * sketch (CMS only over-counts, and at 41 sub-quota keys against the
    * 65536-wide default the collision mass is zero in practice).
    */
  private def runLoop(
      tag: String,
      mkKey: Column => Column =
        id => when(id < 60, lit("hot")).otherwise(concat(lit("k"), id)),
      expectedCompliant: Set[String] = (60 until 100).map(i => s"k$i").toSet,
      isHot: String => Boolean = _ == "hot")(
      route: (DataFrame, Column, Column) => (DataFrame, DataFrame)): Unit = {
    ShapingLoopSpec.reset()

    val root = tempDir(s"graft-shaping-loop-$tag")
    val origin = "tasks"
    val shapingTopic = s"$origin-shaping"
    BrokerLog.createTopic(root, origin, 2)
    // one shaping partition: the proportional admission split is then exact
    // per trigger, so the rate assertion has no rounding slack
    BrokerLog.createTopic(root, shapingTopic, 1)

    // 100 origin records in one rate window: key "hot" bursts 60 times
    // (>= quota 50), 40 compliant keys send one record each
    val t0 = System.currentTimeMillis()
    val meta = struct(
      lit(t0).as("timestamp_millis"),
      lit("graft-test").as("source_application_id"),
      lit("i-0").as("source_instance_id"),
      lit(0L).as("retry_count"),
      lit(0L).as("scheduled_time_millis"))
    val originRows = spark.range(100).select(
      mkKey(col("id")).as("k"), col("id"), meta.as("meta"))
    TaskWriter.toKafkaShape(originRows, col("k"), col("id").cast("string"), col("meta"), origin)
      .write.format("graft-kafka").mode("append").option("root", root).save()

    // 1. origin consumer: detect + divert per micro-batch, complete compliant
    val q1 = TaskSource.brokerStream(spark, root, origin)
      .writeStream
      .option("checkpointLocation",
        tempDir(s"graft-shaping-ckpt1-$tag"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val keyed = batch.withColumn("k", col("key").cast("string"))
        val (ok, shaped) = route(keyed, col("k"), col("timestamp"))
        // shaped records leave through the real producer, headers intact
        shaped.select(col("key"), col("value"), col("headers"),
            lit(shapingTopic).as("topic"))
          .write.format("graft-kafka").mode("append").option("root", root).save()
        val now = System.currentTimeMillis()
        ok.select(col("k")).collect()
          .foreach(r => ShapingLoopSpec.compliant.add((r.getString(0), now)))
        ()
      }.start()

    // 2. shaping consumer: SEPARATE query, own checkpoint, C4-overridden rate
    val shapedRate = 16L
    val q2 = spark.readStream.format("graft-kafka")
      .option("root", root)
      .option("subscribe", shapingTopic)
      .option("maxOffsetsPerTrigger", shapedRate.toString)
      .option("failOnDataLoss", "false")
      .load()
      .writeStream
      .option("checkpointLocation",
        tempDir(s"graft-shaping-ckpt2-$tag"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val now = System.currentTimeMillis()
        batch.select(col("key").cast("string")).collect()
          .foreach(r => ShapingLoopSpec.shapedSeen.add((batchId, r.getString(0), now)))
        ()
      }.start()

    try {
      val deadline = System.currentTimeMillis() + 60000
      while ((ShapingLoopSpec.compliant.size < 40 || ShapingLoopSpec.shapedSeen.size < 60) &&
             System.currentTimeMillis() < deadline) {
        q1.processAllAvailable()
        q2.processAllAvailable()
        Thread.sleep(20)
      }

      // routing: the compliant side is exactly the 40 one-record keys
      val okKeys = ShapingLoopSpec.compliant.asScala.map(_._1).toVector
      assert(okKeys.size == 40 && okKeys.toSet == expectedCompliant,
        s"compliant side must be exactly the 40 sub-quota keys, got ${okKeys.sorted}")
      assert(!okKeys.exists(isHot), "a bursting key leaked into the compliant side")

      // every burst record crossed the broker into the shaping topic
      assert(BrokerLog.offsetRange(root, shapingTopic, 0)._2 == 60L,
        "all 60 hot records must land on the shaping topic")
      val shaped = ShapingLoopSpec.shapedSeen.asScala.toVector
      assert(shaped.size == 60 && shaped.forall(s => isHot(s._2)),
        s"shaped consumer must deliver exactly the 60 hot records, got ${shaped.size}")

      // C4 rate override: no shaped trigger admitted more than the topic's
      // own rate, and draining 60 records at 16/trigger takes >= 4 triggers
      val byBatch = shaped.groupBy(_._1).view.mapValues(_.size).toMap
      assert(byBatch.values.forall(_ <= shapedRate),
        s"a shaped trigger exceeded the overridden rate: $byBatch")
      assert(byBatch.size >= 4, s"shaped backlog must drain over >= 4 rate-capped triggers: $byBatch")

      // compliant traffic was not held behind the shaped backlog: all 40
      // completed no later than the shaped stream's final delivery
      val compliantDone = ShapingLoopSpec.compliant.asScala.map(_._2).max
      val shapedDone = shaped.map(_._3).max
      assert(compliantDone <= shapedDone,
        s"compliant traffic finished at $compliantDone, after the shaped drain $shapedDone")
    } finally { q1.stop(); q2.stop() }
  }

  test("hot keys divert to a real -shaping topic and drain at the overridden rate (A4+S5+C4, exact counts)") {
    runLoop("exact") { (batch, key, ts) =>
      StreamOps.routeByQuota(batch, key, ts, "1 day", quota = 50L)
    }
  }

  test("the live loop shapes from the CMS sketch estimate — the reference's actual decision rule (A3+A4+S5+C4)") {
    runLoop("sketch") { (batch, key, ts) =>
      StreamOps.routeByQuotaSketch(batch, key, ts, "1 day", quota = 50L)
    }
  }

  test("robots Crawl-delay drives the live loop: each domain shapes at ITS OWN robots-derived rate") {
    // two domains at window volumes 60 and 40, BOTH under the router's
    // defaultQuota (1000) — a global threshold would shape NOTHING. The
    // rates that decide are parsed from each authority's robots.txt:
    // slow-site.com declares Crawl-delay 2880s (quota 86400/2880 = 30/day
    // -> its 60 distinct URLs divert), fast-site.org declares 864s (quota
    // 100/day -> its 40 URLs pass untouched). The slow domain's traffic
    // then drains through the shaping topic at the overridden consumer
    // rate while the fast domain completed immediately — two domains,
    // two robots-driven rates, measurably different drains (the loop's
    // standard compliant-before-shaped-drain assertion).
    import spark.implicits._
    val robots = Seq(
      ("slow-site.com", "User-agent: *\nCrawl-delay: 2880\nDisallow: /tmp"),
      ("fast-site.org", "User-agent: *\nCrawl-delay: 864"))
      .toDF("host", "robots_txt")
    runLoop(
      "robots",
      mkKey = id => when(id < 60,
          concat(lit("https://slow-site.com/page/"), id))
        .otherwise(concat(lit("https://fast-site.org/item/"), id)),
      expectedCompliant =
        (60 until 100).map(i => s"https://fast-site.org/item/$i").toSet,
      isHot = _.contains("slow-site.com")) { (batch, url, ts) =>
      graft.pipeline.WebCuration.politenessRouteRobots(
        batch, url, ts, "1 day", robots, agent = "graftbot",
        defaultQuota = 1000L)
    }
  }

  test("crawl politeness drives the live loop: one hot DOMAIN's distinct URLs divert, cold domains pass") {
    // 60 DISTINCT urls under one domain — per-key (per-URL) quota would see
    // 60 singleton keys and shape nothing; the domain-keyed politeness rule
    // is what catches the hot site. Same broker loop, same assertions.
    runLoop(
      "politeness",
      mkKey = id => when(id < 60,
          concat(lit("https://hot.example.com/page/"), id))
        .otherwise(concat(lit("https://site"), id, lit(".example.org/x"))),
      expectedCompliant =
        (60 until 100).map(i => s"https://site$i.example.org/x").toSet,
      isHot = _.contains("hot.example.com")) { (batch, url, ts) =>
      graft.pipeline.WebCuration.politenessRoute(
        batch, url, ts, "1 day", maxPerWindow = 50L)
    }
  }
}
