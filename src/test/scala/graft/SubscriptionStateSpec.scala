package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.sources.kafkalike.BrokerLog
import graft.streaming.SubscriptionStates
import graft.streaming.SubscriptionStates._

/** The subscription lifecycle bridge (reference
  * `SubscriptionStateListener.java:50-85`): the reference's state vocabulary
  * published from real streaming-query runs — full lifecycle order, the
  * REBALANCING ↔ RUNNING loop on a mid-run partition-assignment change
  * (topic expansion under subscribe-mode metadata refresh), restart
  * semantics, and the listener-exception contract.
  */
class SubscriptionStateSpec extends SparkTestBase {

  private def freshRoot(): String = tempDir("graft-substate")

  private def produceN(root: String, topic: String, part: Int, n: Int, prefix: String = "k"): Unit =
    (0 until n).foreach { i =>
      BrokerLog.produce(root, topic, part, BrokerLog.Record(
        s"$prefix$i".getBytes, s"v$i".getBytes, 1704067200000L + i, Seq.empty))
    }

  private def startQuery(root: String, topic: String, name: String, ckpt: String) =
    spark.readStream.format("graft-kafka")
      .option("root", root).option("subscribe", topic)
      .load()
      .writeStream.queryName(name)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (_: DataFrame, _: Long) => () }
      .start()

  /** Listener events are delivered asynchronously off the query thread —
    * poll until the bridge's history satisfies `cond` (or fail loudly).
    */
  private def awaitHistory(b: graft.streaming.SubscriptionStateBridge, what: String)(
      cond: Seq[State] => Boolean): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!cond(b.history) && System.nanoTime() < deadline) Thread.sleep(50)
    assert(cond(b.history), s"$what; history=${b.history}")
  }

  test("full lifecycle publishes the reference's transition sequence in order") {
    val root = freshRoot()
    BrokerLog.createTopic(root, "life", 2)
    produceN(root, "life", 0, 4)
    produceN(root, "life", 1, 4)
    val seen = new ConcurrentLinkedQueue[State]()
    val bridge = SubscriptionStates.attach(spark, "life-q",
      new SubscriptionStateListener { def onChange(s: State): Unit = seen.add(s) },
      // a throwing listener must be swallowed, not kill the subscription
      // (ProcessorSubscription.updateState:208-217)
      new SubscriptionStateListener { def onChange(s: State): Unit = sys.error("user bug") })
    try {
      val q = startQuery(root, "life", "life-q",
        tempDir("graft-substate-ckpt"))
      q.processAllAvailable()
      awaitHistory(bridge, "INITIALIZING then RUNNING expected after the first batch")(
        _.take(2) == Seq(INITIALIZING, RUNNING))
      assert(bridge.currentState.contains(RUNNING))
      bridge.stopGracefully(q)
      q.awaitTermination()
      awaitHistory(bridge, "graceful stop must pass through SHUTTING_DOWN to TERMINATED")(
        _ == Seq(INITIALIZING, RUNNING, SHUTTING_DOWN, TERMINATED))
      // the plain (throwing-listener-surviving) callback saw every transition
      assert(seen.asScala.toSeq == Seq(INITIALIZING, RUNNING, SHUTTING_DOWN, TERMINATED))
    } finally bridge.detach()
  }

  test("mid-run topic expansion publishes REBALANCING -> RUNNING and delivers the new partition") {
    val root = freshRoot()
    BrokerLog.createTopic(root, "grow", 2)
    produceN(root, "grow", 0, 3)
    produceN(root, "grow", 1, 3)
    GraftKafkaSourceSpec.reset()
    val bridge = SubscriptionStates.attach(spark, "grow-q")
    try {
      val q = spark.readStream.format("graft-kafka")
        .option("root", root).option("subscribe", "grow")
        .load()
        .writeStream.queryName("grow-q")
        .option("checkpointLocation", tempDir("graft-substate-grow"))
        .foreachBatch { (batch: DataFrame, id: Long) =>
          import org.apache.spark.sql.functions._
          batch.select(col("key").cast("string"), col("offset"), col("partition"), col("topic"))
            .collect().foreach(r => GraftKafkaSourceSpec.delivered.add(
              (id, r.getString(0), r.getLong(1), r.getInt(2), r.getString(3))))
          ()
        }
        .start()
      try {
        q.processAllAvailable()
        awaitHistory(bridge, "steady state before the expansion")(
          _.take(2) == Seq(INITIALIZING, RUNNING))
        // Kafka's --alter --partitions 3: the subscribed query's next trigger
        // re-enumerates the topic and the assignment grows
        BrokerLog.expandTopic(root, "grow", 3)
        produceN(root, "grow", 2, 2, prefix = "new")
        q.processAllAvailable()
        awaitHistory(bridge, "assignment change must publish REBALANCING then RUNNING")(
          h => h.containsSlice(Seq(RUNNING, REBALANCING, RUNNING)))
        // and the records in the NEW partition actually arrived, from offset 0
        val newRecs = GraftKafkaSourceSpec.delivered.asScala.filter(_._4 == 2).toVector
        assert(newRecs.map(_._2).sorted == Vector("new0", "new1"),
          s"new partition's records must be delivered, got $newRecs")
        assert(newRecs.map(_._3).sorted == Vector(0L, 1L))
      } finally q.stop()
    } finally bridge.detach()
  }

  test("graft-jsonl assignment changes publish REBALANCING too (source-generic signature)") {
    // the jsonl medium's flat {"file":pos} offsets must feed the signature
    // exactly like kafka's nested shape: a new segment joining the tail IS
    // the medium's partition-added event
    val dir = tempDir("graft-substate-jsonl")
    graft.sources.jsonl.GraftJsonl.append(dir, "a.jsonl", Seq("""{"i":1}"""))
    val bridge = SubscriptionStates.attach(spark, "jsonl-q")
    try {
      val q = spark.readStream.format("graft-jsonl").option("path", dir)
        .load()
        .writeStream.queryName("jsonl-q")
        .option("checkpointLocation", tempDir("graft-substate-jck"))
        .foreachBatch { (_: DataFrame, _: Long) => () }
        .start()
      try {
        q.processAllAvailable()
        awaitHistory(bridge, "steady state on one segment")(
          _.take(2) == Seq(INITIALIZING, RUNNING))
        graft.sources.jsonl.GraftJsonl.append(dir, "b.jsonl", Seq("""{"i":2}"""))
        q.processAllAvailable()
        awaitHistory(bridge, "a new segment is the jsonl medium's rebalance")(
          _.containsSlice(Seq(RUNNING, REBALANCING, RUNNING)))
      } finally q.stop()
    } finally bridge.detach()
  }

  test("restart with an unchanged assignment re-runs INITIALIZING -> RUNNING without REBALANCING") {
    val root = freshRoot()
    BrokerLog.createTopic(root, "re", 2)
    produceN(root, "re", 0, 2)
    val ckpt = tempDir("graft-substate-re")
    val bridge = SubscriptionStates.attach(spark, "re-q")
    try {
      val q1 = startQuery(root, "re", "re-q", ckpt)
      q1.processAllAvailable()
      q1.stop()
      awaitHistory(bridge, "first run must reach TERMINATED")(_.lastOption.contains(TERMINATED))
      // stop() without stopGracefully still passes through SHUTTING_DOWN
      assert(bridge.history == Seq(INITIALIZING, RUNNING, SHUTTING_DOWN, TERMINATED))
      produceN(root, "re", 1, 2)
      val q2 = startQuery(root, "re", "re-q", ckpt)
      q2.processAllAvailable()
      bridge.stopGracefully(q2)
      q2.awaitTermination()
      awaitHistory(bridge, "second run repeats the lifecycle")(
        _ == Seq(INITIALIZING, RUNNING, SHUTTING_DOWN, TERMINATED,
          INITIALIZING, RUNNING, SHUTTING_DOWN, TERMINATED))
      assert(!bridge.history.contains(REBALANCING),
        "unchanged assignment across a restart is not a rebalance")
    } finally bridge.detach()
  }

  test("fast restart: the old run's late terminal events cannot wedge the new run") {
    // stop() returns before the terminated EVENT drains from the async
    // listener bus, while the next start's event is delivered synchronously
    // — so run2's INITIALIZING can precede run1's SHUTTING_DOWN/TERMINATED.
    // A superseded run's terminal events must be dropped, or the bridge
    // reports a live query as TERMINATED for its whole run.
    val root = freshRoot()
    BrokerLog.createTopic(root, "fast", 1)
    produceN(root, "fast", 0, 2)
    val ckpt = tempDir("graft-substate-fast")
    val bridge = SubscriptionStates.attach(spark, "fast-q")
    try {
      val q1 = startQuery(root, "fast", "fast-q", ckpt)
      q1.processAllAvailable()
      q1.stop()
      // NO await here — restart immediately to race the old run's events
      val q2 = startQuery(root, "fast", "fast-q", ckpt)
      produceN(root, "fast", 0, 2)
      q2.processAllAvailable()
      awaitHistory(bridge, "the new run must reach RUNNING despite the old run's late events")(
        h => {
          val afterLastInit = h.lastIndexOf(INITIALIZING)
          afterLastInit >= 0 && h.drop(afterLastInit).contains(RUNNING)
        })
      assert(bridge.currentState.contains(RUNNING),
        s"bridge wedged by a superseded run: ${bridge.history}")
      bridge.stopGracefully(q2)
      q2.awaitTermination()
      awaitHistory(bridge, "the new run still terminates cleanly")(
        h => h.lastOption.contains(TERMINATED) && h.init.lastOption.contains(SHUTTING_DOWN))
    } finally bridge.detach()
  }

  test("a bridge attached mid-run adopts the query from its progress events") {
    val root = freshRoot()
    BrokerLog.createTopic(root, "adopt", 1)
    produceN(root, "adopt", 0, 2)
    val q = startQuery(root, "adopt", "adopt-q",
      tempDir("graft-substate-adopt"))
    try {
      q.processAllAvailable() // the query is already running; no bridge yet
      val bridge = SubscriptionStates.attach(spark, "adopt-q")
      try {
        produceN(root, "adopt", 0, 2)
        q.processAllAvailable()
        awaitHistory(bridge, "late attach must adopt the run (progress carries the name)")(
          _.contains(RUNNING))
        bridge.stopGracefully(q)
        q.awaitTermination()
        awaitHistory(bridge, "adopted run terminates through the normal path")(
          _.lastOption.contains(TERMINATED))
      } finally bridge.detach()
    } finally if (q.isActive) q.stop()
  }

  test("stopGracefully refuses a query the bridge does not watch") {
    val root = freshRoot()
    BrokerLog.createTopic(root, "mine", 1)
    produceN(root, "mine", 0, 1)
    val bridge = SubscriptionStates.attach(spark, "some-other-query")
    val q = startQuery(root, "mine", "mine-q",
      tempDir("graft-substate-wrongq"))
    try {
      q.processAllAvailable()
      val e = intercept[IllegalArgumentException] { bridge.stopGracefully(q) }
      assert(e.getMessage.contains("some-other-query"), e.getMessage)
      assert(q.isActive, "the unrelated query must not have been stopped")
      assert(!bridge.history.contains(SHUTTING_DOWN),
        "a refused stop must not publish SHUTTING_DOWN")
    } finally { if (q.isActive) q.stop(); bridge.detach() }
  }

  test("a superseded run's late progress cannot steal the bridge from the new run") {
    import org.apache.spark.sql.graftbridge.TestEvents
    // The exact interleaving Spark's listener bus can produce on a fast
    // restart of a query the bridge never saw start (monitoring reattach):
    // run2's start is delivered synchronously on the starting thread while
    // run1's queued progress + terminated drain LATER from the async bus.
    // Adoption must not fire once the bridge owns a run — an unconditional
    // adoption hands currentRun back to run1, whose terminated event then
    // wedges the bridge in TERMINATED for all of run2's life.
    val run1 = java.util.UUID.randomUUID()
    val run2 = java.util.UUID.randomUUID()
    val bridge = new graft.streaming.SubscriptionStateBridge(spark, "steal-q", Seq.empty)
    try {
      bridge.onQueryStarted(TestEvents.started(run2, "steal-q")) // new run owns the bridge
      bridge.onQueryProgress(TestEvents.progress(run1, "steal-q", """{"t":{"0":5}}""")) // late, superseded
      bridge.onQueryTerminated(TestEvents.terminated(run1)) // late terminal
      bridge.onQueryProgress(TestEvents.progress(run2, "steal-q", """{"t":{"0":9}}"""))
      assert(bridge.currentState.contains(RUNNING),
        s"run2 must still own the bridge, got ${bridge.currentState} (history ${bridge.history})")
      assert(!bridge.history.contains(TERMINATED),
        s"superseded run1's terminal events leaked through: ${bridge.history}")
      // and a mid-run attach (no owner yet) still adopts from progress
      val fresh = new graft.streaming.SubscriptionStateBridge(spark, "steal-q", Seq.empty)
      fresh.onQueryProgress(TestEvents.progress(run1, "steal-q", """{"t":{"0":5}}"""))
      assert(fresh.currentState.contains(RUNNING), "ownerless bridge must adopt from progress")
      fresh.onQueryTerminated(TestEvents.terminated(run1))
      assert(fresh.currentState.contains(TERMINATED), "adopted run's termination must publish")
    } finally bridge.detach()
  }

  test("assignment signatures are escape-aware: hostile topic names cannot mask a rebalance") {
    import org.apache.spark.sql.graftbridge.TestEvents
    def sig(json: String): Set[String] =
      SubscriptionStates.assignmentSignature(
        TestEvents.progress(java.util.UUID.randomUUID(), "sig-q", json).progress)
    // nested (kafka shape): topic he"llo escapes to he\"llo in the offset
    // JSON; a non-escape-aware match would tokenize the tail as topic `llo`
    // and collide with a REAL topic named llo, masking the assignment change
    val hostile = sig("""{"he\"llo":{"0":5}}""")
    val plain = sig("""{"llo":{"0":5}}""")
    assert(hostile == Set("0:he\"llo/0"), s"got $hostile")
    assert(plain == Set("0:llo/0"), s"got $plain")
    assert(hostile != plain, "escaped and plain topics must sign differently")
    // flat (jsonl shape): names unescape too
    val flat = sig("""{"a\"b.jsonl":123}""")
    assert(flat == Set("0:a\"b.jsonl"), s"got $flat")
    // backslash in a name round-trips
    val bs = sig("""{"back\\slash":{"2":7}}""")
    assert(bs == Set("0:back\\slash/2"), s"got $bs")
  }
}
