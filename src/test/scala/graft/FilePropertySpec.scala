package graft

import java.nio.file.Files

import graft.config._

class FilePropertySpec extends SparkTestBase {

  test("file supplier provides typed values and hot-reloads bound properties (P3)") {
    val f = tempFile("graft-props", ".conf")
    Files.writeString(f, "decaton.processing.rate.per.partition=100\n# comment\ndecaton.ignore.keys=a,b\n")
    val supplier = new FilePropertySupplier(f, pollMillis = 50L)
    try {
      val props = new Properties(Seq(supplier))
      assert(props.resolve(EngineProperties.ProcessingRate) == 100L)
      assert(props.resolve(EngineProperties.IgnoreKeys) == Seq("a", "b"))
      assert(props.resolve(EngineProperties.CommitIntervalMs) == 1000L) // default

      // hot reload drives a bound dynamic property
      val dyn = props.dynamic(EngineProperties.ProcessingRate)
      @volatile var observed = List.empty[(Long, Long)]
      dyn.onChange((o, n) => observed ::= (o, n))
      supplier.bind(dyn)
      assert(dyn.value == 100L)

      Files.writeString(f, "decaton.processing.rate.per.partition=0\n")
      val deadline = System.currentTimeMillis() + 5000
      while (dyn.value != 0L && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(dyn.value == 0L, "file change did not propagate")
      assert(observed.contains((100L, 0L)))
    } finally supplier.close()
  }

  test("remote supplier re-drives bound properties only on version change") {
    @volatile var content = "decaton.processing.rate.per.partition=500\n"
    @volatile var version = "v1"
    @volatile var fetches = 0
    val supplier = new RemotePropertySupplier(() => {
      fetches += 1
      Some((content, version))
    }, pollMillis = 30L)
    try {
      val props = new Properties(Seq(supplier))
      assert(props.resolve(EngineProperties.ProcessingRate) == 500L)

      val dyn = props.dynamic(EngineProperties.ProcessingRate)
      @volatile var changes = 0
      dyn.onChange((_, _) => changes += 1)
      supplier.bind(dyn)
      assert(dyn.value == 500L)

      // content changes but version does not ⇒ no re-drive (conditional-
      // request semantics: the poller trusts the version token)
      content = "decaton.processing.rate.per.partition=900\n"
      Thread.sleep(150)
      assert(dyn.value == 500L, "version-stable poll must not re-drive")

      // version bump ⇒ re-drive
      version = "v2"
      val deadline = System.currentTimeMillis() + 5000
      while (dyn.value != 900L && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(dyn.value == 900L, "remote change did not propagate")
      assert(changes >= 1 && fetches >= 2)
    } finally supplier.close()
  }

  test("remote supplier keeps last-good config across fetch failures") {
    @volatile var fail = false
    val supplier = new RemotePropertySupplier(() => {
      if (fail) throw new java.io.IOException("remote down")
      Some(("decaton.partition.concurrency=7\n", "v1"))
    }, pollMillis = 30L)
    try {
      assert(supplier.get(EngineProperties.PartitionConcurrency).contains(7))
      fail = true
      Thread.sleep(120)
      assert(supplier.get(EngineProperties.PartitionConcurrency).contains(7),
        "fetch failure must keep last-good values")
    } finally supplier.close()
  }

  test("deferred-complete timeout property drives CompletionPolicy hot-reload (T4 binding)") {
    import scala.concurrent.duration._
    import graft.streaming.{CompletionPolicy, TimeoutDecision}
    val f = tempFile("graft-props", ".conf")
    // reference default -1 = reaper disabled → unbounded await
    val supplier = new FilePropertySupplier(f, pollMillis = 30L)
    try {
      val props = new Properties(Seq(supplier))
      assert(props.resolve(EngineProperties.DeferredCompleteTimeoutMs) == -1L)
      val dyn = props.dynamic(EngineProperties.DeferredCompleteTimeoutMs)
      supplier.bind(dyn)
      val policy = CompletionPolicy.fromProperty[String, String](
        dyn, (_, _) => TimeoutDecision.GiveUp, t => s"gave-up:$t")
      assert(!policy.nextTimeout.isFinite,
        "-1 must disable the timeout (unbounded await), like the disabled reaper")

      // hot reload: a file edit re-times the NEXT await round, no restart
      Files.writeString(f, "decaton.deferred.complete.timeout.ms=250\n")
      val deadline = System.currentTimeMillis() + 5000
      while (dyn.value != 250L && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(policy.nextTimeout == 250.millis,
        s"reloaded timeout must bind the policy, got ${policy.nextTimeout}")
      // validator: below -1 is rejected, last-good value retained
      intercept[IllegalArgumentException](dyn.set(-2L))
      assert(dyn.value == 250L)
    } finally supplier.close()
  }

  test("max.poll.records property is the default admission cap; explicit cap wins") {
    val props = new Properties(Seq(new MapPropertySupplier(Map.empty)))
    // the reference forces 100 onto every consumer it builds
    assert(graft.sources.TaskSource.admissionCap(None, Some(props)).contains(100L))
    val tuned = new Properties(Seq(
      new MapPropertySupplier(Map("decaton.max.poll.records" -> 500))))
    assert(graft.sources.TaskSource.admissionCap(None, Some(tuned)).contains(500L))
    assert(graft.sources.TaskSource.admissionCap(Some(9L), Some(tuned)).contains(9L),
      "an explicit maxOffsetsPerTrigger must beat the property")
    assert(graft.sources.TaskSource.admissionCap(None, None).isEmpty,
      "no registry, no explicit cap: unbounded")
  }

  test("per-key quota rate property resolves to the routing decision (A4 binding)") {
    val unlimited = new Properties(Seq(new MapPropertySupplier(Map.empty)))
    assert(graft.operators.PerKeyQuota.quotaFromProperties(unlimited).isEmpty,
      "-1 default = unlimited = quota routing disabled")
    val quota = new Properties(Seq(
      new MapPropertySupplier(Map("decaton.per.key.quota.processing.rate" -> 40L))))
    assert(graft.operators.PerKeyQuota.quotaFromProperties(quota).contains(40L))
    // validator mirrors the reference's [-1, MAX_RATE] bound
    val bad = new Properties(Seq(
      new MapPropertySupplier(Map("decaton.per.key.quota.processing.rate" -> -5L))))
    intercept[IllegalArgumentException](
      bad.resolve(EngineProperties.PerKeyQuotaProcessingRate))
  }

  test("uri fetcher serves a file: source through the URL path (offline http(s) analog)") {
    val f = tempFile("graft-remote", ".conf")
    Files.writeString(f, "decaton.max.pending.records=1234\n")
    val supplier = RemotePropertySupplier.uri(f.toUri, pollMillis = 30L)
    try {
      assert(supplier.get(EngineProperties.MaxPendingRecords).contains(1234))
      // content-hash versioning: an edit with a new hash re-drives
      Files.writeString(f, "decaton.max.pending.records=4321\n")
      val deadline = System.currentTimeMillis() + 5000
      while (!supplier.get(EngineProperties.MaxPendingRecords).contains(4321) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(supplier.get(EngineProperties.MaxPendingRecords).contains(4321))
    } finally supplier.close()
  }

  test("a malformed raw value behaves as unset (default), never crashes resolve") {
    val f = tempFile("graft-props", ".conf")
    Files.writeString(f,
      "decaton.processing.rate.per.partition=1oo\ndecaton.partition.concurrency 4\n")
    val supplier = new FilePropertySupplier(f, pollMillis = 50L)
    try {
      val props = new Properties(Seq(supplier))
      // "1oo" does not parse as Long -> unset -> definition default
      assert(props.resolve(EngineProperties.ProcessingRate) ==
        EngineProperties.ProcessingRate.default)
      // but validateAll SEES both the bad value and the '='-less line
      val msgs = supplier.validateAll(Seq(
        EngineProperties.ProcessingRate, EngineProperties.PartitionConcurrency))
      assert(msgs.exists(_.contains("1oo")), s"bad value unreported: $msgs")
      assert(msgs.exists(_.contains("no '='")), s"malformed line unreported: $msgs")
    } finally supplier.close()
  }

  test("removing a supplied key reverts the bound property to its default; unbind stops re-driving") {
    val f = tempFile("graft-props", ".conf")
    Files.writeString(f, "decaton.processing.rate.per.partition=0\n")
    val supplier = new FilePropertySupplier(f, pollMillis = 30L)
    try {
      val dyn = new DynamicProperty(EngineProperties.ProcessingRate,
        EngineProperties.ProcessingRate.default)
      val unbind = supplier.bind(dyn)
      assert(dyn.value == 0L, "pause line must apply on bind")
      // operator deletes the pause line expecting the default to resume
      Files.writeString(f, "# rate line removed\n")
      val deadline = System.currentTimeMillis() + 5000
      while (dyn.value == 0L && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(dyn.value == EngineProperties.ProcessingRate.default,
        "removed key must revert to the definition default, not freeze at 0")
      // after unbind, further file changes stop driving the property
      unbind()
      Files.writeString(f, "decaton.processing.rate.per.partition=7\n")
      Thread.sleep(200)
      assert(dyn.value == EngineProperties.ProcessingRate.default,
        "unbound property must not be re-driven")
    } finally supplier.close()
  }

  test("same-millisecond rewrites are detected (content-hash version, not mtime)") {
    val f = tempFile("graft-props", ".conf")
    Files.writeString(f, "decaton.processing.rate.per.partition=1\n")
    val supplier = new FilePropertySupplier(f, pollMillis = 25L)
    try {
      // rewrite and FORCE the old mtime — only a content-derived version
      // token can see this edit
      val oldTime = Files.getLastModifiedTime(f)
      Files.writeString(f, "decaton.processing.rate.per.partition=2\n")
      Files.setLastModifiedTime(f, oldTime)
      val deadline = System.currentTimeMillis() + 5000
      while (!supplier.get(EngineProperties.ProcessingRate).contains(2L) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(supplier.get(EngineProperties.ProcessingRate).contains(2L),
        "an edit preserving mtime must still be observed")
    } finally supplier.close()
  }

  test("a key present but UNPARSEABLE keeps the bound property at last-good (reference checkingSet)") {
    val f = tempFile("graft-props", ".conf")
    Files.writeString(f, "decaton.processing.rate.per.partition=100\n")
    val supplier = new FilePropertySupplier(f, pollMillis = 25L)
    try {
      val dyn = new DynamicProperty(EngineProperties.ProcessingRate,
        EngineProperties.ProcessingRate.default)
      supplier.bind(dyn)
      assert(dyn.value == 100L)
      // a typo'd edit to a live file must NOT flip the running pipeline to
      // the default (here: -1 = unlimited — the worst possible un-pause)
      Files.writeString(f, "decaton.processing.rate.per.partition=1oo\n")
      val d1 = System.currentTimeMillis() + 5000
      while (supplier.get(EngineProperties.ProcessingRate).nonEmpty &&
        System.currentTimeMillis() < d1) Thread.sleep(20)
      assert(supplier.get(EngineProperties.ProcessingRate).isEmpty,
        "malformed raw must read as unset through get()")
      assert(dyn.value == 100L,
        "unparseable update must keep last-good, not revert to the default")
      assert(supplier.validateAll(Seq(EngineProperties.ProcessingRate))
        .exists(_.contains("1oo")), "bad raw must be reported")
      // a LATER removal of the (previously supplied) key still reverts
      Files.writeString(f, "# removed\n")
      val d2 = System.currentTimeMillis() + 5000
      while (dyn.value == 100L && System.currentTimeMillis() < d2) Thread.sleep(20)
      assert(dyn.value == EngineProperties.ProcessingRate.default,
        "removal after a malformed interlude must still revert to default")
    } finally supplier.close()
  }

  test("map supplier coerces numerics; un-coercible values are unset and reported") {
    val s = new MapPropertySupplier(Map(
      "decaton.commit.interval.ms" -> 2000, // Int for a Long property
      "decaton.max.pending.records" -> 500L, // in-range Long for an Int property
      "decaton.retry.backoff.ms" -> "250", // numeric string for a Long
      "decaton.partition.concurrency" -> "four", // un-parseable
      "decaton.unknown.knob" -> 1))
    assert(s.get(EngineProperties.CommitIntervalMs).contains(2000L),
      "Int must widen to Long instead of CCE-ing at validate")
    assert(s.get(EngineProperties.MaxPendingRecords).contains(500))
    assert(s.get(EngineProperties.RetryBackoffMs).contains(250L))
    assert(s.get(EngineProperties.PartitionConcurrency).isEmpty,
      "un-coercible value must behave as unset")
    val props = new Properties(Seq(s))
    assert(props.resolve(EngineProperties.PartitionConcurrency) ==
      EngineProperties.PartitionConcurrency.default,
      "resolve must fall back to the default, never throw ClassCastException")
    val msgs = s.validateAll(Seq(EngineProperties.CommitIntervalMs,
      EngineProperties.MaxPendingRecords, EngineProperties.RetryBackoffMs,
      EngineProperties.PartitionConcurrency))
    assert(msgs.exists(_.contains("four")), s"un-coercible unreported: $msgs")
    assert(msgs.exists(_.contains("decaton.unknown.knob")), s"unknown key unreported: $msgs")
    // out-of-Int-range Long: unset, reported — never a silent wrap
    val big = new MapPropertySupplier(
      Map("decaton.max.pending.records" -> (Int.MaxValue.toLong + 1L)))
    assert(big.get(EngineProperties.MaxPendingRecords).isEmpty)
    assert(big.validateAll(Seq(EngineProperties.MaxPendingRecords)).nonEmpty)
  }

  test("a throwing listener is logged to stderr, not silently discarded") {
    val dyn = new DynamicProperty(EngineProperties.ProcessingRate, 1L)
    dyn.onChange((_, _) => throw new RuntimeException("boom-listener"))
    val buf = new java.io.ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    try dyn.set(2L)
    finally System.setErr(old)
    assert(dyn.value == 2L)
    assert(buf.toString.contains("boom-listener"),
      "the only diagnostic a buggy listener emits must reach the log")
  }

  test("a throwing listener does not skip later-registered listeners") {
    val dyn = new DynamicProperty(EngineProperties.ProcessingRate, 1L)
    @volatile var secondFired = false
    dyn.onChange((_, _) => throw new RuntimeException("boom"))
    dyn.onChange((_, _) => secondFired = true)
    dyn.set(2L) // must not throw
    // listeners run newest-first; also verify the throwing one (registered
    // FIRST, so it runs LAST) cannot have suppressed the notification
    assert(secondFired && dyn.value == 2L)
  }
}
