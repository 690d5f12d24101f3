package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.api._
import graft.config.{EngineProperties, FilePropertySupplier, PropertyDefinition}
import graft.core.{Task, TaskMetadata}

class TracingAndSchemaSpec extends SparkTestBase {

  test("tracing spans bracket each task with its terminal outcome, incl. errors") {
    import spark.implicits._
    TracingProvider.Recording.spans.clear()
    val tasks = Seq(
      Task(TaskMetadata(), "1".getBytes, "ok"),
      Task(TaskMetadata(), "2".getBytes, "retry"),
      Task(TaskMetadata(), "3".getBytes, "discard"),
      Task(TaskMetadata(), "4".getBytes, "boom")).toDS()
    val streams = new TaskPipeline(tasks).thenProcessTraced(
      new RecordProcessor[String, Int] {
        def process(t: Task[String]): ProcessResult[Int] = t.value match {
          case "ok"      => ProcessResult.Processed(1)
          case "retry"   => ProcessResult.Retry
          case "discard" => ProcessResult.Discard
          case _         => throw new RuntimeException("boom")
        }
      },
      new TracingProvider.Recording)
    // force the single pass
    assert(streams.processed.count() == 1)
    val spans = TracingProvider.Recording.spans.asScala
      .map(s => s._1 -> s._2).toMap
    assert(spans == Map("1" -> "processed", "2" -> "retry", "3" -> "discard", "4" -> "error"))
    assert(TracingProvider.Recording.spans.asScala.forall(_._3 >= 0L))
  }

  test("traceparent parse/render round-trips and rejects malformed/zero ids") {
    val ctx = TraceContext("a" * 32, "b" * 16, sampled = true)
    assert(TraceContext.parse(ctx.render).contains(ctx))
    assert(TraceContext.parse(TraceContext("c" * 32, "d" * 16, sampled = false).render)
      .exists(!_.sampled))
    assert(TraceContext.parse("junk").isEmpty)
    assert(TraceContext.parse("00-" + "0" * 32 + "-" + "b" * 16 + "-01").isEmpty)
    assert(TraceContext.parse("00-" + "a" * 32 + "-" + "0" * 16 + "-01").isEmpty)
    assert(TraceContext.parse("99-" + "a" * 32 + "-" + "b" * 16 + "-01").isEmpty)
  }

  test("propagating provider continues an upstream trace and chains across the retry hop") {
    import PropagatingTracingProvider.journal
    journal.clear()
    TracingProvider.Recording.spans.clear()
    val provider = new PropagatingTracingProvider(new TracingProvider.Recording)
    val task = Task(TaskMetadata(timestampMillis = 42L), "k1".getBytes, "payload")

    // hop 1: upstream context arrives in the traceparent header
    val upstream = TraceContext("a1" * 16, "b2" * 8, sampled = true)
    provider.traceStart(task, Map(TraceContext.HeaderKey ->
      upstream.render.getBytes("UTF-8"))).close("retry")
    val (t1, parent1, span1, outcome1) = journal.asScala.last
    assert(t1 == upstream.traceId, "child span must keep the upstream trace id")
    assert(parent1 == upstream.spanId, "upstream span must be the parent")
    assert(span1 != upstream.spanId && outcome1 == "retry")
    // the inner provider saw the same span lifecycle (SPI composition)
    assert(TracingProvider.Recording.spans.asScala.map(s => s._1 -> s._2).toList ==
      List("k1" -> "retry"))

    // hop 2: inject the closed span's context into the retry record's
    // headers — the downstream consumer must continue the SAME trace with
    // hop 1's span as parent (the reference injects into the retry produce
    // exactly like this)
    val (hk, hv) = provider.inject(PropagatingTracingProvider.lastSpan.get())
    provider.traceStart(task, Map(hk -> hv)).close("processed")
    val (t2, parent2, span2, _) = journal.asScala.last
    assert(t2 == upstream.traceId, "retry hop must stay in the original trace")
    assert(parent2 == span1, "retry hop's parent must be hop 1's span")
    assert(span2 != span1)

    // no context → new root, and distinct tasks get distinct traces
    provider.traceStart(task, Map.empty).close("processed")
    val (rootTrace, rootParent, _, _) = journal.asScala.last
    assert(rootParent == "" && rootTrace != upstream.traceId)
    provider.traceStart(
      Task(TaskMetadata(timestampMillis = 43L), "k2".getBytes, "x"), Map.empty)
      .close("processed")
    assert(journal.asScala.last._1 != rootTrace)
  }

  test("published schema JSON covers the engine properties; file values validate against it") {
    val schemaPath = tempFile("graft-schema", ".json")
    val defs: Seq[PropertyDefinition[_]] = Seq(
      EngineProperties.IgnoreKeys, EngineProperties.PartitionConcurrency,
      EngineProperties.MaxPendingRecords, EngineProperties.ProcessingRate,
      EngineProperties.CommitIntervalMs, EngineProperties.RetryBackoffMs,
      EngineProperties.LegacyParseFallbackEnabled)
    FilePropertySupplier.publishSchema(defs, schemaPath)
    val json = Files.readString(schemaPath)
    defs.foreach(d => assert(json.contains(d.name), s"schema must list ${d.name}"))
    assert(json.contains("\"type\": \"integer\"") && json.contains("\"type\": \"boolean\""))

    val cfg = tempFile("graft-conf", ".properties")
    Files.writeString(cfg,
      """decaton.processing.rate.per.partition=2000000
        |decaton.partition.concurrency=4
        |decaton.typo.key=1
        |""".stripMargin)
    val supplier = new FilePropertySupplier(cfg, pollMillis = 60000L)
    try {
      val problems = supplier.validateAll(defs)
      // rate over MaxRatePerPartition violates the validator; typo'd key is
      // reported as unknown; concurrency=4 is clean
      assert(problems.size == 2, s"expected 2 problems, got: $problems")
      assert(problems.exists(_.contains("decaton.processing.rate.per.partition")))
      assert(problems.exists(_.contains("decaton.typo.key")))
    } finally supplier.close()
  }
}
