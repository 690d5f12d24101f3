package graft

import org.apache.spark.sql.functions._

import graft.core.{ConsumedRecord, Task, TaskExtractor, TaskMetadata}

/** Executes the USAGE.md quickstart snippets (at sf0.001) so the quickstart
  * cannot drift from the real API: every call here mirrors a numbered
  * USAGE.md section — if a signature changes, this suite breaks before a
  * user's copy-paste does. Assertions are smoke-level on purpose (the
  * operators' semantics are pinned by their own suites and oracles).
  */
class UsageExamplesSpec extends SparkTestBase {
  import spark.implicits._

  private val tiny = "/root/testdata/sf0.001"
  private lazy val docs = Tables.documents(spark, tiny)
  private lazy val emb = Tables.embeddings(spark, tiny)

  test("USAGE 1: exact dedup") {
    val out = graft.dedup.Dedup.exactByContent(docs, col("doc_id"), col("text"))
    assert(out.columns.toSeq == Seq("content_hash", "keep_id", "n_copies") && out.count() > 0)
  }

  test("USAGE 2: minhash -> bands -> candidate pairs") {
    import graft.dedup.Dedup
    val sigs = Dedup.minHashSignaturesWide(docs, col("doc_id"), col("text"),
      k = 16, shingleSize = 5)
    val bands = Dedup.lshBandSignaturesWide(sigs, k = 16, bands = 4)
    val pairs = Dedup.lshCandidatePairs(bands)
    assert(pairs.columns.toSeq == Seq("id_a", "id_b"))
    assert(pairs.filter(col("id_a") >= col("id_b")).isEmpty)
    // the streaming sub-snippet: self-indexing flagger with the rent-or-buy
    // fold scheduler (semantics pinned by SelfIndexingFlaggerSpec; this
    // exercises the documented signature end to end)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val tmp = tempDir("usage-selfidx")
    val n = new java.util.concurrent.atomic.AtomicLong()
    val q = graft.streaming.StreamOps.selfIndexingLshFlagger(
      in.toDF().toDF("doc_id", "text"), col("doc_id"), col("text"),
      s"$tmp/idx", k = 16, bands = 4, shingleSize = 5,
      checkpoint = s"$tmp/ckpt",
      compaction = Some(new graft.streaming.SelfIndexCompaction(
        perSegmentProbeSec = 1000.0, foldSecPerMb = 1.0, minSegments = 3))) {
      flags => n.addAndGet(flags.count()); ()
    }
    val docs3 = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].take(90)
    try {
      docs3.grouped(30).foreach { c => in.addData(c); q.processAllAvailable() }
    } finally q.stop()
    assert(n.get() >= 0) // smoke: signature + lifecycle; semantics pinned elsewhere
  }

  test("USAGE 3: curateTrainingMix") {
    val out = graft.pipeline.Curation.curateTrainingMix(
      docs, col("doc_id"), col("text"), col("source"), col("lang"),
      keepFrac = 0.7, cap = 50, alpha = "prop", budget = 100L)
    assert(out.count() > 0 && out.count() <= 110) // budget + per-stratum rounding
  }

  test("USAGE 3b: crawl front — canonicalize, crawlToCorpus, rule bundles, politeness") {
    import graft.functions.UrlFunctions._
    val crawl = docs.withColumn("url",
      concat(lit("https://WWW.Site"), col("doc_id") % 7,
        lit(".example.com/p/"), col("doc_id"), lit("?utm_source=x")))
    val keyed = crawl.select(url_canonicalize(col("url")).as("cu"),
      url_domain(col("url")).as("dom"))
    assert(keyed.filter(col("cu").contains("utm_") || col("cu").contains("WWW"))
      .isEmpty)
    val blocked = Seq("blocked.example").toDF("domain")
    val corpus = graft.pipeline.WebCuration.crawlToCorpus(
      crawl, col("doc_id"), col("url"), col("text"), blocked, cap = 1000,
      c4 = graft.quality.C4Rules.Params(minLines = 1),
      gopher = graft.quality.GopherRules.Params(minWords = 5L, minStopWords = 0L))
    assert(corpus.columns.toSeq ==
      Seq("doc_id", "domain", "rank", "score", "n_total", "canon_url", "clean_hash"))
    val corpusPsl = graft.pipeline.WebCuration.crawlToCorpus(
      crawl, col("doc_id"), col("url"), col("text"), blocked, cap = 1000,
      c4 = graft.quality.C4Rules.Params(minLines = 1),
      gopher = graft.quality.GopherRules.Params(minWords = 5L, minStopWords = 0L),
      psl = Some(graft.pipeline.Psl.sample))
    assert(corpusPsl.columns.sameElements(corpus.columns))
    assert(graft.quality.GopherRules.withMetricsAndFlags(docs, col("text"))
      .select(col("m.n_words"), col("f.gopher_keep")).count() > 0)
    assert(graft.quality.C4Rules.c4Filter(docs, "text",
      graft.quality.C4Rules.Params(minLines = 0)).columns.sameElements(docs.columns))
    assert(docs.withColumn("text", graft.functions.fix_mojibake(col("text")))
      .count() === docs.count())
    val batch = crawl.withColumn("ts", timestamp_micros(col("doc_id") * 1000L))
    val (polite, diverted) = graft.pipeline.WebCuration.politenessRoute(
      batch, col("url"), col("ts"), "1 minute", maxPerWindow = 10)
    assert(polite.count() + diverted.count() == batch.count())
    val robots = Seq(("www.site0.example.com", "User-agent: *\nDisallow: /p/"))
      .toDF("host", "robots_txt")
    val (fetchable, excluded) = graft.pipeline.WebCuration.robotsGate(
      crawl, col("url"), robots, agent = "graftbot")
    assert(fetchable.count() + excluded.count() == crawl.count() &&
      excluded.count() > 0)
  }

  test("USAGE 4: IVF ANN over embeddings") {
    val queries = emb.limit(4)
    val out = graft.similarity.Knn.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 5, nlist = 8, nprobe = 3)
    assert(out.columns.toSeq == Seq("query_id", "rank", "nbr_id", "cos_r"))
    assert(out.groupBy(col("query_id")).count().filter(col("count") > 5).isEmpty)
  }

  test("USAGE 5: BM25 retrieval") {
    val out = graft.retrieval.Bm25.bm25TopK(docs, col("doc_id"), col("text"),
      queries = Seq(1L -> Seq("model", "training"), 2L -> Seq("quality")), k = 10)
    assert(out.columns.contains("score_fp") && out.filter(col("rank") > 10).isEmpty)
  }

  test("USAGE 6: windowed distinct sketch (batch form)") {
    val events = Tables.events(spark, tiny)
    val out = graft.streaming.StreamOps.windowedDistinctSketch(
      events, col("event_type"), col("user_id").cast("string"), col("ts"),
      windowDur = "1 hour", watermarkDelay = "10 minutes", m = 256, k = 64)
    assert(out.columns.contains("hll_est") && out.columns.contains("kmv_kth"))
    assert(out.count() > 0)
  }

  test("USAGE 6b: live calibrated quality gate (batch form)") {
    val scored = docs.select(col("source"),
      graft.functions.TextFunctions.quality_score(col("text")).as("score"),
      timestamp_micros(col("doc_id") * 1000000L).as("ts"))
    val out = graft.streaming.StreamOps.windowedCalibratedThreshold(
      scored, col("source"), col("score"), col("ts"),
      "1 hour", "10 minutes", keepFrac = 0.7)
    assert(out.columns.toSeq ==
      Seq("win_start", "group", "total", "cutoff_cell", "n_admitted"))
    assert(out.filter(col("n_admitted") > col("total")).isEmpty && out.count() > 0)
  }

  test("USAGE 7: drift alarm (static reference form)") {
    import graft.streaming.StreamOps
    val ref = StreamOps.termBucketHist(docs, col("text"), nBuckets = 512)
    val d = docs.withColumn("__ts", timestamp_micros(col("doc_id") * 1000000L))
    val out = StreamOps.termDriftAlarm(
      d, col("text"), "__ts", "10 minutes", "100 seconds", ref, nBuckets = 512)
    assert(out.columns.toSeq.contains("kl_fp") && out.count() > 0)
  }

  test("USAGE 8: async per-key map") {
    val ds = spark.range(0, 64).map(i => (i % 8, i)).toDF("k", "v")
      .as[(Long, Long)]
    val out = graft.streaming.AsyncProcessing.mapAsyncKeyed(ds, maxInFlight = 16)(
      _._1, t => t._1 -> (t._2 * 2))
    assert(out.count() == 64)
  }

  test("USAGE 9: task pipeline consuming -> blockKeys -> orderedPerKey -> thenProcess") {
    val records = spark.createDataset(Seq.tabulate(32) { i =>
      ConsumedRecord("tasks", i % 4, i.toLong, 1000L + i,
        s"k${i % 8}".getBytes("UTF-8"), s"payload-$i".getBytes("UTF-8"))
    })
    val extractor = new TaskExtractor[String] {
      def extract(r: ConsumedRecord): Task[String] =
        Task(TaskMetadata(timestampMillis = r.timestampMillis), r.key,
          new String(r.value, "UTF-8"))
    }
    val streams = graft.api.TaskPipeline
      .consuming(records, extractor)
      .blockKeys(Seq("k0".getBytes("UTF-8")))
      .orderedPerKey(4)
      .thenProcess(new graft.api.RecordProcessor[String, Int] {
        def process(t: Task[String]): graft.api.ProcessResult[Int] =
          graft.api.ProcessResult.Processed(t.value.length)
      })
    val counts = streams.counts
    assert(streams.processed.count() == 28 && counts("processed") == 28L)
  }

  test("USAGE 9b: z-order layout write") {
    import graft.operators.ZOrder
    val orders = Tables.orders(spark, tiny)
    val z = ZOrder.zValue(Seq(
      (col("o_orderkey"), 1L, 6000000L),
      (col("o_custkey"), 1L, 150000L)), bits = 16)
    val h = ZOrder.hilbertValue(Seq(
      (col("o_orderkey"), 1L, 6000000L),
      (col("o_custkey"), 1L, 150000L)), bits = 16)
    val dir = tempDir("usage_zorder")
    try {
      ZOrder.writeZOrdered(orders, z, s"$dir/z", numFiles = 4)
      ZOrder.writeHilbertOrdered(orders, h, s"$dir/h", numFiles = 4)
      assert(spark.read.parquet(s"$dir/z").count() == orders.count())
      assert(spark.read.parquet(s"$dir/h").count() == orders.count())
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
