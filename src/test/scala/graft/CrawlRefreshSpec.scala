package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** Slow-cadence broadcast refresh for the crawl front's rule tables
  * ([[graft.streaming.RefreshedRef]] wired into
  * [[graft.pipeline.WebCuration.crawlGateStreamRefreshed]] /
  * [[graft.pipeline.WebCuration.politenessRoutePsl]]): a mid-stream PSL
  * growth, robots re-fetch, or blocklist edit takes effect at the NEXT
  * trigger without a query restart, while the stateful URL-dedup upstream
  * keeps its checkpoint across every refresh.
  */
class CrawlRefreshSpec extends SparkTestBase {
  import spark.implicits._

  private def body(i: Int): String = (1 to 8).map { j =>
    val jw = ('a' + (j % 26)).toChar.toString * 3
    val iw = ('a' + (i % 26)).toChar.toString * 4
    s"Sentence $jw of the document $iw reads quite fine today."
  }.mkString("\n")

  test("PSL, robots and blocklist updates all land at the next trigger; dedup state survives them") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext

    // live tables, edited mid-stream (providers re-resolve every batch)
    @volatile var pslLines = Seq("jp", "com", "biz")
    @volatile var blockedDomains = Seq("tracker.biz")
    @volatile var robotsTable = Seq(
      "crawl.example.com" -> "User-agent: *\nAllow: /")

    val in = MemoryStream[(Long, String, String, Long)]
    val got = new ConcurrentLinkedQueue[(Long, Long, String)]() // (batchId, doc_id, domain)
    val q = graft.pipeline.WebCuration.crawlGateStreamRefreshed(
      in.toDF().toDF("doc_id", "url", "text", "ts_sec")
        .withColumn("ts", timestamp_seconds(col("ts_sec"))),
      col("doc_id"), col("url"), col("text"),
      tsCol = "ts", watermarkDelay = "10 minutes",
      blockedProvider = () => blockedDomains,
      refreshEveryBatches = 1,
      checkpointDir = tempDir("crawl-refresh-ckpt"),
      queryName = "crawl_refresh",
      pslProvider = Some(() => graft.pipeline.Psl.parse(pslLines)),
      robotsProvider = Some(("graftbot", () => robotsTable))) { out =>
      val bid = got.asScala.map(_._1).maxOption.getOrElse(-1L) + 1
      out.select(col("doc_id"), col("domain")).collect()
        .foreach(r => got.add((bid, r.getAs[Long]("doc_id"), r.getAs[String]("domain"))))
      ()
    }
    def domainsOf(batch: Long): Map[Long, String] =
      got.asScala.filter(_._1 == batch).map(t => t._2 -> t._3).toMap

    try {
      // ---- epoch 0: baseline — everything admitted under the initial tables
      in.addData(
        (1L, "https://a.kawasaki.jp/p/1", body(1), 1000L),
        (2L, "https://crawl.example.com/x/2", body(2), 1001L),
        (3L, "https://news.site.com/a/3", body(3), 1002L))
      q.processAllAvailable()
      val e0 = domainsOf(0)
      assert(e0.keySet == Set(1L, 2L, 3L), s"epoch 0 admitted $e0")
      // initial PSL has only "jp": a.kawasaki.jp's registrable domain pools
      assert(e0(1L) == "kawasaki.jp", s"initial PSL must pool: $e0")

      // ---- epoch 1: GROW the PSL (wildcard registry) + block a domain +
      // flip the robots file — all three must apply at this next trigger
      pslLines = Seq("jp", "com", "biz", "*.kawasaki.jp")
      blockedDomains = Seq("tracker.biz", "site.com")
      robotsTable = Seq("crawl.example.com" -> "User-agent: graftbot\nDisallow: /")
      in.addData(
        (11L, "https://a.kawasaki.jp/p/11", body(11), 2000L), // same host, NEW url
        (12L, "https://crawl.example.com/x/12", body(12), 2001L), // robots now denies
        (13L, "https://news.site.com/a/13", body(13), 2002L))     // now blocklisted
      q.processAllAvailable()
      val e1 = domainsOf(1)
      assert(e1.keySet == Set(11L), s"robots+blocklist updates must drop 12/13: $e1")
      assert(e1(11L) == "a.kawasaki.jp",
        s"the grown PSL must split the wildcard registry at the next trigger: $e1")

      // ---- epoch 2: the stateful dedup KEPT its checkpoint across both
      // refreshes — a re-crawl of epoch-0 canonical URLs drops, fresh ones pass
      in.addData(
        (21L, "https://a.kawasaki.jp/p/1", body(1), 3000L),  // dup of doc 1
        (22L, "https://a.kawasaki.jp/p/22", body(22), 3001L))
      q.processAllAvailable()
      val e2 = domainsOf(2)
      assert(e2.keySet == Set(22L),
        s"URL-dedup state must survive table refreshes (dup of epoch-0 url re-admitted?): $e2")
    } finally q.stop()
  }

  test("live WARC ingest composes with the refreshed gate: tail gz segments -> gated corpus") {
    // the full live crawl front on the container real crawls ship: a
    // graft-warc STREAM (atomically-landed gz segments discovered whole)
    // parses records, derives a stable integral doc id from (file, pos,
    // sub), and feeds crawlGateStreamRefreshed — a blocklist edit between
    // segments takes effect at the next trigger, and the URL-dedup state
    // spans segments (a re-crawled URL in a later segment drops)
    import graft.sources.warc.GraftWarc
    val warcDir = tempDir("warc-live")
    def rec(uri: String, i: Int) = (Seq(
      "WARC-Type" -> "response", "WARC-Target-URI" -> uri,
      "WARC-Date" -> f"2026-01-02T03:04:${i % 60}%02dZ"), body(i).getBytes("UTF-8"))
    @volatile var blockedDomains = Seq.empty[String]
    val got = new ConcurrentLinkedQueue[String]() // canon_url
    val parsed = spark.readStream.format("graft-warc").option("path", warcDir).load()
      .select(
        (hash(col("file"), col("pos"), col("sub")).cast("long") + (1L << 32)).as("doc_id"),
        col("target_uri").as("url"),
        col("content").cast("string").as("text"),
        to_timestamp(col("warc_date")).as("ts"))
    val q = graft.pipeline.WebCuration.crawlGateStreamRefreshed(
      parsed, col("doc_id"), col("url"), col("text"),
      tsCol = "ts", watermarkDelay = "10 minutes",
      blockedProvider = () => blockedDomains,
      refreshEveryBatches = 1,
      checkpointDir = tempDir("warc-live-ckpt"),
      queryName = "warc_live_gate") { out =>
      out.select(col("canon_url")).collect()
        .foreach(r => got.add(r.getAs[String]("canon_url")))
      ()
    }
    try {
      GraftWarc.writeGz(warcDir, "seg-00.warc.gz", Seq(
        rec("https://a.example.com/page/1?utm_source=x", 1),
        rec("https://news.site.org/story/2", 2)))
      q.processAllAvailable()
      val phase1 = got.asScala.toSet
      assert(phase1 == Set("https://a.example.com/page/1", "https://news.site.org/story/2"))
      // blocklist edit lands at the next trigger; the dedup state carries
      // across segments (page/1 re-crawled under a tracking variant drops)
      blockedDomains = Seq("site.org")
      GraftWarc.writeGz(warcDir, "seg-01.warc.gz", Seq(
        rec("https://a.example.com/page/1?utm_medium=y", 11), // dup of seg-00
        rec("https://news.site.org/story/3", 12),             // now blocked
        rec("https://a.example.com/page/4", 13)))
      q.processAllAvailable()
      val phase2 = got.asScala.toSet -- phase1
      assert(phase2 == Set("https://a.example.com/page/4"),
        s"expected only the fresh unblocked page, got $phase2")
    } finally q.stop()
  }

  test("politenessRoutePsl under a RefreshedRef: a PSL growth re-keys routing at the next batch") {
    // the caller-side loop (the ShapingLoopSpec posture): each micro-batch
    // calls politenessRoutePsl with ref.at(batchId) — batch 0 routes under
    // the pooled key, batch 1 under the split registry, no restart
    @volatile var pslLines = Seq("jp")
    val ref = new graft.streaming.RefreshedRef(
      () => graft.pipeline.Psl.parse(pslLines), everyBatches = 1)
    def batchOf(ids: Range) = ids.map { i =>
      (i.toLong, s"https://site${i % 40}.kawasaki.jp/p/$i", 1000L + i)
    }.toDF("id", "url", "ts_sec").withColumn("ts", timestamp_seconds(col("ts_sec")))

    // 120 urls over 40 hosts of *.kawasaki.jp, quota 50/window
    val (ok0, shaped0) = graft.pipeline.WebCuration.politenessRoutePsl(
      batchOf(0 until 120), col("url"), col("ts"), "1 day", 50L, ref.at(0))
    // pooled under one key "kawasaki.jp": 120 >= 50 -> ALL diverted
    assert(ok0.count() == 0 && shaped0.count() == 120,
      "under the pooled PSL the whole registry diverts")

    pslLines = Seq("jp", "*.kawasaki.jp")
    val (ok1, shaped1) = graft.pipeline.WebCuration.politenessRoutePsl(
      batchOf(0 until 120), col("url"), col("ts"), "1 day", 50L, ref.at(1))
    // split into 40 registrable domains of 3 urls each: all under quota
    assert(ok1.count() == 120 && shaped1.count() == 0,
      "the refreshed PSL must split the registry and stop over-shaping")
  }
}
