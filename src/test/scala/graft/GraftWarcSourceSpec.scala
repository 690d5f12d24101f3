package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.warc.GraftWarc

/** The `graft-warc` DSv2 medium: WARC/1.x (ISO 28500 — the Common Crawl
  * container) batch + streaming reads, record/member framing, admission
  * control, data-loss semantics, drop-not-fail malformed handling, and
  * byte-range splitting with validated-record-start ownership.
  */
class GraftWarcSourceSpec extends SparkTestBase {
  import spark.implicits._

  private def rec(uri: String, body: String, typ: String = "resource",
      extra: Seq[(String, String)] = Nil): (Seq[(String, String)], Array[Byte]) =
    (Seq("WARC-Type" -> typ, "WARC-Record-ID" -> s"<urn:uuid:${uri.hashCode}>",
      "WARC-Date" -> "2026-01-02T03:04:05Z", "WARC-Target-URI" -> uri,
      "Content-Type" -> "text/plain") ++ extra,
      body.getBytes("UTF-8"))

  private def readBatch(dir: String, opts: (String, String)*): DataFrame = {
    var r = spark.read.format("graft-warc").option("path", dir)
    opts.foreach { case (k, v) => r = r.option(k, v) }
    r.load()
  }

  test("batch read: plain records with standard headers as columns, all headers in the map") {
    val dir = tempDir("warc-batch")
    GraftWarc.append(dir, "a.warc", Seq(
      rec("http://ex.com/1", "hello world"),
      rec("http://ex.com/2", "second récord ütf-8", extra = Seq("X-Custom" -> "v1"))))
    val rows = readBatch(dir).orderBy("pos").collect()
    assert(rows.length == 2)
    val r0 = rows(0)
    assert(r0.getAs[String]("file") == "a.warc")
    assert(r0.getAs[Long]("pos") == 0L)
    assert(r0.getAs[Int]("sub") == 0)
    assert(r0.getAs[String]("warc_type") == "resource")
    assert(r0.getAs[String]("target_uri") == "http://ex.com/1")
    assert(r0.getAs[String]("warc_date") == "2026-01-02T03:04:05Z")
    assert(r0.getAs[String]("content_type") == "text/plain")
    assert(new String(r0.getAs[Array[Byte]]("content"), "UTF-8") == "hello world")
    assert(r0.getAs[Long]("content_length") == 11L)
    val h1 = rows(1).getAs[Map[String, String]]("headers")
    assert(h1("x-custom") == "v1" && h1("warc-type") == "resource")
    assert(new String(rows(1).getAs[Array[Byte]]("content"), "UTF-8")
      == "second récord ütf-8")
    // pos of record 2 = full serialized length of record 1
    assert(rows(1).getAs[Long]("pos") ==
      GraftWarc.recordBytes(rec("http://ex.com/1", "hello world")._1,
        "hello world".getBytes("UTF-8")).length.toLong)
  }

  test("batch read: per-record gzip members with exact member offsets; multi-record member subs") {
    val dir = tempDir("warc-gz")
    GraftWarc.writeGz(dir, "seg.warc.gz", Seq(
      rec("http://ex.com/a", "alpha"),
      rec("http://ex.com/b", "bravo bravo")))
    // a member holding TWO records (legal gzip; sub disambiguates the id)
    val two = GraftWarc.recordBytes(rec("u://c", "cc")._1, "cc".getBytes) ++
      GraftWarc.recordBytes(rec("u://d", "dd")._1, "dd".getBytes)
    val tmp = new File(dir, "multi.warc.gz")
    val out = new java.io.FileOutputStream(tmp)
    val gz = new java.util.zip.GZIPOutputStream(out)
    gz.write(two); gz.finish(); out.close()
    val rows = readBatch(dir).orderBy("file", "pos", "sub").collect()
    assert(rows.length == 4)
    val (multi, seg) = rows.partition(_.getAs[String]("file") == "multi.warc.gz")
    assert(seg.map(r => new String(r.getAs[Array[Byte]]("content"), "UTF-8")).toSeq
      == Seq("alpha", "bravo bravo"))
    // second member's pos = compressed size of the first member
    assert(seg(0).getAs[Long]("pos") == 0L && seg(1).getAs[Long]("pos") > 0L)
    assert(seg(1).getAs[Long]("pos") < new File(dir, "seg.warc.gz").length())
    assert(multi.map(_.getAs[Int]("sub")).toSeq == Seq(0, 1))
    assert(multi.map(_.getAs[String]("target_uri")).toSeq == Seq("u://c", "u://d"))
  }

  test("streaming tail: a partial record stays invisible until its framing lands") {
    val dir = tempDir("warc-tail")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, String)]()
    GraftWarc.append(dir, "t.warc", Seq(rec("u://1", "one")))
    val q = spark.readStream.format("graft-warc").option("path", dir).load()
      .writeStream
      .option("checkpointLocation", tempDir("warc-tail-ckpt"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => got.add((r.getAs[String]("file"), r.getAs[Long]("pos"),
          new String(r.getAs[Array[Byte]]("content"), "UTF-8"))))
        ()
      }.start()
    try {
      q.processAllAvailable()
      assert(got.size == 1)
      // append a record WITHOUT its trailing CRLFCRLF: invisible
      val full = GraftWarc.recordBytes(rec("u://2", "two")._1, "two".getBytes)
      val fos = new java.io.FileOutputStream(new File(dir, "t.warc"), true)
      fos.write(full, 0, full.length - 4); fos.close()
      q.processAllAvailable()
      assert(got.size == 1, "a torn record must stay invisible")
      val fos2 = new java.io.FileOutputStream(new File(dir, "t.warc"), true)
      fos2.write(full, full.length - 4, 4); fos2.close()
      q.processAllAvailable()
      assert(got.size == 2)
      // a NEW gz segment landed atomically is discovered as a complete file
      GraftWarc.writeGz(dir, "late.warc.gz", Seq(rec("u://3", "three")))
      q.processAllAvailable()
      assert(got.asScala.map(_._3).toSet == Set("one", "two", "three"))
    } finally q.stop()
  }
  private implicit class QueueOps[A](q: java.util.concurrent.ConcurrentLinkedQueue[A]) {
    def asScala: Iterator[A] = { import scala.jdk.CollectionConverters._; q.iterator().asScala }
  }

  test("maxBytesPerTrigger cuts at record boundaries and never starves") {
    val dir = tempDir("warc-cap")
    GraftWarc.append(dir, "c.warc",
      (1 to 20).map(i => rec(s"u://$i", "x" * 100)))
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-warc").option("path", dir)
      .option("maxBytesPerTrigger", "150") // << one ~300-byte record
      .load()
      .writeStream
      .option("checkpointLocation", tempDir("warc-cap-ckpt"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        val n = b.count(); if (n > 0) batches += n
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(batches.sum == 20L, s"all records delivered: $batches")
    // the cap is below one record, so the progress rule admits exactly one
    // record per trigger
    assert(batches.forall(_ == 1L), s"progress rule: one record per capped trigger, got $batches")
  }

  test("admission cap + junk at the checkpoint: the progress rule resyncs, never stalls") {
    // junk bytes land right after a consumed record; the per-trigger share
    // (150 B) is below the next good record's size — the progress fallback
    // must resync past the junk and still admit one record per trigger
    val dir = tempDir("warc-junkcap")
    val f = new java.io.FileOutputStream(new File(dir, "j.warc"))
    f.write(GraftWarc.recordBytes(rec("u://0", "zero")._1, "zero".getBytes))
    f.write("JUNK bytes between records\r\n\r\n".getBytes("UTF-8"))
    (1 to 5).foreach(i => f.write(GraftWarc.recordBytes(
      rec(s"u://$i", "x" * 200)._1, ("x" * 200).getBytes)))
    f.close()
    val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = spark.readStream.format("graft-warc").option("path", dir)
      .option("maxBytesPerTrigger", "150").load()
      .writeStream
      .option("checkpointLocation", tempDir("warc-junkcap-ckpt"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.select(col("target_uri")).collect().foreach(r => got.add(r.getString(0)))
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(got.asScala.toSet == (0 to 5).map(i => s"u://$i").toSet,
      s"records around the junk must all drain under the cap, got ${got.asScala.toSet}")
  }

  test("failOnDataLoss: truncation below the checkpoint fails strict, permissive holds") {
    val dir = tempDir("warc-loss")
    val f = new File(dir, "l.warc")
    GraftWarc.append(dir, "l.warc", Seq(rec("u://1", "aaaa"), rec("u://2", "bbbb")))
    val ckpt = tempDir("warc-loss-ckpt")
    def start(strict: Boolean) = spark.readStream.format("graft-warc")
      .option("path", dir).option("failOnDataLoss", strict.toString).load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) => b.count(); () }.start()
    val q = start(strict = true)
    try q.processAllAvailable() finally q.stop()
    // truncate below the checkpoint
    val raf = new java.io.RandomAccessFile(f, "rw")
    raf.setLength(f.length() - 10); raf.close()
    val q2 = start(strict = true)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    assert(e.getCause.getMessage.contains("data loss detected"),
      s"expected a data-loss error, got: ${e.getCause}")
    // permissive: holds at the checkpoint, resumes once the file regrows
    val q3 = start(strict = false)
    try {
      q3.processAllAvailable() // no error, nothing delivered
      GraftWarc.append(dir, "l.warc", Seq(rec("u://3", "cccc")))
      q3.processAllAvailable()
    } finally q3.stop()
  }

  test("permissive mode resyncs past a malformed record (drop-not-fail); failfast raises") {
    val dir = tempDir("warc-mal")
    val good1 = GraftWarc.recordBytes(rec("u://1", "first")._1, "first".getBytes)
    val junk = "GARBAGE not a warc record\r\nstill garbage\r\n\r\n".getBytes("UTF-8")
    val good2 = GraftWarc.recordBytes(rec("u://2", "second")._1, "second".getBytes)
    val fos = new java.io.FileOutputStream(new File(dir, "m.warc"))
    fos.write(good1); fos.write(junk); fos.write(good2); fos.close()
    val vals = readBatch(dir)
      .select(col("content").cast("string")).as[String].collect().toSet
    assert(vals == Set("first", "second"),
      s"permissive must deliver the records around the junk, got $vals")
    val e = intercept[org.apache.spark.SparkException] {
      readBatch(dir, "mode" -> "failfast").count()
    }
    assert(e.getMessage.contains("malformed") ||
      Option(e.getCause).exists(_.getMessage.contains("malformed")))
  }

  test("batch byte-range split: every record delivered exactly once under first-byte ownership") {
    val dir = tempDir("warc-split")
    // bodies that CONTAIN the WARC magic mid-content must not fool resync
    val n = 400
    GraftWarc.append(dir, "big.warc", (1 to n).map(i =>
      rec(s"u://$i", s"body $i with a fake\r\n\r\nWARC/1.1\r\nmagic inside " + "pad" * 50)))
    val whole = readBatch(dir).select("pos").as[Long].collect().sorted.toSeq
    assert(whole.size == n)
    val split = readBatch(dir, "maxSplitBytes" -> "4096")
      .select("pos").as[Long].collect().sorted.toSeq
    assert(split == whole,
      s"split read must deliver the same records exactly once (got ${split.size} vs $n)")
    // and it actually split: more than one partition planned
    val parts = readBatch(dir, "maxSplitBytes" -> "4096").rdd.getNumPartitions
    assert(parts > 1, s"expected a real split, got $parts partition(s)")
  }

  test("corrupt gzip TRAILER: permissive skips the member, failfast raises") {
    // gzipMemberSize frames members without checksum validation; the
    // checked decompression is where a flipped CRC/ISIZE byte surfaces —
    // drop-not-fail must cover it
    val dir = tempDir("warc-badtrailer")
    GraftWarc.writeGz(dir, "t.warc.gz", Seq(rec("u://1", "alpha"), rec("u://2", "bravo")))
    // corrupt the FIRST member's trailer: find the second member's start
    // (gzip magic 1f 8b 08) and flip a CRC byte just before it
    val f = new File(dir, "t.warc.gz")
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    val second = (1 until bytes.length - 2).find(i =>
      (bytes(i) & 0xff) == 0x1f && (bytes(i + 1) & 0xff) == 0x8b && bytes(i + 2) == 8).get
    bytes(second - 8) = (bytes(second - 8) ^ 0xff).toByte
    java.nio.file.Files.write(f.toPath, bytes)
    val vals = readBatch(dir).select(col("content").cast("string")).as[String].collect().toSet
    assert(vals == Set("bravo"), s"permissive must skip the corrupt member only, got $vals")
    val e = intercept[org.apache.spark.SparkException] {
      readBatch(dir, "mode" -> "failfast").count()
    }
    assert(e.getMessage.contains("corrupt") ||
      Option(e.getCause).exists(_.getMessage.contains("corrupt")))
  }

  test("duplicate header names: map column dedups last-wins, matching the projected columns") {
    val dir = tempDir("warc-duphdr")
    GraftWarc.append(dir, "d.warc", Seq(
      (Seq("WARC-Type" -> "resource", "Content-Type" -> "text/a",
        "Content-Type" -> "text/b", "WARC-Target-URI" -> "u://1"),
        "x".getBytes("UTF-8"))))
    val r = readBatch(dir).select("content_type", "headers").collect().head
    assert(r.getAs[String]("content_type") == "text/b", "projected column is last-wins")
    val m = r.getAs[Map[String, String]]("headers")
    assert(m("content-type") == "text/b",
      s"map lookup must agree with the projected column, got ${m("content-type")}")
    // Catalyst-level check: Row.getAs collapses duplicates on conversion,
    // so pin the RAW map entry count (4 = warc-type, content-type,
    // warc-target-uri, content-length) — with the dedup reverted this
    // reads 5 and map-key-sensitive consumers would see a malformed map
    val nEntries = readBatch(dir)
      .select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.map_keys(col("headers"))).as("n"))
      .as[Int].head()
    assert(nEntries == 4, s"raw map must carry deduped entries, got $nEntries")
  }

  test("column pruning reaches the scan: a header-only projection drops the block column") {
    val dir = tempDir("warc-prune")
    GraftWarc.append(dir, "p.warc", (1 to 50).map(i => rec(s"u://$i", "B" * 10000)))
    val proj = spark.read.format("graft-warc").option("path", dir)
      .load().select("target_uri", "content_length")
    // the scan leaf's output is the pruned column set — the reader then
    // SEEKS past every block instead of reading it (plain files), so a
    // header census over TB of WARC does head-sized I/O only
    val leafOut = proj.queryExecution.executedPlan.collectLeaves().head.output.map(_.name)
    assert(leafOut == Seq("target_uri", "content_length"),
      s"scan must prune to the projection, got $leafOut")
    import org.apache.spark.sql.functions.sum
    assert(proj.agg(sum("content_length")).as[Long].head() == 50L * 10000,
      "pruned read must still frame records by their Content-Length")
    // degenerate projection: count(*) still iterates records correctly
    assert(spark.read.format("graft-warc").option("path", dir).load().count() == 50L)
  }

  test("http_body strips the HTTP message headers from response blocks; non-HTTP gives null") {
    val dir = tempDir("warc-http")
    val httpMsg = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html>body bytes</html>"
    val lfMsg = "HTTP/1.0 200 OK\nServer: old\n\npayload"
    GraftWarc.append(dir, "h.warc", Seq(
      (Seq("WARC-Type" -> "response", "WARC-Target-URI" -> "u://1",
        "Content-Type" -> "application/http;msgtype=response"), httpMsg.getBytes("UTF-8")),
      (Seq("WARC-Type" -> "response", "WARC-Target-URI" -> "u://2"), lfMsg.getBytes("UTF-8")),
      (Seq("WARC-Type" -> "resource", "WARC-Target-URI" -> "u://3"),
        "no separator here".getBytes("UTF-8"))))
    val got = readBatch(dir)
      .select(col("target_uri"),
        graft.functions.http_body(col("content")).cast("string").as("body"))
      .as[(String, String)].collect().toMap
    assert(got("u://1") == "<html>body bytes</html>")
    assert(got("u://2") == "payload", "bare-LF separators must be tolerated")
    assert(got("u://3") == null, "a non-HTTP block has no body")
  }

  test("DSv2 sink: batch write roundtrips through the source; Append adds segments") {
    val dir = tempDir("warc-sink")
    val docs = (1 to 40).map(i =>
      (s"https://ex.com/p/$i", s"body of $i", if (i % 2 == 0) "response" else "resource"))
      .toDF("target_uri", "content", "warc_type")
    docs.repartition(4).write.format("graft-warc").mode("append").option("path", dir).save()
    val back = readBatch(dir)
    assert(back.count() == 40)
    assert(back.filter(col("warc_type") === "response").count() == 20)
    val one = back.filter(col("target_uri") === "https://ex.com/p/7").collect().head
    assert(new String(one.getAs[Array[Byte]]("content"), "UTF-8") == "body of 7")
    assert(one.getAs[String]("record_id").startsWith("<urn:graft:"),
      "derived record ids must be present and deterministic")
    // a second Append ADDS (per-job uuid tag — no clobbering)
    docs.limit(5).write.format("graft-warc").mode("append").option("path", dir).save()
    assert(readBatch(dir).count() == 45)
  }

  test("DSv2 sink: streaming epochs land effectively-once (a replayed epoch replaces itself)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("warc-sink-stream")
    val ckpt = tempDir("warc-sink-stream-ckpt")
    val in = MemoryStream[(String, String)]
    def start() = in.toDF().toDF("target_uri", "content")
      .writeStream.format("graft-warc")
      .option("path", dir).option("checkpointLocation", ckpt).start()
    val q = start()
    try {
      in.addData(("u://1", "one"), ("u://2", "two"))
      q.processAllAvailable()
      in.addData(("u://3", "three"))
      q.processAllAvailable()
    } finally q.stop()
    assert(readBatch(dir).count() == 3)
    // force a REPLAY of the final epoch: drop its commit marker and restart
    val commits = new File(s"$ckpt/commits")
    val last = commits.listFiles().map(_.getName).filter(_.forall(_.isDigit)).map(_.toInt).max
    assert(new File(commits, last.toString).delete())
    new File(commits, s".$last.crc").delete()
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // the replayed epoch renamed over its own segment: still exactly 3
    val vals = readBatch(dir).select(col("content").cast("string")).as[String].collect().toSeq
    assert(vals.sorted == Seq("one", "three", "two"),
      s"replay must not duplicate the final epoch: $vals")
  }

  test("chaos scenario over graft-warc: all three guarantees hold") {
    val suite = graft.testing.GuaranteeSuite()
    suite.chaosTestOver(spark,
      graft.testing.ChaosMedium.warc(
        tempDir("graft-chaos-warc"), nFiles = 4),
      nKeys = 20, total = 1000)(identity)
  }

  /** One raw HTTP/1.1 response block: plain cp1252, chunked utf-8, or
    * gzip+chunked utf-8 by `i % 3` — the payload shapes real crawls carry.
    */
  private def httpWrap(text: String, i: Int): Array[Byte] = {
    val cp1252 = java.nio.charset.Charset.forName("windows-1252")
    def chunk(b: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      b.grouped(11).foreach { g =>
        out.write(s"${Integer.toHexString(g.length)}\r\n".getBytes)
        out.write(g); out.write("\r\n".getBytes)
      }
      out.write("0\r\n\r\n".getBytes)
      out.toByteArray
    }
    def gz(b: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val s = new java.util.zip.GZIPOutputStream(out); s.write(b); s.close()
      out.toByteArray
    }
    val (fields, body) = i % 3 match {
      case 0 => (Seq("Content-Type: text/plain; charset=windows-1252"),
        text.getBytes(cp1252))
      case 1 => (Seq("Content-Type: text/plain; charset=utf-8",
        "Transfer-Encoding: chunked"), chunk(text.getBytes("UTF-8")))
      case _ => (Seq("Content-Type: text/plain; charset=utf-8",
        "Content-Encoding: gzip", "Transfer-Encoding: chunked"),
        chunk(gz(text.getBytes("UTF-8"))))
    }
    ("HTTP/1.1 200 OK" +: fields).mkString("", "\r\n", "\r\n\r\n")
      .getBytes("ISO-8859-1") ++ body
  }

  /** Response records `from until until` over mixed hosts, one per doc. */
  private def responseRecords(from: Int, until: Int): Seq[(Seq[(String, String)], Array[Byte])] =
    (from until until).map { i =>
      val host = if (i % 3 == 0) "spam.tracker.biz" else s"site${i % 5}.example.com"
      // all-alphabetic tokens: Gopher's minAlphaWordFrac (0.8) must pass
      val body = (1 to 8).map { j =>
        val jw = ('a' + (j % 26)).toChar.toString * 3
        val iw = ('a' + (i % 26)).toChar.toString * 4
        s"Sentence $jw of document $iw reads quite fine today."
      }.mkString("\n")
      (Seq("WARC-Type" -> "response", "WARC-Record-ID" -> s"<urn:uuid:$i>",
        "WARC-Date" -> "2026-01-02T03:04:05Z",
        "WARC-Target-URI" -> s"https://$host/page/$i?utm_source=x",
        "Content-Type" -> "application/http; msgtype=response"),
        httpWrap(body, i))
    }

  test("crawl front runs end-to-end from a WARC directory") {
    // synthesize a small crawl as gz segments (the Common Crawl shape) of
    // RAW HTTP response records — status line, headers, chunked and/or
    // gzip'd bodies, mixed charsets — read through the source, decode the
    // payloads with http_text, and drive crawlToCorpus off the parsed rows
    val dir = tempDir("warc-crawl")
    val docs = responseRecords(1, 61)
    docs.grouped(20).zipWithIndex.foreach { case (g, i) =>
      GraftWarc.writeGz(dir, f"crawl-$i%02d.warc.gz", g)
    }
    val parsed = readBatch(dir)
      .filter(col("warc_type") === "response")
      .select(
        // (file, pos, sub) → a stable integral doc id
        (hash(col("file"), col("pos"), col("sub")).cast("long") +
          lit(1L << 32)).as("doc_id"),
        col("target_uri").as("url"),
        graft.functions.http_text(col("content")).as("body"))
    // every response record's payload must decode (chunked, gzip, cp1252)
    assert(parsed.filter(col("body").isNull).count() == 0,
      "http_text must decode every synthesized response payload")
    val blocked = Seq("tracker.biz").toDF("domain")
    val out = graft.pipeline.WebCuration.crawlToCorpus(
      parsed, col("doc_id"), col("url"), col("body"), blocked, cap = 10,
      gopher = graft.quality.GopherRules.Params(minWords = 10L, minStopWords = 1L))
    val kept = out.select("canon_url").as[String].collect()
    assert(kept.nonEmpty, "the WARC-fed crawl front must admit documents")
    assert(!kept.exists(_.contains("tracker.biz")), "blocklisted domain leaked through")
    assert(kept.forall(!_.contains("utm_source")), "canonicalization must strip tracking params")
    val perDomain = out.groupBy("domain").count().as[(String, Long)].collect()
    assert(perDomain.forall(_._2 <= 10), s"per-domain cap violated: ${perDomain.toSeq}")
  }

  test("malformed gzip FRAMING (junk between members): strict raises, permissive truncates loudly") {
    // junk between members wedges the walk forever (the size of what
    // follows is unknowable) — unlike a corrupt TRAILER (framed, steppable)
    // or plain-file junk (resyncable). Strict modes must raise instead of
    // silently planning a truncated file.
    val dir = tempDir("warc-gzjunk")
    GraftWarc.writeGz(dir, "j.warc.gz", Seq(rec("u://1", "alpha")))
    val tmp = tempDir("warc-gzjunk2")
    GraftWarc.writeGz(tmp, "t.warc.gz", Seq(rec("u://2", "bravo")))
    val f = new File(dir, "j.warc.gz")
    val out = new java.io.FileOutputStream(f, true)
    out.write("THIS IS NOT GZIP FRAMING".getBytes("UTF-8"))
    out.write(java.nio.file.Files.readAllBytes(new File(tmp, "t.warc.gz").toPath))
    out.close()
    // default (failOnDataLoss=true): batch planning raises
    val e = intercept[Throwable] { readBatch(dir).count() }
    val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(5)
      .map(_.getMessage).mkString(" | ")
    assert(msg.contains("malformed gzip framing"), s"wrong error: $msg")
    // failfast mode raises even with failOnDataLoss=false
    val e2 = intercept[Throwable] {
      readBatch(dir, "failondataloss" -> "false", "mode" -> "failfast").count()
    }
    assert(Iterator.iterate(e2)(_.getCause).takeWhile(_ != null).take(5)
      .map(_.getMessage).mkString(" | ").contains("malformed gzip framing"))
    // permissive + failOnDataLoss=false: everything before the junk reads
    val vals = readBatch(dir, "failondataloss" -> "false")
      .select(col("content").cast("string")).as[String].collect().toSet
    assert(vals == Set("alpha"), s"must keep what precedes the junk, got $vals")
    // the walk itself reports the stall point and reason
    val walk = GraftWarc.completeGzWalk(f, 0L, f.length())
    assert(walk.malformed.isDefined, "junk framing must be distinguished from an incomplete tail")
    assert(walk.end > 0 && walk.end < f.length())
    // an INCOMPLETE tail (growing file) stays malformed-free
    val half = new File(dir, "h.warc.gz")
    val whole = java.nio.file.Files.readAllBytes(new File(tmp, "t.warc.gz").toPath)
    java.nio.file.Files.write(half.toPath, whole.take(whole.length - 4))
    val w2 = GraftWarc.completeGzWalk(half, 0L, half.length())
    assert(w2.end == 0L && w2.malformed.isEmpty, s"truncated member is incomplete, not malformed: $w2")
  }

  test("unaligned split + truncation below the planned end: strict raises instead of zero rows") {
    val dir = tempDir("warc-trunc-split")
    GraftWarc.append(dir, "s.warc", Seq(rec("u://1", "alpha"), rec("u://2", "bravo")))
    val f = new File(dir, "s.warc")
    val len = f.length()
    val fields = GraftWarc.schema.fieldNames.indices.toSeq
    // simulate planning-then-truncation: the partition's planned end is the
    // old file length; the file shrinks before the reader opens it
    val raf = new java.io.RandomAccessFile(f, "rw")
    raf.setLength(len / 2)
    raf.close()
    val p = graft.sources.warc.GraftWarcInputPartition(
      f.getPath, f.getName, from = 0L, until = len, gz = false,
      failOnDataLoss = true, permissive = true, maxRecordBytes = 1L << 30,
      fields = fields, aligned = false)
    val e = intercept[IllegalStateException] {
      new graft.sources.warc.GraftWarcReaderFactory().createReader(p)
    }
    assert(e.getMessage.contains("data loss"), e.getMessage)
    // non-strict: the reader opens and yields only the records that survive
    // the truncation (here: at most the first)
    val p2 = p.copy(failOnDataLoss = false)
    val r = new graft.sources.warc.GraftWarcReaderFactory().createReader(p2)
    try {
      var n = 0
      while (r.next()) n += 1
      assert(n <= 1, s"at most the first record survives a half-truncation, got $n")
    } finally r.close()
  }

  test("LIVE crawl front: tail raw HTTP response segments through http_text into the streaming gate") {
    // the full composition a real archive consumer runs: graft-warc TAIL →
    // http_text decode (chunked/gzip/cp1252 arms) → streaming crawl gate
    // (watermark URL-dedup + blocklist + C4 + Gopher), with a segment
    // landing MID-STREAM; the admitted canonical-URL set must equal the
    // batch crawl front over the same directory
    val dir = tempDir("warc-live-crawl")
    GraftWarc.writeGz(dir, "crawl-00.warc.gz", responseRecords(1, 31))
    def parse(df: DataFrame): DataFrame = df
      .filter(col("warc_type") === "response")
      .select(
        (hash(col("file"), col("pos"), col("sub")).cast("long") +
          lit(1L << 32)).as("doc_id"),
        col("target_uri").as("url"),
        graft.functions.http_text(col("content")).as("body"),
        to_timestamp(col("warc_date")).as("ts"))
    val blocked = Seq("tracker.biz").toDF("domain")
    val gopher = graft.quality.GopherRules.Params(minWords = 10L, minStopWords = 1L)
    val gated = graft.pipeline.WebCuration.crawlGateStream(
      parse(spark.readStream.format("graft-warc").option("path", dir).load()),
      col("doc_id"), col("url"), col("body"),
      tsCol = "ts", watermarkDelay = "10 minutes",
      blockedDomains = blocked, gopher = gopher)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = gated.writeStream
      .option("checkpointLocation", tempDir("warc-live-ckpt"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.select("canon_url").collect().foreach(r => got.add(r.getString(0)))
        ()
      }.start()
    try {
      q.processAllAvailable()
      val afterFirst = got.size
      assert(afterFirst > 0, "the live gate must admit documents from the first segment")
      // a segment lands mid-stream: the tail must pick it up and gate it
      GraftWarc.writeGz(dir, "crawl-01.warc.gz", responseRecords(31, 61))
      q.processAllAvailable()
      assert(got.size > afterFirst, "mid-stream segment must flow through the gate")
      val streamed = got.asScala.toSet
      assert(!streamed.exists(_.contains("tracker.biz")), "blocklist must hold on the stream")
      assert(streamed.forall(!_.contains("utm_source")), "canonicalization must hold on the stream")
      // stream ≡ batch: the same directory through the same parse and the
      // batch gate stages (crawlToCorpus with a non-binding cap) admits
      // the same canonical URLs
      val batch = graft.pipeline.WebCuration.crawlToCorpus(
        parse(readBatch(dir)), col("doc_id"), col("url"), col("body"),
        blocked, cap = 1000, gopher = gopher)
        .select("canon_url").as[String].collect().toSet
      assert(streamed == batch, s"stream/batch divergence: ${streamed.diff(batch)} / ${batch.diff(streamed)}")
    } finally q.stop()
  }

  test("WARC → WET conversion: responses become conversion records of extracted text") {
    val dir = tempDir("warc-wet-src")
    def html(i: Int) =
      s"""<html><head><style>p{}</style></head><body><h1>Title $i</h1>
         |<p>Hello world number $i &amp; more.</p>
         |<script>var x = $i;</script></body></html>""".stripMargin
    // three decodable payload shapes + one UNDECODABLE (brotli) that the
    // WET generator must skip, not garble
    val recs = (0 until 3).map { i =>
      (Seq("WARC-Type" -> "response", "WARC-Record-ID" -> s"<urn:uuid:$i>",
        "WARC-Date" -> "2026-01-02T03:04:05Z",
        "WARC-Target-URI" -> s"https://ex.com/p/$i"),
        httpWrap(html(i), i))
    } :+ ((Seq("WARC-Type" -> "response", "WARC-Record-ID" -> "<urn:uuid:br>",
      "WARC-Date" -> "2026-01-02T03:04:05Z",
      "WARC-Target-URI" -> "https://ex.com/p/br"),
      ("HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n\r\n" + "opaque").getBytes("UTF-8")))
    GraftWarc.writeGz(dir, "src.warc.gz", recs)
    val wet = graft.pipeline.WebCuration.toWetRecords(readBatch(dir))
    // land as a real WET segment through the sink and read it back
    val wetDir = tempDir("warc-wet-out")
    wet.write.format("graft-warc").mode("append").option("path", wetDir).save()
    val back = readBatch(wetDir)
      .select(col("warc_type"), col("record_id"), col("target_uri"),
        col("content").cast("string").as("text"))
      .collect().map(r => r.getAs[String]("target_uri") ->
        ((r.getAs[String]("warc_type"), r.getAs[String]("record_id"),
          r.getAs[String]("text")))).toMap
    assert(back.size == 3, "the undecodable response must produce NO conversion record")
    (0 until 3).foreach { i =>
      val (typ, rid, text) = back(s"https://ex.com/p/$i")
      assert(typ == "conversion")
      assert(rid == s"<urn:wet:urn:uuid:$i>", s"derived id off: $rid")
      assert(text == s"Title $i Hello world number $i & more.",
        s"extraction off for $i: '$text'")
    }
    assert(!back.contains("https://ex.com/p/br"))
  }

  test("sink rejects a non-string optional column at plan time, not executor-side") {
    val dir = tempDir("warc-badopt")
    val df = Seq(("u://1", "payload", 7)).toDF("target_uri", "content", "warc_type")
    val e = intercept[Throwable] {
      df.write.format("graft-warc").option("path", dir).mode("append").save()
    }
    val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(5)
      .map(_.getMessage).mkString(" | ")
    assert(msg.contains("'warc_type' must be string"), s"wrong error: $msg")
  }

  /** The stream a `readStream.format("graft-warc")` query drives, for
    * unit-level offset checks without a query.
    */
  private def tailStream(dir: String, opts: (String, String)*): graft.sources.FileTailStream = {
    val m = new java.util.HashMap[String, String]()
    m.put("path", dir)
    opts.foreach { case (k, v) => m.put(k, v) }
    new graft.sources.warc.GraftWarcScan(new org.apache.spark.sql.util.CaseInsensitiveStringMap(m))
      .toMicroBatchStream("unused").asInstanceOf[graft.sources.FileTailStream]
  }

  /** The per-source offset JSON of the latest checkpointed batch. */
  private def latestOffsetLog(ckpt: String): String = {
    val offsetsDir = new File(s"$ckpt/offsets")
    val latest = offsetsDir.listFiles().map(_.getName).filter(_.forall(_.isDigit)).map(_.toInt).max
    new String(Files.readAllBytes(new File(offsetsDir, latest.toString).toPath), "UTF-8")
  }

  test("strict mode reports a vanished file whose OBSERVED backlog was never scheduled") {
    // the admission cap defers the second record; the file then vanishes.
    // Zero unread SCHEDULED bytes — but the probe cache witnessed a second
    // complete record, so within the run strict mode must report the loss
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.sources.FileTailOffset
    val dir = tempDir("warc-gone")
    GraftWarc.append(dir, "gone.warc", Seq(rec("u://1", "x" * 100), rec("u://2", "y" * 100)))
    val first = GraftWarc.recordBytes(rec("u://1", "x" * 100)._1, ("x" * 100).getBytes).length
    val stream = tailStream(dir, "maxBytesPerTrigger" -> "10")
    val e1 = stream.latestOffset(FileTailOffset(Map.empty), ReadLimit.allAvailable())
      .asInstanceOf[FileTailOffset]
    assert(e1.positions("gone.warc") == first.toLong, s"cap must defer the second record: $e1")
    assert(new File(dir, "gone.warc").delete())
    val ex = intercept[IllegalStateException] {
      stream.latestOffset(e1, ReadLimit.allAvailable())
    }
    assert(ex.getMessage.contains("observed-but-unconsumed"), ex.getMessage)
    // the benign twin: a gz segment fully consumed at vanish time retires
    val dir2 = tempDir("warc-done")
    GraftWarc.writeGz(dir2, "done.warc.gz", Seq(rec("u://3", "z")))
    val s2 = tailStream(dir2)
    val o1 = s2.latestOffset(FileTailOffset(Map.empty), ReadLimit.allAvailable())
      .asInstanceOf[FileTailOffset]
    assert(o1.positions("done.warc.gz") == new File(dir2, "done.warc.gz").length())
    assert(new File(dir2, "done.warc.gz").delete())
    val o2 = s2.latestOffset(o1, ReadLimit.allAvailable()).asInstanceOf[FileTailOffset]
    assert(o2.positions.isEmpty, s"fully-consumed vanish must retire, got $o2")
  }

  test("rotation of a fully consumed segment retires its offset entry; retireConsumed=false carries it") {
    def rotate(retireConsumed: Boolean): String = {
      val dir = tempDir("warc-rotate")
      val ckpt = tempDir("warc-rotate-ckpt")
      GraftWarc.writeGz(dir, "old.warc.gz", Seq(rec("u://0", "zero"), rec("u://1", "one")))
      GraftWarc.append(dir, "live.warc", Seq(rec("u://2", "two")))
      val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      def start() = spark.readStream.format("graft-warc").option("path", dir)
        .option("retireConsumed", retireConsumed.toString).load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.select(col("target_uri")).collect().foreach(r => got.add(r.getString(0)))
          ()
        }.start()
      val q = start() // strict failOnDataLoss (the default)
      try q.processAllAvailable() finally q.stop()
      assert(got.size == 3, s"first run delivers the backlog: ${got.asScala.toSeq}")
      // routine log rotation: the fully consumed segment is deleted
      assert(new File(dir, "old.warc.gz").delete())
      got.clear()
      // a STRICT restart must not fail — zero unread bytes were lost
      val q2 = start()
      try {
        q2.processAllAvailable()
        GraftWarc.append(dir, "live.warc", Seq(rec("u://3", "three")))
        q2.processAllAvailable()
      } finally q2.stop()
      assert(got.asScala.toVector == Vector("u://3"), s"exactly the new record: ${got.asScala.toSeq}")
      latestOffsetLog(ckpt)
    }
    val retired = rotate(retireConsumed = true)
    assert(!retired.contains("old.warc.gz"),
      s"a rotated segment must leave the checkpointed offset map: $retired")
    assert(retired.contains("live.warc"))
    val carried = rotate(retireConsumed = false)
    assert(carried.contains("old.warc.gz"), s"opt-out must carry the entry: $carried")
  }

  test("startingOffsets=latest skips the existing backlog, then tails") {
    val dir = tempDir("warc-latest")
    GraftWarc.append(dir, "z.warc", (0 until 5).map(i => rec(s"u://$i", s"body $i")))
    GraftWarc.writeGz(dir, "z.warc.gz", Seq(rec("u://gz", "compressed body")))
    val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = spark.readStream.format("graft-warc").option("path", dir)
      .option("startingOffsets", "latest").load()
      .writeStream.option("checkpointLocation", tempDir("warc-latest-ckpt"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.select(col("target_uri")).collect().foreach(r => got.add(r.getString(0)))
        ()
      }.start()
    try {
      q.processAllAvailable()
      assert(got.isEmpty, s"backlog must be skipped, got ${got.asScala.toSeq}")
      GraftWarc.append(dir, "z.warc", Seq(rec("u://99", "ninety-nine")))
      q.processAllAvailable()
      assert(got.asScala.toVector == Vector("u://99"))
    } finally q.stop()
  }
}
