package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.warc.{GraftWarc, WarcIndex}

/** CDX-style WARC record index + random-access point fetch
  * ([[graft.sources.warc.WarcIndex]]): the index coordinates address their
  * exact records, a point fetch reads ONE record's worth of bytes (not the
  * file), and the distributed fetch joins the archive without scanning it.
  */
class WarcIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def rec(id: Int, body: String): (Seq[(String, String)], Array[Byte]) =
    (Seq("WARC-Type" -> "response",
      "WARC-Record-ID" -> s"<urn:t:$id>",
      "WARC-Target-URI" -> s"https://site.example.com/p/$id",
      "WARC-Date" -> "2026-01-02T03:04:05Z"),
      body.getBytes("UTF-8"))

  test("index coordinates point-fetch their exact records with single-record I/O") {
    val dir = tempDir("warc-idx")
    // INCOMPRESSIBLE bodies (seeded pseudo-random printable chars) so the
    // gz file is record-count × body-size big and "single-record I/O" is
    // measurably below file size — repetitive bodies would deflate the
    // whole file under one fetch window and prove nothing
    def randomBody(i: Int): String = {
      val rnd = new scala.util.Random(i)
      val sb = new StringBuilder(s"record $i body ")
      (0 until 4000).foreach(_ => sb.append((32 + rnd.nextInt(95)).toChar))
      sb.toString
    }
    val bodies = (0 until 400).map(i => i -> randomBody(i)).toMap
    GraftWarc.writeGz(dir, "a.warc.gz",
      (0 until 200).map(i => rec(i, bodies(i))))
    GraftWarc.append(dir, "b.warc",
      (200 until 400).map(i => rec(i, bodies(i))))
    val idx = WarcIndex.build(spark, dir, includeDigest = true).collect()
    assert(idx.length == 400)
    idx.foreach { row =>
      val file = row.getAs[String]("file")
      val pos = row.getAs[Long]("pos")
      val sub = row.getAs[Int]("sub")
      val f = new File(dir, file)
      val res = WarcIndex.readRecordAt(f.getPath, pos)
      val hit = res.records.find(_.sub == sub)
      assert(hit.isDefined, s"no record at ($file, $pos, $sub)")
      val id = hit.get.headers("warc-record-id").stripPrefix("<urn:t:").stripSuffix(">").toInt
      assert(new String(hit.get.content, "UTF-8") == bodies(id))
      assert(hit.get.headers("warc-target-uri") == s"https://site.example.com/p/$id")
      // single-record I/O: the fetch reads far less than the file
      assert(res.bytesRead < f.length() / 4,
        s"point fetch read ${res.bytesRead} of ${f.length()} bytes — that is a scan")
      // digest column matches the fetched bytes
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(hit.get.content).map("%02x".format(_)).mkString
      assert(row.getAs[String]("digest") == hex)
    }
  }

  test("digest-free index of plain files never reads block bytes (pruning reaches the scan)") {
    val dir = tempDir("warc-idx-nodigest")
    GraftWarc.append(dir, "p.warc", (0 until 10).map(i => rec(i, "x" * 5000)))
    val idx = WarcIndex.build(spark, dir, includeDigest = false)
    assert(!idx.columns.contains("digest"))
    // ReadSchema must exclude `content` — the reader then seeks past blocks
    val physical = idx.queryExecution.executedPlan.toString
    assert(!physical.contains("content#") || physical.contains("content_length"),
      s"content column leaked into the scan:\n$physical")
    assert(idx.count() == 10)
    val schema = idx.queryExecution.optimizedPlan.toString
    assert(!schema.split("\n").exists(l => l.contains("graft-warc") && l.contains(", content#")),
      "block column must be pruned from the index scan")
  }

  test("fetchMany random-accesses a coordinate frame (the serving-tier join)") {
    val dir = tempDir("warc-idx-many")
    GraftWarc.writeGz(dir, "m.warc.gz", (0 until 30).map(i => rec(i, s"body-$i")))
    val idx = WarcIndex.build(spark, dir, includeDigest = false)
    // fetch an arbitrary subset, as a serving query would
    val coords = idx.filter(col("record_id").rlike("[02468]>$"))
      .select("file", "pos", "sub")
    val fetched = WarcIndex.fetchMany(coords, dir)
      .select(col("target_uri"), col("content").cast("string").as("body"))
      .as[(String, String)].collect().toMap
    assert(fetched.size == 15)
    fetched.foreach { case (uri, body) =>
      val id = uri.split("/").last.toInt
      assert(body == s"body-$id", s"wrong payload for $uri")
    }
  }

  test("stale coordinates (truncated file) fetch empty instead of garbage") {
    val dir = tempDir("warc-idx-stale")
    GraftWarc.writeGz(dir, "s.warc.gz", (0 until 5).map(i => rec(i, "z" * 2000)))
    val f = new File(dir, "s.warc.gz")
    val idx = WarcIndex.build(spark, dir, includeDigest = false)
      .orderBy(desc("pos")).select("pos").as[Long].collect()
    val lastPos = idx.head
    // truncate mid-last-member
    val raf = new java.io.RandomAccessFile(f, "rw")
    raf.setLength(lastPos + 10)
    raf.close()
    assert(WarcIndex.readRecordAt(f.getPath, lastPos).records.isEmpty)
    assert(WarcIndex.readRecordAt(f.getPath, f.length() + 100).records.isEmpty)
  }

  test("bucketed index round-trips through the catalog with bucket metadata") {
    val dir = tempDir("warc-idx-bkt")
    GraftWarc.writeGz(dir, "k.warc.gz", (0 until 12).map(i => rec(i, s"v$i")))
    val path = tempDir("warc-idx-bkt-out")
    val table = "warc_index_spec_tbl"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    WarcIndex.writeBucketed(
      WarcIndex.build(spark, dir, includeDigest = true), table, path, buckets = 4)
    val back = graft.sources.Bucketing.readBucketed(spark, table)
    assert(back.count() == 12)
    val spec = spark.sql(s"DESCRIBE TABLE EXTENDED $table").collect().map(_.mkString(" "))
    assert(spec.exists(_.contains("url_canon")), "bucket spec must key on url_canon")
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
