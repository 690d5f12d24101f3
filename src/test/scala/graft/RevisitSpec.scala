package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.pipeline.WebCuration
import graft.sources.warc.{GraftWarc, WarcIndex}

/** WARC `revisit` resolution ([[WebCuration.revisitEdges]] /
  * [[WebCuration.resolveRevisits]]): both reference arms (WARC-Refers-To
  * record id; refers-to-target-uri + payload digest), unresolvable
  * revisits, the canonical-original election under digest ties, and the
  * composition with the point-fetch (edges carry usable coordinates).
  */
class RevisitSpec extends SparkTestBase {
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def response(id: String, uri: String, body: String): (Seq[(String, String)], Array[Byte]) =
    (Seq("WARC-Type" -> "response", "WARC-Record-ID" -> s"<urn:r:$id>",
      "WARC-Target-URI" -> uri,
      "WARC-Payload-Digest" -> s"md5:${md5hex(body)}"),
      body.getBytes("UTF-8"))

  private def revisit(id: String, uri: String,
      extra: Seq[(String, String)]): (Seq[(String, String)], Array[Byte]) =
    (Seq("WARC-Type" -> "revisit", "WARC-Record-ID" -> s"<urn:v:$id>",
      "WARC-Target-URI" -> uri,
      "WARC-Profile" -> "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest")
      ++ extra, Array.emptyByteArray)

  private def crawlDir(): String = {
    val dir = tempDir("warc-revisit")
    GraftWarc.writeGz(dir, "crawl.warc.gz", Seq(
      response("a", "https://ex.com/a", "payload-A"),
      response("b", "https://ex.com/b", "payload-B"),
      // two byte-identical captures of the same URI — the digest arm must
      // elect ONE canonical original (min record id), not an arbitrary one
      response("c1", "https://ex.com/c", "payload-C"),
      response("c2", "https://ex.com/c", "payload-C"),
      // arm 1: exact record-id reference
      revisit("1", "https://ex.com/a", Seq("WARC-Refers-To" -> "<urn:r:a>")),
      // arm 2: (refers-to-target-uri, digest)
      revisit("2", "https://ex.com/b", Seq(
        "WARC-Refers-To-Target-URI" -> "https://ex.com/b",
        "WARC-Payload-Digest" -> s"md5:${md5hex("payload-B")}")),
      // arm 2 against the duplicated original
      revisit("3", "https://ex.com/c", Seq(
        "WARC-Payload-Digest" -> s"md5:${md5hex("payload-C")}")),
      // unresolvable: refers to a record that is not in the archive
      revisit("4", "https://ex.com/gone", Seq("WARC-Refers-To" -> "<urn:r:nope>"))))
    dir
  }

  test("revisitEdges resolves both arms, elects canonical originals, leaves the rest null") {
    val dir = crawlDir()
    val warc = spark.read.format("graft-warc").option("path", dir).load()
    val edges = WebCuration.revisitEdges(warc)
      .select("revisit_record_id", "original_record_id", "resolved_by")
      .as[(String, String, String)].collect()
      .map(e => e._1 -> ((e._2, e._3))).toMap
    assert(edges.size == 4)
    assert(edges("<urn:v:1>") == (("<urn:r:a>", "refers-to")))
    assert(edges("<urn:v:2>") == (("<urn:r:b>", "uri-digest")))
    // min(<urn:r:c1>, <urn:r:c2>) — the deterministic representative
    assert(edges("<urn:v:3>") == (("<urn:r:c1>", "uri-digest")))
    assert(edges("<urn:v:4>") == ((null, null)))
  }

  test("resolveRevisits carries the original payload; pass-through rows untouched") {
    val dir = crawlDir()
    val warc = spark.read.format("graft-warc").option("path", dir).load()
    val out = WebCuration.resolveRevisits(warc)
    assert(out.count() == 8, "one output row per input record")
    val revisits = out.filter(col("warc_type") === "revisit")
      .select(col("record_id"), col("resolved_from"),
        col("resolved_content").cast("string").as("body"))
      .as[(String, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(revisits("<urn:v:1>") == (("<urn:r:a>", "payload-A")))
    assert(revisits("<urn:v:2>") == (("<urn:r:b>", "payload-B")))
    assert(revisits("<urn:v:3>") == (("<urn:r:c1>", "payload-C")))
    assert(revisits("<urn:v:4>") == ((null, null)), "unresolvable stays null, never garbage")
    // non-revisit rows: resolved_content IS the record's own content
    val pass = out.filter(col("warc_type") =!= "revisit")
      .filter(col("content") =!= col("resolved_content")).count()
    assert(pass == 0)
  }

  test("edges compose with the point fetch: coordinates read the original payload") {
    val dir = crawlDir()
    val warc = spark.read.format("graft-warc").option("path", dir).load()
    val coords = WebCuration.revisitEdges(warc)
      .filter(col("original_record_id").isNotNull)
      .select(col("original_file").as("file"), col("original_pos").as("pos"),
        col("original_sub").as("sub"))
    val fetched = WarcIndex.fetchMany(coords, dir)
      .select(col("target_uri"), col("content").cast("string"))
      .as[(String, String)].collect().toMap
    assert(fetched == Map(
      "https://ex.com/a" -> "payload-A",
      "https://ex.com/b" -> "payload-B",
      "https://ex.com/c" -> "payload-C"))
  }

  test("revisit edges feed the dedup cluster machinery as (revisit, original) pairs") {
    val dir = crawlDir()
    val warc = spark.read.format("graft-warc").option("path", dir).load()
    // hash the string record ids to the long ids the CC machinery keys on
    val edges = WebCuration.revisitEdges(warc)
      .filter(col("original_record_id").isNotNull)
      .select(
        abs(hash(col("revisit_record_id"))).cast("long").as("id_a"),
        abs(hash(col("original_record_id"))).cast("long").as("id_b"))
    val clusters = graft.dedup.Dedup.connectedComponents(edges)
    // 3 resolved pairs → 3 two-node clusters
    val sizes = clusters.groupBy(col("cluster_id")).count()
      .select(col("count")).as[Long].collect()
    assert(sizes.length == 3 && sizes.forall(_ == 2L), s"got ${sizes.toSeq}")
  }
}
