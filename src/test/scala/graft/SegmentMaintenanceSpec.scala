package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{SegmentMaintenance, SinkCompaction}
import graft.sources.warc.GraftWarc

/** Document-sink segment maintenance ([[SegmentMaintenance]] /
  * [[SinkCompaction]]): compaction preserves read-back exactly (both
  * media), the ski-rental scheduler fires like the self-index tier's,
  * retention drops only expired segments, a tailing reader survives a
  * compaction under the documented re-read contract, and the takedown
  * purge rewrites only affected segments.
  */
class SegmentMaintenanceSpec extends SparkTestBase {
  import spark.implicits._

  private def writeWarcEpochs(dir: String, epochs: Int, perEpoch: Int): Unit =
    (0 until epochs).foreach { e =>
      GraftWarc.writeGz(dir, f"seg-q$e%06d-0000.warc.gz", (0 until perEpoch).map { i =>
        (Seq("WARC-Type" -> "resource",
          "WARC-Record-ID" -> s"<urn:m:$e:$i>",
          "WARC-Target-URI" -> s"https://ex.com/$e/$i"),
          s"body $e $i".getBytes("UTF-8"))
      })
    }

  private def readRows(dir: String): Set[(String, String)] =
    spark.read.format("graft-warc").option("path", dir).load()
      .select(col("target_uri"), col("content").cast("string"))
      .as[(String, String)].collect().toSet

  test("warc compaction preserves read-back exactly and folds oldest-first") {
    val dir = tempDir("maint-warc")
    writeWarcEpochs(dir, epochs = 6, perEpoch = 5)
    val before = readRows(dir)
    val folded = SegmentMaintenance.compactSegments(dir, ".warc.gz", keepRecent = 2)
    assert(folded.isDefined)
    val segs = SegmentMaintenance.segments(dir, ".warc.gz").map(_.getName)
    assert(segs.count(_.startsWith("seg-compact-")) == 1)
    assert(segs.size == 3, s"4 oldest folded into 1 + 2 recent kept: $segs")
    // compacted history sorts BEFORE epoch tags (history-then-tail)
    assert(segs.head.startsWith("seg-compact-"))
    assert(readRows(dir) == before, "compaction must preserve every row exactly")
    // a second fold folds the compacted file + next epoch together
    val again = SegmentMaintenance.compactSegments(dir, ".warc.gz", keepRecent = 1, minSegments = 2)
    assert(again.isDefined)
    assert(readRows(dir) == before)
  }

  test("jsonl compaction preserves read-back exactly (newline-framed concatenation)") {
    val dir = tempDir("maint-jsonl")
    (0 until 5).foreach { e =>
      val f = new File(dir, f"seg-q$e%06d-0000.jsonl")
      java.nio.file.Files.write(f.toPath,
        (0 until 4).map(i => s"""{"k":"$e-$i","v":$i}""").mkString("", "\n", "\n")
          .getBytes("UTF-8"))
    }
    val before = spark.read.format("graft-jsonl").option("path", dir).load()
      .select(col("value")).as[String].collect().toSet
    assert(SegmentMaintenance.compactSegments(dir, ".jsonl", keepRecent = 1).isDefined)
    val after = spark.read.format("graft-jsonl").option("path", dir).load()
      .select(col("value")).as[String].collect().toSet
    assert(after == before)
    assert(SegmentMaintenance.segments(dir, ".jsonl").size == 2)
  }

  test("ski-rental scheduler: rent accrues per epoch, fold fires when rent covers the price") {
    val dir = tempDir("maint-sched")
    // expensive per-segment rent, cheap fold: fires as soon as minSegments
    val eager = new SinkCompaction(
      perSegmentProbeSec = 100.0, foldSecPerMb = 0.001, minSegments = 4, keepRecent = 1)
    writeWarcEpochs(dir, epochs = 3, perEpoch = 2)
    assert(!eager.afterEpoch(dir, ".warc.gz", 2L), "below minSegments: never fires")
    GraftWarc.writeGz(dir, "seg-q000003-0000.warc.gz",
      Seq((Seq("WARC-Type" -> "resource", "WARC-Target-URI" -> "u://x"), "x".getBytes)))
    assert(eager.afterEpoch(dir, ".warc.gz", 3L), "rent >> price at 4 segments: fires")
    assert(eager.firedAt == Seq(3L))
    // cheap rent, expensive fold: must NOT fire on the same layout
    val frugal = new SinkCompaction(
      perSegmentProbeSec = 1e-9, foldSecPerMb = 1e9, minSegments = 2, keepRecent = 0)
    assert(!frugal.afterEpoch(dir, ".warc.gz", 4L), "rent << price: keeps renting")
  }

  test("retention drops only expired segments (count and age)") {
    val dir = tempDir("maint-retain")
    writeWarcEpochs(dir, epochs = 5, perEpoch = 2)
    val dropped = SegmentMaintenance.retainByCount(dir, ".warc.gz", keep = 3)
    assert(dropped == Seq("seg-q000000-0000.warc.gz", "seg-q000001-0000.warc.gz"))
    assert(SegmentMaintenance.segments(dir, ".warc.gz").size == 3)
    // age-based: backdate the oldest remaining segment
    val old = new File(dir, "seg-q000002-0000.warc.gz")
    assert(old.setLastModified(old.lastModified() - 10000000L))
    val now = System.currentTimeMillis()
    val aged = SegmentMaintenance.retainByAge(dir, ".warc.gz", maxAgeMillis = 5000000L, now)
    assert(aged == Seq("seg-q000002-0000.warc.gz"))
    assert(SegmentMaintenance.segments(dir, ".warc.gz").size == 2)
  }

  test("tailing reader survives a compaction: no loss, folded records re-deliver once") {
    val dir = tempDir("maint-tail")
    writeWarcEpochs(dir, epochs = 4, perEpoch = 3)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = spark.readStream.format("graft-warc").option("path", dir).load()
      .writeStream
      .option("checkpointLocation", tempDir("maint-tail-ckpt"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.select("target_uri").collect().foreach(r => got.add(r.getString(0)))
        ()
      }.start()
    try {
      q.processAllAvailable()
      assert(got.size == 12, "tail consumed the pre-compaction history")
      // compact while the stream is live: folded files vanish FULLY
      // CONSUMED (routine rotation), the compacted file is NEW data —
      // the documented at-least-once re-read
      assert(SegmentMaintenance.compactSegments(dir, ".warc.gz", keepRecent = 1).isDefined)
      GraftWarc.writeGz(dir, "seg-q000099-0000.warc.gz",
        Seq((Seq("WARC-Type" -> "resource", "WARC-Target-URI" -> "u://fresh"), "f".getBytes)))
      q.processAllAvailable()
      val all = { import scala.jdk.CollectionConverters._; got.iterator().asScala.toSeq }
      assert(all.contains("u://fresh"), "tail keeps consuming after the fold")
      // the 9 folded records (epochs 0-2) re-delivered exactly once each
      val counts = all.groupBy(identity).view.mapValues(_.size).toMap
      (0 until 3).foreach { e =>
        (0 until 3).foreach { i =>
          assert(counts(s"https://ex.com/$e/$i") == 2,
            s"folded record $e/$i must re-deliver exactly once")
        }
      }
      (0 until 3).foreach { i =>
        assert(counts(s"https://ex.com/3/$i") == 1, "kept-segment records never re-deliver")
      }
    } finally q.stop()
  }

  test("takedown purge rewrites only affected segments; survivors byte-identical") {
    val dir = tempDir("maint-purge")
    writeWarcEpochs(dir, epochs = 3, perEpoch = 4)
    val untouched = new File(dir, "seg-q000001-0000.warc.gz")
    val untouchedBytes = java.nio.file.Files.readAllBytes(untouched.toPath)
    // takedowns live in epochs 0 and 2 only
    val removed = SegmentMaintenance.purgeWarcRecords(
      spark, dir, Seq("https://ex.com/0/1", "https://ex.com/2/3"))
    assert(removed == 2L)
    val rows = readRows(dir)
    assert(rows.size == 10)
    assert(!rows.exists(_._1 == "https://ex.com/0/1"))
    assert(!rows.exists(_._1 == "https://ex.com/2/3"))
    assert(rows.contains(("https://ex.com/0/0", "body 0 0")), "neighbors survive verbatim")
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(untouched.toPath), untouchedBytes),
      "a segment without takedowns must not be rewritten")
    // idempotent: purging the same uris again removes nothing
    assert(SegmentMaintenance.purgeWarcRecords(
      spark, dir, Seq("https://ex.com/0/1", "https://ex.com/2/3")) == 0L)
  }

  test("purge steps over a corrupt gz member and still removes takedowns AFTER it") {
    val dir = tempDir("maint-purge3")
    GraftWarc.writeGz(dir, "seg-q000000-0000.warc.gz", Seq(
      (Seq("WARC-Type" -> "resource", "WARC-Target-URI" -> "u://keep"), "k".getBytes),
      (Seq("WARC-Type" -> "resource", "WARC-Target-URI" -> "u://corrupt"), "c".getBytes),
      (Seq("WARC-Type" -> "resource", "WARC-Target-URI" -> "u://drop"), "d".getBytes)))
    val f = new File(dir, "seg-q000000-0000.warc.gz")
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    // corrupt the SECOND member's CRC (framing intact — MemberCorrupt, the
    // steppable kind): flip a byte 8 before the third member's magic
    val m1 = GraftWarc.gzipMemberSize(bytes, 0, bytes.length).toInt
    val m2 = GraftWarc.gzipMemberSize(bytes, m1, bytes.length - m1).toInt
    bytes(m1 + m2 - 8) = (bytes(m1 + m2 - 8) ^ 0xff).toByte
    java.nio.file.Files.write(f.toPath, bytes)
    // the takedown record sits AFTER the corrupt member — a purge that
    // stopped at the corruption would silently leave it readable
    val removed = SegmentMaintenance.purgeOneWarcFile(f, Set("u://drop"), 1L << 30)
    assert(removed == 1L, "the record after the corrupt member must still purge")
    val rows = readRows(dir)
    assert(rows == Set(("u://keep", "k")),
      s"keep survives, corrupt member skipped by the reader, takedown gone: $rows")
  }

  test("retention and folding order batch-tagged (uuid) segments by arrival, not name") {
    val dir = tempDir("maint-batch-order")
    // batch tags are seg-b<uuid> — random names; write three with strictly
    // increasing mtimes in a SHUFFLED name order
    val names = Seq("seg-bzz9-0000.warc.gz", "seg-baa1-0000.warc.gz", "seg-bmm5-0000.warc.gz")
    names.zipWithIndex.foreach { case (n, i) =>
      GraftWarc.writeGz(dir, n, Seq(
        (Seq("WARC-Type" -> "resource", "WARC-Target-URI" -> s"u://$i"), s"v$i".getBytes)))
      val f = new File(dir, n)
      assert(f.setLastModified(1700000000000L + i * 60000L))
    }
    // keep=1 must keep the newest ARRIVAL (seg-bmm5), not the largest name
    val dropped = SegmentMaintenance.retainByCount(dir, ".warc.gz", keep = 1)
    assert(dropped.toSet == Set("seg-bzz9-0000.warc.gz", "seg-baa1-0000.warc.gz"),
      s"oldest arrivals expire first regardless of uuid names: $dropped")
    assert(SegmentMaintenance.segments(dir, ".warc.gz").map(_.getName) ==
      Seq("seg-bmm5-0000.warc.gz"))
    // compacted history classes FIRST even though its mtime is newest
    (3 to 5).foreach { i =>
      val n = f"seg-b$i%03d-0000.warc.gz"
      GraftWarc.writeGz(dir, n, Seq(
        (Seq("WARC-Type" -> "resource", "WARC-Target-URI" -> s"u://$i"), s"v$i".getBytes)))
      assert(new File(dir, n).setLastModified(1700000000000L + i * 60000L))
    }
    assert(SegmentMaintenance.compactSegments(dir, ".warc.gz", keepRecent = 1,
      minSegments = 2).isDefined)
    val order = SegmentMaintenance.segments(dir, ".warc.gz").map(_.getName)
    assert(order.head.startsWith("seg-compact-") && order.size == 2,
      s"history before tail: $order")
  }

  test("purge keeps surviving members verbatim inside a rewritten multi-record segment") {
    val dir = tempDir("maint-purge2")
    // one gz file, three single-record members: purge the middle one and
    // the outer members' COMPRESSED bytes must survive byte-identically
    GraftWarc.writeGz(dir, "seg-q000000-0000.warc.gz", Seq(
      (Seq("WARC-Type" -> "resource", "WARC-Target-URI" -> "u://keep1"), "k1".getBytes),
      (Seq("WARC-Type" -> "resource", "WARC-Target-URI" -> "u://drop"), "d".getBytes),
      (Seq("WARC-Type" -> "resource", "WARC-Target-URI" -> "u://keep2"), "k2".getBytes)))
    val f = new File(dir, "seg-q000000-0000.warc.gz")
    val before = java.nio.file.Files.readAllBytes(f.toPath)
    // member boundaries before the purge
    val m1 = GraftWarc.gzipMemberSize(before, 0, before.length).toInt
    val m2 = GraftWarc.gzipMemberSize(before, m1, before.length - m1).toInt
    val removed = SegmentMaintenance.purgeOneWarcFile(f, Set("u://drop"), 1L << 30)
    assert(removed == 1L)
    val after = java.nio.file.Files.readAllBytes(f.toPath)
    assert(after.length == before.length - m2)
    assert(java.util.Arrays.equals(after.take(m1), before.take(m1)),
      "first member verbatim")
    assert(java.util.Arrays.equals(after.drop(m1), before.drop(m1 + m2)),
      "third member verbatim, shifted into place")
  }

  test("quarantine: a takedown inside a corrupt member leaves zero readable and zero persisted copies") {
    val dir = tempDir("maint-purge4")
    GraftWarc.writeGz(dir, "seg-q000000-0000.warc.gz", Seq(
      (Seq("WARC-Type" -> "resource", "WARC-Target-URI" -> "u://keep"), "k".getBytes),
      (Seq("WARC-Type" -> "resource", "WARC-Target-URI" -> "u://secret"),
        "SECRET-PAYLOAD".getBytes),
      (Seq("WARC-Type" -> "resource", "WARC-Target-URI" -> "u://keep2"), "k2".getBytes)))
    val f = new File(dir, "seg-q000000-0000.warc.gz")
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    val m1 = GraftWarc.gzipMemberSize(bytes, 0, bytes.length).toInt
    val m2 = GraftWarc.gzipMemberSize(bytes, m1, bytes.length - m1).toInt
    // corrupt the secret member's CRC: framing intact (MemberCorrupt), the
    // content unreachable to every reader — and INVISIBLE to the header
    // scan, so only the quarantine walk can honor the takedown
    bytes(m1 + m2 - 8) = (bytes(m1 + m2 - 8) ^ 0xff).toByte
    java.nio.file.Files.write(f.toPath, bytes)
    val removed = SegmentMaintenance.purgeWarcRecords(spark, dir, Seq("u://secret"))
    assert(removed == 0L, "nothing READABLE was removed — the copy was corrupt")
    val after = java.nio.file.Files.readAllBytes(f.toPath)
    assert(after.length == bytes.length - m2,
      "the corrupt member's bytes must NOT outlive the purge")
    assert(java.util.Arrays.equals(after.take(m1), bytes.take(m1)),
      "first member verbatim")
    assert(java.util.Arrays.equals(after.drop(m1), bytes.drop(m1 + m2)),
      "third member verbatim, shifted into place")
    assert(readRows(dir) == Set(("u://keep", "k"), ("u://keep2", "k2")))
    // quarantine OFF preserves the r19 step-over contract: corrupt bytes
    // persist until compaction/retention (the caller's explicit choice)
    val dir2 = tempDir("maint-purge5")
    java.nio.file.Files.write(new File(dir2, "seg-q000000-0000.warc.gz").toPath, bytes)
    assert(SegmentMaintenance.purgeWarcRecords(
      spark, dir2, Seq("u://secret"), quarantineCorrupt = false) == 0L)
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(new File(dir2, "seg-q000000-0000.warc.gz").toPath),
      bytes), "with quarantine off an unaffected file is untouched")
  }

  test("compactSegments sweeps a stale fold temp; a purge temp survives the sweep") {
    val dir = tempDir("maint-sweep")
    writeWarcEpochs(dir, epochs = 5, perEpoch = 2)
    val staleFold = new File(dir, ".seg-compact-0000-dead.warc.gz.xyz.inprogress")
    val purgeTemp = new File(dir, ".seg-q000001-0000.warc.gz.abc.inprogress")
    java.nio.file.Files.write(staleFold.toPath, "junk".getBytes)
    java.nio.file.Files.write(purgeTemp.toPath, "busy".getBytes)
    assert(SegmentMaintenance.compactSegments(dir, ".warc.gz").isDefined)
    assert(!staleFold.exists, "crashed fold temp swept")
    assert(purgeTemp.exists, "a concurrent purge's temp is not ours to sweep")
  }
}
