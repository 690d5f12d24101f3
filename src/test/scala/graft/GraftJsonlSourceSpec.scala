package graft

import java.io.{File, FileOutputStream}
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.jsonl.GraftJsonl

/** The `graft-jsonl` directory-tail DSv2 source driven through real
  * `spark.read`/`readStream` calls: complete-line snapshots, tail growth
  * across triggers, partial-line invisibility, byte-cap admission on line
  * boundaries, checkpoint resume, mid-stream file discovery, and
  * truncation/vanish handling under both failOnDataLoss settings.
  */
object GraftJsonlSourceSpec {
  // (batchId, file, pos, value) per delivered record
  val delivered = new ConcurrentLinkedQueue[(Long, String, Long, String)]()
  def reset(): Unit = delivered.clear()
}

class GraftJsonlSourceSpec extends SparkTestBase {

  private def freshDir(): String = tempDir("graft-jsonl-spec")

  private def startTail(dir: String, ckpt: String, extra: Map[String, String] = Map.empty) = {
    var r = spark.readStream.format("graft-jsonl").option("path", dir)
    extra.foreach { case (k, v) => r = r.option(k, v) }
    r.load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.collect().foreach(r => GraftJsonlSourceSpec.delivered.add(
          (id, r.getAs[String]("file"), r.getAs[Long]("pos"), r.getAs[String]("value"))))
        ()
      }.start()
  }

  test("batch read: complete lines only, stable (file, pos) ids, CRLF stripped") {
    val dir = freshDir()
    GraftJsonl.append(dir, "a.jsonl", Seq("""{"k":1}""", """{"k":2}"""))
    // a CRLF line and a PARTIAL (unterminated) trailing line
    val out = new FileOutputStream(new File(dir, "b.jsonl"), true)
    out.write("{\"k\":3}\r\n{\"k\":4".getBytes("UTF-8"))
    out.close()
    new File(dir, "ignored.txt").createNewFile() // wrong suffix: not a segment
    val rows = spark.read.format("graft-jsonl").option("path", dir).load()
      .orderBy("file", "pos").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(rows.toSeq == Seq(
      ("a.jsonl", 0L, """{"k":1}"""),
      ("a.jsonl", 8L, """{"k":2}"""),
      ("b.jsonl", 0L, """{"k":3}""")), // CR stripped, partial k:4 invisible
      s"got ${rows.toSeq}")
  }

  test("tailing: appends and new files arrive across triggers; resume is exact") {
    val dir = freshDir()
    val ckpt = tempDir("graft-jsonl-ckpt")
    GraftJsonl.append(dir, "s0.jsonl", (0 until 5).map(i => s"""{"i":$i}"""))
    GraftJsonlSourceSpec.reset()
    val q = startTail(dir, ckpt)
    try {
      q.processAllAvailable()
      assert(GraftJsonlSourceSpec.delivered.size == 5)
      // append to the existing file AND drop a brand-new file mid-stream
      GraftJsonl.append(dir, "s0.jsonl", Seq("""{"i":5}"""))
      GraftJsonl.append(dir, "s1.jsonl", Seq("""{"i":100}"""))
      q.processAllAvailable()
      val got = GraftJsonlSourceSpec.delivered.asScala.toVector
      assert(got.size == 7, s"append + new file must both arrive, got $got")
      assert(got.exists(r => r._2 == "s1.jsonl" && r._4 == """{"i":100}"""))
    } finally q.stop()

    // restart from checkpoint: only post-stop appends arrive
    GraftJsonl.append(dir, "s0.jsonl", Seq("""{"i":6}"""))
    GraftJsonlSourceSpec.reset()
    val q2 = startTail(dir, ckpt)
    try {
      q2.processAllAvailable()
      val got = GraftJsonlSourceSpec.delivered.asScala.toVector
      assert(got.map(_._4) == Vector("""{"i":6}"""),
        s"resume must deliver exactly the new lines, got $got")
    } finally q2.stop()
  }

  test("maxBytesPerTrigger: backlog drains over several line-boundary batches") {
    val dir = freshDir()
    // two files, 10 lines each, every line 10 bytes ('{"i":NNN}\n')
    (0 until 2).foreach(f =>
      GraftJsonl.append(dir, s"f$f.jsonl", (100 until 110).map(i => s"""{"i":$i}""")))
    GraftJsonlSourceSpec.reset()
    val q = startTail(dir, tempDir("graft-jsonl-cap"),
      Map("maxBytesPerTrigger" -> "40"))
    try {
      q.processAllAvailable()
      val got = GraftJsonlSourceSpec.delivered.asScala.toVector
      assert(got.size == 20, s"all 20 lines must arrive, got ${got.size}")
      val byBatch = got.groupBy(_._1).toSeq.sortBy(_._1)
      assert(byBatch.size >= 4,
        s"200 bytes under a 40-byte cap needs >= 5 batches, got ${byBatch.size}")
      // every record intact (no mid-line splits) and positions dense per file
      assert(got.forall(_._4.matches("""\{"i":1\d\d\}""")), s"torn line in $got")
      Seq("f0.jsonl", "f1.jsonl").foreach { f =>
        val poss = got.filter(_._2 == f).sortBy(_._1).map(_._3)
        assert(poss == (0 until 10).map(_ * 10L).toVector, s"$f positions: $poss")
      }
    } finally q.stop()
  }

  test("truncation and deletion: failOnDataLoss=true fails, =false resumes") {
    val dir = freshDir()
    val ckpt = tempDir("graft-jsonl-loss")
    GraftJsonl.append(dir, "t.jsonl", (0 until 4).map(i => s"""{"i":$i}"""))
    GraftJsonl.append(dir, "gone.jsonl", Seq("""{"i":9}"""))
    GraftJsonlSourceSpec.reset()
    val q = startTail(dir, ckpt)
    try { q.processAllAvailable(); assert(GraftJsonlSourceSpec.delivered.size == 5) }
    finally q.stop()

    // truncate t.jsonl below its checkpoint and delete gone.jsonl
    val ch = new java.io.FileOutputStream(new File(dir, "t.jsonl"), true).getChannel
    ch.truncate(10L); ch.close()
    assert(new File(dir, "gone.jsonl").delete())

    // strict mode: the restarted query dies with a data-loss error
    val qStrict = startTail(dir, ckpt)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      qStrict.processAllAvailable()
    }
    assert(e.getCause.getMessage.contains("data loss"), s"got: ${e.getCause.getMessage}")
    qStrict.stop()

    // permissive mode: drops the vanished file, waits out the truncation,
    // and delivers bytes re-appended past the checkpoint as new records
    GraftJsonlSourceSpec.reset()
    val qLoose = startTail(dir, ckpt, Map("failOnDataLoss" -> "false"))
    try {
      qLoose.processAllAvailable()
      assert(GraftJsonlSourceSpec.delivered.isEmpty,
        "nothing to read until the truncated file regrows")
      GraftJsonl.append(dir, "t.jsonl", (100 until 104).map(i => s"""{"i":$i}"""))
      qLoose.processAllAvailable()
      val got = GraftJsonlSourceSpec.delivered.asScala.toVector
      // the file regrew from byte 10; reading resumes at the checkpointed
      // byte 40, which lands mid-regrown-data — records from there on
      assert(got.nonEmpty && got.forall(_._2 == "t.jsonl"),
        s"regrown records must flow again, got $got")
    } finally qLoose.stop()
  }

  test("streaming sink lands immutable epoch segments; replay is effectively-once") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = freshDir()
    val ckpt = tempDir("graft-jsonl-sink-ckpt")
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    def mk() = in.toDF().selectExpr("""concat('{"id":', value, '}') AS value""")
      .writeStream.format("graft-jsonl").option("path", dir)
      .option("checkpointLocation", ckpt).start()

    var q = mk()
    in.addData(0L until 60L)
    q.processAllAvailable()
    in.addData(60L until 100L)
    q.processAllAvailable()
    q.stop()

    def readBack(): Seq[Long] = spark.read.format("graft-jsonl").option("path", dir).load()
      .selectExpr("CAST(get_json_object(value, '$.id') AS LONG)").as[Long].collect().sorted.toSeq
    assert(readBack() == (0L until 100L), s"sink round-trip lost or duplicated rows")
    // segments are per (epoch, partition), no stray temp files visible
    val segs = new File(dir).listFiles().map(_.getName).filter(_.endsWith(".jsonl"))
    assert(segs.forall(_.matches("seg-q[0-9a-f]{12}-\\d{6}-\\d{4}\\.jsonl")),
      s"unexpected names: ${segs.toSeq}")
    // one query tag only: the name is query-scoped but stable across the
    // restart below (derived from the checkpoint-stable query id)
    assert(segs.map(_.take(17)).distinct.length == 1, s"tag not stable: ${segs.toSeq}")

    // force an at-least-once replay: drop the LAST commit marker so the
    // restarted query re-executes that epoch with the SAME epoch id — the
    // segment must replace itself, not append a duplicate
    val commitsDir = new File(s"$ckpt/commits")
    val last = commitsDir.listFiles().map(_.getName).filter(_.forall(_.isDigit)).map(_.toInt).max
    assert(new File(commitsDir, last.toString).delete())
    new File(commitsDir, s".$last.crc").delete()
    q = mk()
    q.processAllAvailable()
    q.stop()
    assert(new File(commitsDir, last.toString).exists, "replay did not happen — test lost its bite")
    assert(readBack() == (0L until 100L),
      "replayed epoch duplicated or lost rows — segment naming is not idempotent")
  }

  test("two streaming queries share one directory without clobbering each other") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = freshDir()
    def mkProducer(in: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]) =
      in.toDF().selectExpr("""concat('{"id":', value, '}') AS value""")
        .writeStream.format("graft-jsonl").option("path", dir)
        .option("checkpointLocation", tempDir("graft-jsonl-mw"))
        .start()
    val inA = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val inB = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val qA = mkProducer(inA)
    val qB = mkProducer(inB)
    try {
      // both queries run the SAME epoch numbers — without query-scoped
      // segment tags, B's epoch N would rename over A's epoch N
      // (REPLACE_EXISTING) and each commit would sweep the other's temps
      (0 until 3).foreach { e =>
        inA.addData((e * 10L) until (e * 10L + 10L))
        inB.addData((100L + e * 10L) until (100L + e * 10L + 10L))
        qA.processAllAvailable(); qB.processAllAvailable()
      }
    } finally { qA.stop(); qB.stop() }
    val got = spark.read.format("graft-jsonl").option("path", dir).load()
      .selectExpr("CAST(get_json_object(value, '$.id') AS LONG)").as[Long].collect().sorted
    val expect = ((0L until 30L) ++ (100L until 130L)).sorted
    assert(got.toSeq == expect,
      s"concurrent writers lost rows: missing=${expect.toSet -- got.toSet}")
  }

  test("two batch appends to one directory accumulate (no segment-name collision)") {
    import spark.implicits._
    val dir = freshDir()
    def writeBatch(from: Long, until: Long): Unit =
      spark.range(from, until).selectExpr("""concat('{"id":', id, '}') AS value""")
        .repartition(2)
        .write.format("graft-jsonl").mode("append").option("path", dir).save()
    writeBatch(0L, 50L)
    writeBatch(50L, 80L) // same partition ids — must ADD segments, not rename over
    val got = spark.read.format("graft-jsonl").option("path", dir).load()
      .selectExpr("CAST(get_json_object(value, '$.id') AS LONG)").as[Long].collect().sorted
    assert(got.toSeq == (0L until 80L),
      s"second append overwrote the first write's segments (got ${got.length} rows)")
  }

  test("offset JSON round-trips hostile file names (quotes, backslashes, control chars)") {
    import graft.sources.FileTailOffset
    // every class the escaper handles: quote, backslash, literal \u prefix,
    // trailing backslash, newline/tab (legal Linux filename bytes that would
    // split Spark's line-oriented offset log), plus a plain name
    val names = Seq(
      "plain.jsonl", """he"llo.jsonl""", """back\slash.jsonl""",
      """tricky\"mix.jsonl""", """literalA.jsonl""", "trail\\",
      "new\nline.jsonl", "tab\there.jsonl", "ctl.jsonl")
    val pos = names.zipWithIndex.map { case (n, i) => n -> (i * 37L + 1) }.toMap
    val json = FileTailOffset(pos).json()
    assert(!json.exists(_ < 0x20), s"offset JSON must be single-line/control-free: $json")
    assert(FileTailOffset.fromJson(json).positions == pos,
      s"round-trip mangled the names: ${FileTailOffset.fromJson(json).positions} vs $pos")
  }

  test("property: offset JSON escape round-trips arbitrary names and positions") {
    import graft.sources.FileTailOffset
    val rnd = new scala.util.Random(42)
    (0 until 300).foreach { trial =>
      val names = (0 until 1 + rnd.nextInt(5)).map { _ =>
        val len = 1 + rnd.nextInt(24)
        (0 until len).map(_ => rnd.nextInt(0xFFFF).toChar).mkString // incl controls, ", \, surrogates
      }.distinct
      val m = names.map(_ -> math.abs(rnd.nextLong() % 1000000000000L)).toMap
      val json = FileTailOffset(m).json()
      assert(!json.exists(_ < 0x20), s"trial $trial: control char leaked into the offset line")
      val back = FileTailOffset.fromJson(json).positions
      assert(back == m, s"trial $trial: ${m.keys.map(_.getBytes("UTF-8").toSeq)} mangled")
    }
    // checkpoint compatibility: offsets written by the media's former
    // per-medium offset classes (graft-jsonl's and graft-warc's, the same
    // sorted `{"name":pos}` JSON) resume under the one class, and
    // re-serialize byte-identically
    val bs = "\\" // one backslash, spelled so no unicode escape reaches the lexer
    val committed = Seq(
      """{"a.jsonl":123,"b.jsonl":0}""" -> Map("a.jsonl" -> 123L, "b.jsonl" -> 0L),
      s"""{"he$bs"llo.jsonl":7,"new${bs}u000aline.jsonl":4096,"x$bs${bs}y.jsonl":1}""" ->
        Map("he\"llo.jsonl" -> 7L, "new\nline.jsonl" -> 4096L, "x\\y.jsonl" -> 1L),
      """{"crawl-00.warc.gz":1048576,"live.warc":812,"seg-q0123456789ab-000007-0002.warc.gz":9999999999}""" ->
        Map("crawl-00.warc.gz" -> 1048576L, "live.warc" -> 812L,
          "seg-q0123456789ab-000007-0002.warc.gz" -> 9999999999L),
      "{}" -> Map.empty[String, Long])
    committed.foreach { case (literal, positions) =>
      assert(FileTailOffset.fromJson(literal).positions == positions, s"$literal parsed differently")
      assert(FileTailOffset(positions).json() == literal, s"$literal re-serialized differently")
    }
  }

  test("batch-write abort deletes the failed job's committed segments") {
    import org.apache.spark.sql.connector.write.LogicalWriteInfo
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val dir = freshDir()
    GraftJsonl.append(dir, "keep.jsonl", Seq("""{"id":0}""")) // pre-existing data
    val info = new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap =
        new CaseInsensitiveStringMap(java.util.Map.of("path", dir))
      override def queryId(): String = "test-query"
      override def schema(): org.apache.spark.sql.types.StructType =
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.StringType)))
    }
    val batchWrite = new graft.sources.jsonl.GraftJsonlWriteBuilder(info).build().toBatch
    val factory = batchWrite.createBatchWriterFactory(null)
    def writeTask(pid: Int, taskId: Long) = {
      val w = factory.createWriter(pid, taskId)
      w.write(org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"""{"id":$pid}""")))
      w.commit()
    }
    def names() = new File(dir).listFiles().map(_.getName).toSet
    // task commit lands ONLY the temp: no final name may appear before the
    // DRIVER commits the job (a task-side rename would race job abort — the
    // duplicate-on-retry hole this protocol closes)
    val msg0 = writeTask(0, 100L)
    assert(!names().exists(_.startsWith("seg-b")),
      s"no segment may be visible before the driver's job commit: ${names()}")
    // the job aborts (task 1 failed): temps swept, nothing visible, the
    // pre-existing data untouched — a retry under a new tag cannot duplicate
    batchWrite.abort(Array(msg0))
    assert(!names().exists(n => n.startsWith("seg-b") || n.contains("inprogress")),
      s"abort left write residue: ${names()}")
    assert(names().contains("keep.jsonl"))
    // and the success path: driver commit renames every task's temp
    val msg0b = writeTask(0, 200L)
    val msg1b = writeTask(1, 201L)
    batchWrite.commit(Array(msg0b, msg1b))
    val after = names()
    assert(after.count(_.startsWith("seg-b")) == 2, s"driver commit must land both: $after")
    assert(!after.exists(_.contains("inprogress")), s"temps must be swept at commit: $after")
  }

  test("file topic: sink segments are discovered live by a tailing source query") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = freshDir()
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val producer = in.toDF().selectExpr("""concat('{"id":', value, '}') AS value""")
      .writeStream.format("graft-jsonl").option("path", dir)
      .option("checkpointLocation", tempDir("graft-jsonl-p"))
      .start()
    GraftJsonlSourceSpec.reset()
    val consumer = startTail(dir, tempDir("graft-jsonl-c"))
    try {
      in.addData(0L until 30L)
      producer.processAllAvailable()
      consumer.processAllAvailable()
      in.addData(30L until 50L)
      producer.processAllAvailable()
      consumer.processAllAvailable()
      val got = GraftJsonlSourceSpec.delivered.asScala
        .map(r => r._4.replaceAll("[^0-9]", "").toLong).toVector.sorted
      assert(got == (0L until 50L).toVector,
        s"tailing consumer must see every produced record exactly once here, got ${got.size}")
    } finally { producer.stop(); consumer.stop() }
  }

  test("rotation of a fully-consumed segment is not data loss; its offset entry retires") {
    val dir = freshDir()
    val ckpt = tempDir("graft-jsonl-rotate")
    GraftJsonl.append(dir, "old.jsonl", Seq("""{"i":0}""", """{"i":1}"""))
    GraftJsonl.append(dir, "live.jsonl", Seq("""{"i":2}"""))
    GraftJsonlSourceSpec.reset()
    val q = startTail(dir, ckpt) // strict failOnDataLoss (the default)
    try { q.processAllAvailable(); assert(GraftJsonlSourceSpec.delivered.size == 3) }
    finally q.stop()

    // routine log rotation: the fully-consumed segment is deleted externally
    assert(new File(dir, "old.jsonl").delete())

    // STRICT mode restart must not fail — zero unread bytes were lost — and
    // the retired entry must leave the offset map (bounded by active files)
    GraftJsonlSourceSpec.reset()
    val q2 = startTail(dir, ckpt)
    try {
      q2.processAllAvailable()
      GraftJsonl.append(dir, "live.jsonl", Seq("""{"i":3}"""))
      q2.processAllAvailable()
      val got = GraftJsonlSourceSpec.delivered.asScala.toVector
      assert(got.map(_._4) == Vector("""{"i":3}"""), s"exactly the new line, got $got")
      val offsetsDir = new File(s"$ckpt/offsets")
      val latest = offsetsDir.listFiles().map(_.getName).filter(_.forall(_.isDigit))
        .map(_.toInt).max
      val offsetJson = new String(
        java.nio.file.Files.readAllBytes(new File(offsetsDir, latest.toString).toPath), "UTF-8")
      assert(!offsetJson.contains("old.jsonl"),
        s"retired segment must leave the checkpointed offset map: $offsetJson")
      assert(offsetJson.contains("live.jsonl"))
    } finally q2.stop()
  }

  test("retireConsumed=false carries a vanished consumed entry silently (still no failure)") {
    val dir = freshDir()
    val ckpt = tempDir("graft-jsonl-carry")
    GraftJsonl.append(dir, "old.jsonl", Seq("""{"i":0}"""))
    GraftJsonlSourceSpec.reset()
    val q = startTail(dir, ckpt, Map("retireConsumed" -> "false"))
    try { q.processAllAvailable(); assert(GraftJsonlSourceSpec.delivered.size == 1) }
    finally q.stop()
    assert(new File(dir, "old.jsonl").delete())
    GraftJsonlSourceSpec.reset()
    val q2 = startTail(dir, ckpt, Map("retireConsumed" -> "false"))
    try {
      GraftJsonl.append(dir, "live.jsonl", Seq("""{"i":1}"""))
      q2.processAllAvailable() // must not throw: zero unread bytes vanished
      assert(GraftJsonlSourceSpec.delivered.asScala.map(_._4).toVector == Vector("""{"i":1}"""))
      val offsetsDir = new File(s"$ckpt/offsets")
      val latest = offsetsDir.listFiles().map(_.getName).filter(_.forall(_.isDigit))
        .map(_.toInt).max
      val offsetJson = new String(
        java.nio.file.Files.readAllBytes(new File(offsetsDir, latest.toString).toPath), "UTF-8")
      assert(offsetJson.contains("old.jsonl"), s"opt-out must carry the entry: $offsetJson")
    } finally q2.stop()
  }

  test("retentionMs: the source itself retires consumed segments; offsets stay bounded") {
    val dir = freshDir()
    val ckpt = tempDir("graft-jsonl-retention")
    (0 until 4).foreach(i => GraftJsonl.append(dir, s"r$i.jsonl", Seq(s"""{"i":$i}""")))
    GraftJsonlSourceSpec.reset()
    val q = startTail(dir, ckpt, Map("retentionMs" -> "0")) // strict + immediate retirement
    try {
      q.processAllAvailable()
      assert(GraftJsonlSourceSpec.delivered.size == 4)
      // retirement runs at the trigger AFTER consumption commits; produce a
      // fresh segment to drive triggers and poll for the deletions
      GraftJsonl.append(dir, "fresh.jsonl", Seq("""{"i":100}"""))
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 20000
      def consumedGone() = (0 until 4).forall(i => !new File(dir, s"r$i.jsonl").isFile)
      while (!consumedGone() && System.currentTimeMillis() < deadline) {
        GraftJsonl.append(dir, "fresh.jsonl", Seq("""{"i":101}"""))
        q.processAllAvailable()
      }
      assert(consumedGone(), s"retention must delete consumed segments, dir has " +
        s"${new File(dir).listFiles().map(_.getName).toSeq}")
      assert(q.exception.isEmpty, s"retirement must not trip strict mode: ${q.exception}")
    } finally q.stop()

    // restart from the (retired) checkpoint: no failure, no duplicates
    GraftJsonlSourceSpec.reset()
    val q2 = startTail(dir, ckpt, Map("retentionMs" -> "0"))
    try {
      GraftJsonl.append(dir, "after.jsonl", Seq("""{"i":200}"""))
      q2.processAllAvailable()
      val got = GraftJsonlSourceSpec.delivered.asScala.map(_._4).toVector
      assert(got == Vector("""{"i":200}"""),
        s"restart must deliver only post-restart data (no replay of retired segments): $got")
    } finally q2.stop()
  }

  test("retentionProperty: a live config edit tightens the horizon at the next trigger, no restart") {
    import graft.config._
    val dir = freshDir()
    val ckpt = tempDir("graft-jsonl-ret-prop")
    (0 until 3).foreach(i => GraftJsonl.append(dir, s"p$i.jsonl", Seq(s"""{"i":$i}""")))
    val conf = tempFile("graft-ret-prop", ".conf")
    java.nio.file.Files.writeString(conf, "# no retention override yet\n")
    val supplier = new FilePropertySupplier(conf, pollMillis = 25L)
    val dyn = new DynamicProperty(GraftJsonl.RetentionMsProperty,
      GraftJsonl.RetentionMsProperty.default)
    val unbindSup = supplier.bind(dyn)
    val unbind = GraftJsonl.bindRetentionProperty("spec-ret", dyn)
    GraftJsonlSourceSpec.reset()
    val q = startTail(dir, ckpt, Map("retentionProperty" -> "spec-ret"))
    try {
      q.processAllAvailable()
      assert(GraftJsonlSourceSpec.delivered.size == 3)
      // property at its -1 default: retention stays OFF
      GraftJsonl.append(dir, "fresh.jsonl", Seq("""{"i":9}"""))
      q.processAllAvailable()
      assert((0 until 3).forall(i => new File(dir, s"p$i.jsonl").isFile),
        "no override bound: consumed segments must survive")
      // the operator edits the live config file — horizon 0 must take
      // effect at the NEXT trigger boundary, without restarting the query
      java.nio.file.Files.writeString(conf, "graft.jsonl.retention.ms=0\n")
      val d0 = System.currentTimeMillis() + 5000
      while (dyn.value != 0L && System.currentTimeMillis() < d0) Thread.sleep(20)
      assert(dyn.value == 0L, "config edit did not reach the bound property")
      val deadline = System.currentTimeMillis() + 20000
      def gone() = (0 until 3).forall(i => !new File(dir, s"p$i.jsonl").isFile)
      var n = 100
      while (!gone() && System.currentTimeMillis() < deadline) {
        GraftJsonl.append(dir, "fresh.jsonl", Seq(s"""{"i":$n}""")); n += 1
        q.processAllAvailable()
      }
      assert(gone(), s"live-tightened retention must delete consumed segments, dir has " +
        s"${new File(dir).listFiles().map(_.getName).toSeq}")
      assert(q.exception.isEmpty, s"live retirement must not trip strict mode: ${q.exception}")
    } finally { q.stop(); unbind(); unbindSup(); supplier.close() }
  }

  test("writer rejects a value ending in '\\r' (would not round-trip the CRLF-tolerant reader)") {
    import spark.implicits._
    val dir = freshDir()
    val e = intercept[Exception] {
      Seq("fine", "broken\r").toDF("value")
        .write.format("graft-jsonl").mode("append").option("path", dir).save()
    }
    def rootMsg(t: Throwable): String =
      Option(t.getCause).map(rootMsg).getOrElse(t.getMessage)
    assert((e.getMessage + rootMsg(e)).contains("\\r"), s"got: ${e.getMessage}")
    // the producer util enforces the same contract
    val e2 = intercept[IllegalArgumentException] {
      GraftJsonl.append(dir, "x.jsonl", Seq("also broken\r"))
    }
    assert(e2.getMessage.contains("\\r"))
  }

  test("batch byte-range splits: a large file reads on many partitions, rows identical") {
    val dir = freshDir()
    // varying line lengths so split boundaries land mid-line, exactly on
    // line starts, and inside one line LONGER than the split size (it must
    // be emitted once, by the split owning its first byte, and skipped
    // through by the rest); plus a CRLF line and an incomplete tail
    val lines = (0 until 2000).map { i =>
      if (i == 700) s"""{"i":$i,"pad":"${"x" * 5000}""""
      else s"""{"i":$i,"pad":"${"y" * (i % 37)}""""
    }
    GraftJsonl.append(dir, "big.jsonl", lines)
    val out = new FileOutputStream(new File(dir, "big.jsonl"), true)
    out.write("{\"crlf\":1}\r\n{\"partial\":".getBytes("UTF-8"))
    out.close()

    def readWith(opts: Map[String, String]) = {
      var r = spark.read.format("graft-jsonl").option("path", dir)
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load()
    }
    val whole = readWith(Map.empty)
    val split = readWith(Map("maxSplitBytes" -> "1000"))
    assert(whole.rdd.getNumPartitions == 1)
    assert(split.rdd.getNumPartitions > 20,
      s"a ~60 KB file under a 1000-byte split must plan many partitions, " +
        s"got ${split.rdd.getNumPartitions}")
    val a = whole.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).sortBy(_._2)
    val b = split.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).sortBy(_._2)
    assert(a.length == 2001, s"2000 lines + CRLF, partial invisible: ${a.length}")
    assert(a.toSeq == b.toSeq, "split read must produce byte-identical rows")
  }

  test("property: byte-range splits reproduce the whole-file read for arbitrary content and split size") {
    // drive the partition reader DIRECTLY (no Spark job) over randomized
    // content — empty lines, CRLF lines, multi-byte UTF-8, lines longer
    // than the split, a partial tail — at a randomized split size, and
    // require byte-identical (pos, value) rows vs the aligned whole-file
    // read. 60 trials under a fixed seed: the boundary rules (one-byte-back
    // probe, first-byte ownership, soft until) have no untested corner left
    import graft.sources.jsonl.{GraftJsonlInputPartition, GraftJsonlReaderFactory}
    val rnd = new scala.util.Random(20260814L)
    val factory = new GraftJsonlReaderFactory
    def readAll(parts: Seq[GraftJsonlInputPartition]): Seq[(Long, String)] =
      parts.flatMap { p =>
        val r = factory.createReader(p)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
        while (r.next()) {
          val row = r.get()
          out += ((row.getLong(1), row.getUTF8String(2).toString))
        }
        r.close()
        out
      }
    (0 until 60).foreach { trial =>
      val dir = freshDir()
      val nLines = rnd.nextInt(40)
      val lines = (0 until nLines).map { _ =>
        val len = rnd.nextInt(60)
        val body = (0 until len).map { _ =>
          rnd.nextInt(4) match {
            case 0 => ('a' + rnd.nextInt(26)).toChar.toString
            case 1 => rnd.nextInt(10).toString
            case 2 => "é" // 2-byte UTF-8: continuation bytes near boundaries
            case _ => " "
          }
        }.mkString
        if (rnd.nextInt(5) == 0 && body.nonEmpty) body + "\r" else body
      }
      val content = lines.map(_ + "\n").mkString +
        (if (rnd.nextBoolean()) "partial tail with no newline" else "")
      val f = new File(dir, "p.jsonl")
      val out = new FileOutputStream(f)
      out.write(content.getBytes("UTF-8"))
      out.close()
      val complete = GraftJsonl.completeLength(f)
      // the line-level model: (start byte pos, CR-stripped value)
      var pos = 0L
      val expected = lines.map { l =>
        val start = pos
        pos += l.getBytes("UTF-8").length + 1
        (start, l.stripSuffix("\r"))
      }
      val whole = readAll(Seq(GraftJsonlInputPartition(f.getPath, "p.jsonl", 0L, complete)))
      assert(whole == expected, s"trial $trial: aligned whole read diverged from the model")
      val split = math.max(1L, rnd.nextLong(complete + 5L))
      val parts =
        if (complete <= split)
          Seq(GraftJsonlInputPartition(f.getPath, "p.jsonl", 0L, complete))
        else {
          val n = ((complete + split - 1) / split).toInt
          (0 until n).map(i => GraftJsonlInputPartition(f.getPath, "p.jsonl",
            i.toLong * split, math.min((i + 1).toLong * split, complete), aligned = false))
        }
      val got = readAll(parts).sortBy(_._1)
      assert(got == expected,
        s"trial $trial (split=$split, complete=$complete, lines=$nLines): " +
          s"missing=${(expected.toSet diff got.toSet).take(3)} " +
          s"extra=${(got.toSet diff expected.toSet).take(3)}")
    }
  }

  test("strict mode reports a vanished file whose OBSERVED backlog was never scheduled") {
    // admission cap defers [10, 20) of a 20-byte file; the file then
    // vanishes. Zero unread SCHEDULED bytes — but the probe cache witnessed
    // 10 more complete bytes, so within the run strict mode must report the
    // loss instead of silently retiring the entry
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.sources.FileTailOffset
    val dir = freshDir()
    GraftJsonl.append(dir, "gone.jsonl", Seq("""{"a":1}""", """{"a":2}""")) // 2 x 8 bytes
    val stream = GraftJsonl.stream(dir, ".jsonl",
      startAtLatest = false, failOnDataLoss = true,
      maxBytesPerTrigger = Some(8L))
    val e1 = stream.latestOffset(FileTailOffset(Map.empty), ReadLimit.allAvailable())
      .asInstanceOf[FileTailOffset]
    assert(e1.positions("gone.jsonl") == 8L, s"cap must defer the second line: $e1")
    assert(new File(dir, "gone.jsonl").delete())
    val ex = intercept[IllegalStateException] {
      stream.latestOffset(e1, ReadLimit.allAvailable())
    }
    assert(ex.getMessage.contains("observed-but-unconsumed"), ex.getMessage)
    // the benign twin: fully consumed at vanish time retires silently
    val dir2 = freshDir()
    GraftJsonl.append(dir2, "done.jsonl", Seq("""{"a":1}"""))
    val s2 = GraftJsonl.stream(dir2, ".jsonl",
      startAtLatest = false, failOnDataLoss = true, maxBytesPerTrigger = None)
    val o1 = s2.latestOffset(FileTailOffset(Map.empty), ReadLimit.allAvailable())
      .asInstanceOf[FileTailOffset]
    assert(new File(dir2, "done.jsonl").delete())
    val o2 = s2.latestOffset(o1, ReadLimit.allAvailable()).asInstanceOf[FileTailOffset]
    assert(o2.positions.isEmpty, s"fully-consumed vanish must retire, got $o2")
  }

  test("truncation AFTER planning: strict reader reports it, permissive keeps intact lines") {
    import graft.sources.jsonl.{GraftJsonlInputPartition, GraftJsonlReaderFactory}
    val dir = freshDir()
    val f = new File(dir, "t.jsonl")
    GraftJsonl.append(dir, "t.jsonl", (0 until 10).map(i => s"""{"i":$i}""")) // 10 x 8 bytes
    def truncateTo(n: Long): Unit = {
      val ch = new java.io.FileOutputStream(f, true).getChannel
      ch.truncate(n); ch.close()
    }
    val factory = new GraftJsonlReaderFactory
    def readPart(p: GraftJsonlInputPartition): Seq[String] = {
      val r = factory.createReader(p)
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      try { while (r.next()) out += r.get().getUTF8String(2).toString } finally r.close()
      out.toSeq
    }
    // the batch planned [0, 80); the file then shrank to 36 bytes (mid-line)
    truncateTo(36L)
    val ex = intercept[IllegalStateException] {
      readPart(GraftJsonlInputPartition(f.getPath, "t.jsonl", 0L, 80L, failOnDataLoss = true))
    }
    assert(ex.getMessage.contains("truncated below planned byte 80"), ex.getMessage)
    // permissive: the 4 intact lines below the cut, the torn 5th dropped
    val got = readPart(GraftJsonlInputPartition(f.getPath, "t.jsonl", 0L, 80L,
      failOnDataLoss = false))
    assert(got == (0 until 4).map(i => s"""{"i":$i}"""), s"got $got")
  }

  test("retention never deletes a truncated-below-checkpoint file being held for regrow") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.sources.FileTailOffset
    val dir = freshDir()
    GraftJsonl.append(dir, "h.jsonl", (0 until 5).map(i => s"""{"i":$i}""")) // 40 bytes
    val stream = GraftJsonl.stream(dir, ".jsonl",
      startAtLatest = false, failOnDataLoss = false, maxBytesPerTrigger = None,
      retentionMs = Some(0L))
    val o1 = stream.latestOffset(FileTailOffset(Map.empty), ReadLimit.allAvailable())
      .asInstanceOf[FileTailOffset]
    assert(o1.positions("h.jsonl") == 40L)
    // copy-truncate rotation rewrote the file shorter: its current content
    // was never delivered — permissive mode holds at the checkpoint, so
    // retirement (startOf == complete is false) must NOT delete it
    val ch = new java.io.FileOutputStream(new File(dir, "h.jsonl"), true).getChannel
    ch.truncate(16L); ch.close()
    val o2 = stream.latestOffset(o1, ReadLimit.allAvailable()).asInstanceOf[FileTailOffset]
    assert(new File(dir, "h.jsonl").isFile, "retention deleted a held truncated file")
    assert(o2.positions("h.jsonl") == 40L, s"checkpoint must hold: $o2")
  }

  test("retireConsumed=false does not resurrect a retention-retired entry") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.sources.FileTailOffset
    val dir = freshDir()
    GraftJsonl.append(dir, "r.jsonl", Seq("""{"i":0}"""))
    val stream = GraftJsonl.stream(dir, ".jsonl",
      startAtLatest = false, failOnDataLoss = true, maxBytesPerTrigger = None,
      retireConsumed = false, retentionMs = Some(0L))
    val o1 = stream.latestOffset(FileTailOffset(Map.empty), ReadLimit.allAvailable())
      .asInstanceOf[FileTailOffset]
    assert(o1.positions("r.jsonl") == 8L)
    val o2 = stream.latestOffset(o1, ReadLimit.allAvailable()).asInstanceOf[FileTailOffset]
    assert(!new File(dir, "r.jsonl").isFile, "retention must have deleted the consumed file")
    assert(!o2.positions.contains("r.jsonl"),
      s"a retired name must leave the offset even with retireConsumed=false: $o2")
    // and it stays gone on the next trigger (no vanished-carry resurrection)
    val o3 = stream.latestOffset(o2, ReadLimit.allAvailable()).asInstanceOf[FileTailOffset]
    assert(!o3.positions.contains("r.jsonl"), s"resurrected: $o3")
  }

  test("splitRange refuses a partition count beyond Int range instead of planning zero") {
    import graft.sources.jsonl.GraftJsonl
    val parts = GraftJsonl.splitRange("/p", "p", 0L, 10L * (1L << 40), 1L << 30, true)
    assert(parts.length == 10240) // 10 TiB at 1 GiB splits: fine, Long-safe
    val e = intercept[IllegalArgumentException] {
      GraftJsonl.splitRange("/p", "p", 0L, 10L * (1L << 40), 4096L, true)
    }
    assert(e.getMessage.contains("raise maxSplitBytes"), e.getMessage)
  }

  test("streaming catch-up splits a deep backlog slice into byte-range partitions") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.sources.FileTailOffset
    import graft.sources.jsonl.GraftJsonlInputPartition
    val dir = freshDir()
    val lines = (0 until 500).map(i => s"""{"i":$i,"pad":"${"z" * (i % 23)}"}""")
    GraftJsonl.append(dir, "deep.jsonl", lines)
    // unit-level planning check: a first trigger over the whole backlog with
    // no admission cap must parallelize the slice
    val stream = GraftJsonl.stream(dir, ".jsonl",
      startAtLatest = false, failOnDataLoss = true, maxBytesPerTrigger = None,
      maxSplitBytes = Some(2048L))
    val start = FileTailOffset(Map.empty)
    val end = stream.latestOffset(start, ReadLimit.allAvailable())
    val parts = stream.planInputPartitions(start, end)
      .map(_.asInstanceOf[GraftJsonlInputPartition])
    assert(parts.length > 4, s"a ~15 KB slice under a 2 KB split must plan many partitions, " +
      s"got ${parts.length}")
    assert(parts.forall(p => p.until - p.from <= 2048L))
    // end-to-end: the split read delivers every record exactly once, and a
    // subsequent append resumes exactly
    GraftJsonlSourceSpec.reset()
    val q = startTail(dir, tempDir("graft-jsonl-split-ckpt"),
      Map("maxSplitBytes" -> "2048"))
    try {
      q.processAllAvailable()
      val got = GraftJsonlSourceSpec.delivered.asScala.toVector
      assert(got.size == 500, s"split catch-up lost or duplicated rows: ${got.size}")
      assert(got.map(_._4).sorted == lines.sorted.toVector)
      GraftJsonl.append(dir, "deep.jsonl", Seq("""{"i":500}"""))
      q.processAllAvailable()
      assert(GraftJsonlSourceSpec.delivered.size == 501)
    } finally q.stop()
  }

  test("startingOffsets=latest skips the existing backlog, then tails") {
    val dir = freshDir()
    GraftJsonl.append(dir, "z.jsonl", (0 until 5).map(i => s"""{"i":$i}"""))
    GraftJsonlSourceSpec.reset()
    val q = startTail(dir, tempDir("graft-jsonl-latest"),
      Map("startingOffsets" -> "latest"))
    try {
      q.processAllAvailable()
      assert(GraftJsonlSourceSpec.delivered.isEmpty, "backlog must be skipped")
      GraftJsonl.append(dir, "z.jsonl", Seq("""{"i":99}"""))
      q.processAllAvailable()
      assert(GraftJsonlSourceSpec.delivered.asScala.map(_._4).toVector == Vector("""{"i":99}"""))
    } finally q.stop()
  }
}
