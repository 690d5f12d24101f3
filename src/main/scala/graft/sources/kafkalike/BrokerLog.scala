package graft.sources.kafkalike

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** File-backed partitioned log with Kafka's offset semantics — the broker
  * behind the `graft-kafka` source/sink (the sandbox has no Kafka jars; see
  * README "Kafka path"). Layout:
  *
  * {{{
  *   <root>/<topic>/.partitions          # partition count (created once)
  *   <root>/<topic>/p<N>/<offset>.rec    # one record, offset = file name
  *   <root>/<topic>/p<N>/.hw-<offset>    # log-end (high-water) marker, max wins;
  *                                       # only truncation writes one
  * }}}
  *
  * Offsets are REAL Kafka offsets, not list indices: the 20-digit zero-padded
  * file name IS the record's offset, claimed atomically by
  * `Files.createLink(target, tmp)` — hard-link creation fails with
  * `FileAlreadyExistsException` on every POSIX filesystem when the slot is
  * already taken (unlike `ATOMIC_MOVE`, which maps to rename(2) and silently
  * replaces), so a losing producer retries at the next offset. Readers never
  * observe a half-written record, per-partition offsets are dense and totally
  * ordered across concurrent producers, and deleting a prefix of files
  * (retention / data loss) leaves the remaining offsets stable.
  *
  * Like Kafka, the log-end offset NEVER regresses. A record file is its own
  * evidence of the log end, and [[truncateBefore]], the only code that
  * deletes records, first raises a persisted per-partition high-water mark
  * (`.hw-` markers) over its victims, so truncating ALL records leaves
  * `offsetRange = (hw, hw)` — a consumer checkpoint past the
  * truncation point is detected as data loss instead of silently aliasing
  * re-produced offsets, exactly the property the `failOnDataLoss` contract
  * needs. At 100 TB this component is the test stand-in for a real broker;
  * the Spark-facing contract (subscribe lists, per-partition offset ranges,
  * admission control) is identical either way.
  *
  * Record wire format (length-prefixed, -1 = null):
  * key, value, timestampMillis, headerCount × (utf8 key, bytes value).
  */
object BrokerLog {

  final case class Record(
      key: Array[Byte],
      value: Array[Byte],
      timestampMillis: Long,
      headers: Seq[(String, Array[Byte])])

  def topicDir(root: String, topic: String): Path = Paths.get(root, topic)
  private def partDir(root: String, topic: String, p: Int): Path =
    topicDir(root, topic).resolve(s"p$p")

  /** Create (or verify) a topic. Idempotent; partition count is fixed at
    * creation like Kafka's.
    */
  def createTopic(root: String, topic: String, partitions: Int): Unit = {
    require(partitions >= 1, s"partitions must be >= 1, got $partitions")
    val dir = topicDir(root, topic)
    Files.createDirectories(dir)
    val meta = dir.resolve(".partitions")
    if (Files.exists(meta)) {
      val existing = new String(Files.readAllBytes(meta), "UTF-8").trim.toInt
      require(existing == partitions,
        s"topic $topic already exists with $existing partitions (asked $partitions)")
    } else {
      // directories FIRST, then the count (expandTopic's rule): the meta
      // file is the topic's commit point — a concurrent producer that sees
      // it must find every advertised partition directory already there,
      // or its produce() fails on a not-yet-created directory
      (0 until partitions).foreach(p => Files.createDirectories(partDir(root, topic, p)))
      writeMeta(dir, partitions)
    }
  }

  /** Write `.partitions` via temp + atomic rename: a plain truncating write
    * has a window where a concurrent reader (a planning cycle calling
    * [[partitionCount]]) sees an EMPTY file and dies on `"".toInt` — the
    * same torn-metadata hazard every other file in this medium avoids.
    */
  private def writeMeta(dir: Path, partitions: Int): Unit = {
    val tmp = Files.createTempFile(dir, ".partitions-", ".tmp")
    Files.write(tmp, partitions.toString.getBytes("UTF-8"))
    Files.move(tmp, dir.resolve(".partitions"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Raise a topic's partition count (Kafka's `--alter --partitions N`:
    * counts only grow, existing partitions keep their data, new partitions
    * start empty). A subscribed streaming query picks the new partitions up
    * at its next trigger (subscribe-mode metadata refresh) and reads them
    * from their earliest offset.
    */
  def expandTopic(root: String, topic: String, partitions: Int): Unit = {
    val existing = partitionCount(root, topic)
    require(partitions >= existing,
      s"topic $topic has $existing partitions; Kafka partition counts only grow (asked $partitions)")
    if (partitions > existing) {
      // directories FIRST, then the count: a subscriber reading the new
      // count must find every advertised partition directory already there
      (existing until partitions).foreach(p => Files.createDirectories(partDir(root, topic, p)))
      writeMeta(topicDir(root, topic), partitions)
    }
  }

  def topicExists(root: String, topic: String): Boolean =
    Files.exists(topicDir(root, topic).resolve(".partitions"))

  def partitionCount(root: String, topic: String): Int = {
    val meta = topicDir(root, topic).resolve(".partitions")
    require(Files.exists(meta), s"unknown topic: $topic (no ${meta.toString})")
    new String(Files.readAllBytes(meta), "UTF-8").trim.toInt
  }

  private def offsetOf(p: Path): Long = {
    val name = p.getFileName.toString
    name.stripSuffix(".rec").toLong
  }

  private def recordFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".rec")).toSeq
      finally s.close()
    }

  /** The high-water mark is a set of create-only marker files
    * `.hw-<offset>`; the mark IS the max over markers. Create-only makes
    * monotonicity structural: no writer ever replaces anything, so no
    * interleaving can regress the max. (The previous single-file scheme
    * raced: a stale laggard's atomic-replace could overwrite a higher mark,
    * and both writers exited satisfied — each only re-checked its OWN value.)
    * Markers strictly below the new max are pruned after each bump, so a
    * partition carries one or two marker files in steady state.
    */
  private def hwMarkers(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith(".hw-")).toSeq
      finally s.close()
    }

  private def markerValue(p: Path): Long =
    p.getFileName.toString.stripPrefix(".hw-").toLong

  /** Max over marker files, read with scan-stability: POSIX readdir only
    * guarantees a scan sees entries present for its WHOLE duration, so a
    * single scan racing create-then-prune bumps can miss both the new max
    * and the pruned runner-up. Re-scan until two consecutive scans agree
    * (markers only ever grow, so the max over all scans is safe to return);
    * each racing scan requires a truncation interleaved with it, so in
    * practice this loop exits on the second scan.
    */
  private def readHighWater(dir: Path): Long = {
    var best = hwMarkers(dir).map(markerValue).maxOption.getOrElse(0L)
    var attempts = 0
    var stable = false
    while (!stable && attempts < 8) {
      val next = hwMarkers(dir).map(markerValue).maxOption.getOrElse(0L)
      stable = next <= best
      best = math.max(best, next)
      attempts += 1
    }
    best
  }

  /** Persist log-end = `value` if it advances the mark. Pruning keeps the
    * TWO largest markers, not just the new one: POSIX readdir only
    * guarantees a scan sees entries present for its whole duration, so a
    * reader racing a create-then-prune could miss BOTH the just-created max
    * and a just-deleted one. With the runner-up retained, every bump leaves
    * the pre-bump max untouched, so a racing reader observes at least the
    * mark as of its scan's start — never a regression below a value it
    * could have read before. (deleteIfExists: two pruners may race on the
    * same file.)
    */
  private def bumpHighWater(dir: Path, value: Long): Unit =
    if (readHighWater(dir) < value) {
      try Files.createFile(dir.resolve(f".hw-$value%020d"))
      catch { case _: FileAlreadyExistsException => () }
      val stale = hwMarkers(dir).map(markerValue).sorted(Ordering[Long].reverse).drop(2)
      stale.foreach(v => Files.deleteIfExists(dir.resolve(f".hw-$v%020d")))
    }

  /** (earliest, latest-exclusive) offsets of a partition. The latest bound is
    * `max(listing, persisted high water)` so it survives full truncation —
    * Kafka's log-end offset never regresses; an empty partition reports
    * `(hw, hw)`, distinguishing "fresh topic" (0, 0) from "everything lost".
    */
  def offsetRange(root: String, topic: String, partition: Int): (Long, Long) = {
    val dir = partDir(root, topic, partition)
    val files = recordFiles(dir)
    val hw = readHighWater(dir)
    if (files.isEmpty) (hw, hw)
    else {
      val offs = files.map(offsetOf)
      (offs.min, math.max(offs.max + 1, hw))
    }
  }

  /** Append one record; returns its claimed offset. Concurrency-safe across
    * producers: the hard-link claim is atomic. It writes no high-water
    * marker: the claimed record file is itself the evidence of the new log
    * end, and [[truncateBefore]] covers it with a marker before deleting it.
    *
    * `hint` (optional): start the claim probe at this offset instead of a
    * full end-of-log scan — pass the caller's last claimed offset + 1. The
    * claim loop makes any stale hint safe (an occupied slot advances one
    * step), so a sequential producer pays the directory scan ONCE per
    * partition instead of once per record, and each hinted produce costs
    * the same at any partition depth; a hint must never exceed the
    * true log end (last-claimed + 1 by construction cannot).
    *
    * A hint is only TRUSTED while its anchor record (`hint - 1`, the
    * caller's own last claim) still exists: `truncateBefore` deletes a
    * prefix, so a surviving anchor proves no hole exists at or above the
    * hint. Without the check, a hint left below a retention truncation
    * would claim a free slot inside the truncated region — an offset below
    * the partition's earliest, invisible to any consumer positioned past
    * the truncation point (silent loss of a freshly produced record) and a
    * regression of `offsetRange`'s lower bound. An anchor-less hint falls
    * back to the end-of-log scan (one O(1) stat per produce buys the check;
    * a truncation racing the stat-to-link window remains the medium's
    * inherent TOCTOU, identical to two producers racing retention).
    */
  def produce(root: String, topic: String, partition: Int, record: Record,
      hint: Long = -1L): Long = {
    val dir = partDir(root, topic, partition)
    require(Files.isDirectory(dir), s"unknown partition $topic/p$partition")
    val tmp = Files.createTempFile(dir, ".tmp-", ".producing")
    try {
      Files.write(tmp, encode(record))
      val anchored = hint > 0L && Files.exists(dir.resolve(f"${hint - 1}%020d.rec"))
      var off = if (anchored) hint else offsetRange(root, topic, partition)._2
      var claimed = -1L
      while (claimed < 0) {
        val target = dir.resolve(f"$off%020d.rec")
        try {
          Files.createLink(target, tmp)
          claimed = off
        } catch {
          case _: FileAlreadyExistsException => off += 1 // lost the race; next slot
        }
      }
      claimed
    } finally Files.deleteIfExists(tmp)
  }

  /** Records of `partition` with offsets in [from, until), offset-ordered. */
  def read(root: String, topic: String, partition: Int, from: Long, until: Long): Seq[(Long, Record)] =
    readLazy(root, topic, partition, from, until).toSeq

  /** [[read]] with one-record-at-a-time decode: only the (offset, path)
    * listing is strict; bytes load per `next()`, so a reader over a large
    * backlog holds one record in memory, not the slice. A file deleted
    * between listing and its read (retention racing a long iteration) is
    * skipped — the read behaves as if it started after the truncation,
    * matching a Kafka consumer that gets OffsetOutOfRange on its next
    * fetch; a failOnDataLoss=true stream still fails loudly at the NEXT
    * planning cycle, where the offset regression is visible.
    */
  def readLazy(root: String, topic: String, partition: Int, from: Long, until: Long): Iterator[(Long, Record)] =
    recordFiles(partDir(root, topic, partition))
      .map(p => (offsetOf(p), p))
      .filter { case (o, _) => o >= from && o < until }
      .sortBy(_._1)
      .iterator
      .flatMap { case (o, p) =>
        try Some((o, decode(Files.readAllBytes(p))))
        catch { case _: java.nio.file.NoSuchFileException => None }
      }

  /** Delete all records below `offset` (retention / simulated data loss).
    * Offsets of surviving records — and the log-end mark — are unaffected.
    *
    * Only truncation writes `.hw-` markers, and the cover lands BEFORE any
    * file dies: produce() writes no marker, so a record's file is the ONLY
    * evidence of the log end it set. A sweep that deleted it without
    * covering first would let a reader racing the sweep, or any later
    * reader, observe `offsetRange` regress (listing-derived end vanishes,
    * marker behind) — the race ConcurrencyChaosSpec seed 20260817 found;
    * the log-end monotonicity contract admits no transient dips.
    */
  def truncateBefore(root: String, topic: String, partition: Int, offset: Long): Unit = {
    val dir = partDir(root, topic, partition)
    val victims = recordFiles(dir).filter(offsetOf(_) < offset)
    if (victims.nonEmpty) {
      bumpHighWater(dir, victims.map(offsetOf).max + 1)
      // deleteIfExists: two concurrent retention sweeps may race on a file;
      // the loser finding it gone is success, not an error
      victims.foreach(p => { Files.deleteIfExists(p); () })
    }
  }

  private[graft] def encode(r: Record): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    def bytes(b: Array[Byte]): Unit =
      if (b == null) out.writeInt(-1) else { out.writeInt(b.length); out.write(b) }
    bytes(r.key)
    bytes(r.value)
    out.writeLong(r.timestampMillis)
    out.writeInt(r.headers.size)
    r.headers.foreach { case (k, v) => bytes(k.getBytes("UTF-8")); bytes(v) }
    out.flush()
    bos.toByteArray
  }

  private[graft] def decode(raw: Array[Byte]): Record = {
    val in = new DataInputStream(new ByteArrayInputStream(raw))
    def bytes(): Array[Byte] = {
      val n = in.readInt()
      if (n < 0) null
      else { val b = new Array[Byte](n); in.readFully(b); b }
    }
    val key = bytes()
    val value = bytes()
    val ts = in.readLong()
    val nh = in.readInt()
    val headers = (0 until nh).map { _ =>
      val k = new String(bytes(), "UTF-8")
      (k, bytes())
    }
    Record(key, value, ts, headers)
  }
}
