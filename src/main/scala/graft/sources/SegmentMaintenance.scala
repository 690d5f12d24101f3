package graft.sources

import java.io.File

import org.apache.spark.sql.SparkSession

/** Maintenance for document-sink segment directories (`graft-warc` /
  * `graft-jsonl`): a weeks-long stream lands one immutable segment per
  * (epoch, partition) and nothing ever folds or expires them — the same
  * gap the self-index tier closed in
  * [[graft.streaming.SelfIndexCompaction]]. Three tools:
  *
  *   - '''Compaction''' ([[compactSegments]]): fold the oldest segments
  *     into ONE by byte concatenation — both media are concatenation-
  *     closed (concatenated gzip members form one valid gzip stream per
  *     RFC 1952 §2.2; jsonl is newline-framed), so the fold is pure I/O:
  *     no decode, no re-serialize, read-back rows byte-identical.
  *     Scheduling is the ski-rental rule, REUSING the measured
  *     [[graft.streaming.SelfIndexCompaction.shouldCompact]] decision via
  *     [[SinkCompaction]].
  *   - '''Retention''' ([[retainByCount]] / [[retainByAge]]): delete
  *     whole expired segments (append-ordered — segment names embed the
  *     epoch, so name order IS arrival order for one query's stream).
  *   - '''Takedown purge''' ([[purgeWarcRecords]]): rewrite ONLY the
  *     segments holding affected records, dropping those records and
  *     keeping every other member's bytes verbatim — the storage half of
  *     deletion propagation, composing with
  *     [[graft.dedup.Dedup.reElectAfterDeletion]] (pq97): purge the
  *     bytes here, re-elect the dedup clusters there.
  *
  * Tailing-reader contract (documented, spec-pinned): compaction/
  * retention remove files — a tailing `graft-warc`/`graft-jsonl` stream
  * that has FULLY CONSUMED them treats the disappearance as routine
  * rotation (`retireConsumed`); folding or expiring segments a consumer
  * has NOT finished is data loss and strict mode raises, by design. The
  * compacted file is a NEW file to a running stream, so its records
  * RE-DELIVER once (at-least-once across a compaction) — run compaction
  * behind the same watermark as retention, or point the downstream at
  * the engine's streaming dedup; batch/table readers just see fewer
  * files. Purge rewrites a file in place (atomic rename), which changes
  * later records' byte positions — rebuild any
  * [[graft.sources.warc.WarcIndex]] rows for rewritten files.
  */
object SegmentMaintenance {

  /** Committed segments of `dir` with the medium's suffix, in HISTORY
    * order: compacted-history files first (they hold the oldest records
    * by construction), then everything else by (mtime, name). Name order
    * alone is NOT arrival order for batch-written segments (`seg-b<uuid>`
    * tags are random and would sort before `seg-compact-`), so retention
    * and folding key on modification time with the name as the
    * within-second tiebreak — exact for streaming epoch tags, arrival-
    * true for batch tags.
    */
  def segments(dir: String, suffix: String): Seq[File] =
    FileTail.listFiles(dir, Seq(suffix), prefix = "seg-")
      .sortBy(f => (if (f.getName.startsWith("seg-compact-")) 0 else 1,
        f.lastModified(), f.getName))

  /** Fold all but the newest `keepRecent` segments into one compacted
    * segment (`seg-compact-<k>-<fingerprint>.<suffix>`; [[segments]]
    * classes compact files FIRST — history before tail — regardless of
    * their fresh mtime). No-op below `minSegments`. Byte concatenation +
    * write-to-temp + atomic rename + source deletion. Crash contract:
    * before the rename, only a stale `.inprogress` temp remains (swept at
    * the top of the next run); BETWEEN the rename and the source deletes,
    * the folded records exist TWICE — in the compacted file AND the
    * undeleted originals — and a re-run folds both copies into the next
    * compact, so the duplication is PERMANENT at this layer (at-least-
    * once storage). Readers that need exactly-once across that crash
    * window dedup downstream (the engine's exact-dedup / streaming-dedup
    * operators key on record id). Returns the compacted segment name if a
    * fold ran.
    */
  def compactSegments(
      dir: String,
      suffix: String,
      keepRecent: Int = 2,
      minSegments: Int = 4): Option[String] = {
    require(keepRecent >= 0 && minSegments >= 2, s"bad bounds ($keepRecent, $minSegments)")
    // sweep temps a crashed prior FOLD left behind — they are never valid
    // segments (the name filter excludes them from reads) but they hold
    // disk until someone deletes them. Only compact temps: a purge running
    // concurrently owns `.seg-<tag>...inprogress` temps of its own
    SegmentSink.sweepTemps(dir, "compact")
    val segs = segments(dir, suffix)
    if (segs.size < math.max(minSegments, keepRecent + 2)) return None
    val fold = segs.dropRight(keepRecent)
    // fingerprint of the folded names: deterministic, collision-safe across
    // repeated folds (a re-run after a partial fold hashes different names)
    val md = java.security.MessageDigest.getInstance("MD5")
    fold.foreach(f => md.update(f.getName.getBytes("UTF-8")))
    val fp = md.digest().take(4).map("%02x".format(_)).mkString
    val k = segments(dir, suffix).count(_.getName.startsWith("seg-compact-"))
    val name = f"seg-compact-$k%04d-$fp$suffix"
    val tmp = new File(dir, s".$name.${java.util.UUID.randomUUID()}.inprogress")
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(tmp), 1 << 20)
    try fold.foreach { f =>
      val in = new java.io.FileInputStream(f)
      try {
        val buf = new Array[Byte](1 << 20)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    } finally out.close()
    java.nio.file.Files.move(tmp.toPath, new File(dir, name).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    fold.foreach(_.delete())
    Some(name)
  }

  /** Keep the newest `keep` segments, delete the rest (compacted history
    * counts as one segment). Returns the deleted names.
    */
  def retainByCount(dir: String, suffix: String, keep: Int): Seq[String] = {
    require(keep >= 0, s"keep must be >= 0, got $keep")
    val victims = segments(dir, suffix).dropRight(keep)
    victims.foreach(_.delete())
    victims.map(_.getName)
  }

  /** Delete segments whose mtime is older than `maxAgeMillis` before
    * `nowMillis` (injected — determinism and testability). Returns the
    * deleted names.
    */
  def retainByAge(dir: String, suffix: String, maxAgeMillis: Long, nowMillis: Long): Seq[String] = {
    require(maxAgeMillis >= 0, s"maxAge must be >= 0")
    val victims = segments(dir, suffix)
      .filter(f => nowMillis - f.lastModified() > maxAgeMillis)
    victims.foreach(_.delete())
    victims.map(_.getName)
  }

  /** Takedown purge over a `graft-warc` segment directory: rewrite only
    * the segments that hold records whose `WARC-Target-URI` is in
    * `takedownUris` (or, with `quarantineCorrupt`, a framed-but-corrupt
    * member), dropping those records. Unaffected segments are not
    * touched (byte-identical, mtime preserved); within a rewritten gz
    * segment, members holding only surviving records copy VERBATIM (their
    * compressed bytes, not a re-compression) — only a multi-record member
    * with a partial hit re-serializes its survivors. Framed-but-corrupt
    * members (CRC/ISIZE mismatch): with `quarantineCorrupt` (the
    * default) every segment is walked and such members are DROPPED from
    * the rewrite — no reader can decode them (drop-not-fail skips them by
    * exact size), so nothing readable is lost, and a takedown hiding
    * inside one cannot outlive the purge as bytes on disk; with it off,
    * they are stepped over verbatim and the discovery scan is header-only
    * over affected files. Distributed: one task per file (the takedown
    * set broadcasts). Returns the number of readable records removed.
    */
  def purgeWarcRecords(
      spark: SparkSession,
      dir: String,
      takedownUris: Seq[String],
      maxRecordBytes: Long = 1L << 30,
      quarantineCorrupt: Boolean = true): Long = {
    if (takedownUris.isEmpty) return 0L
    val uris = takedownUris.toSet
    val files: Seq[String] =
      if (quarantineCorrupt) {
        // unconditional contract: a takedown hiding INSIDE a framed-but-
        // corrupt member is invisible to the header scan (the reader skips
        // the member), so every segment must be walked — the walk is the
        // same decode pass the discovery scan costs on gz media, and only
        // files with a hit or a corrupt member are rewritten
        segments(dir, ".warc.gz").map(_.getName) ++
          segments(dir, ".warc").map(_.getName)
      } else {
        // find affected files with ONE header-only scan (column pruning
        // keeps block bytes unread)
        spark.read.format("graft-warc").option("path", dir).load()
          .select("file", "target_uri")
          .where(org.apache.spark.sql.functions.col("target_uri")
            .isin(takedownUris: _*))
          .select("file").distinct()
          .collect().map(_.getString(0)).toSeq
      }
    if (files.isEmpty) return 0L
    val urisB = spark.sparkContext.broadcast(uris)
    val dirB = dir
    val dropCorrupt = quarantineCorrupt
    val removed = spark.sparkContext.parallelize(files, files.size).map { name =>
      purgeOneWarcFile(new File(dirB, name), urisB.value, maxRecordBytes, dropCorrupt)
    }.sum().toLong
    removed
  }

  /** Rewrite one WARC segment without the takedown records (and, with
    * `dropCorrupt`, without framed-but-corrupt members — no reader can
    * see their content, so dropping them loses nothing readable and
    * guarantees no takedown bytes outlive the purge). Returns the count
    * of READABLE records removed; a rewrite also happens when only
    * corrupt members were dropped. Streaming on both sides — a bounded
    * walk window on the read, the temp file's output stream on the write
    * — so heap is bounded by one member, not 2× the segment, and a
    * >1 GiB segment the reader handles purges too. Package-visible for the
    * spec.
    */
  private[graft] def purgeOneWarcFile(
      f: File, uris: Set[String], maxRecordBytes: Long,
      dropCorrupt: Boolean = true): Long = {
    // pass 1: detect — no writes, no per-member output allocation beyond
    // the walk window and one inflated member
    val (removed, corrupt) = purgeWalk(f, uris, maxRecordBytes, dropCorrupt, out = null)
    if (removed > 0 || corrupt > 0) {
      val tmp = new File(f.getParentFile, s".${f.getName}.${java.util.UUID.randomUUID()}.inprogress")
      val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(tmp), 1 << 20)
      try purgeWalk(f, uris, maxRecordBytes, dropCorrupt, out)
      finally out.close()
      java.nio.file.Files.move(tmp.toPath, f.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    removed
  }

  /** Keeps a [[java.util.zip.GZIPOutputStream]]'s `close()` (which ends
    * the native deflater) from closing the rewrite stream underneath it.
    */
  private final class NonClosing(out: java.io.OutputStream)
      extends java.io.FilterOutputStream(out) {
    override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)
    override def close(): Unit = flush()
  }

  /** One streaming pass over a WARC segment: count takedown hits and
    * corrupt members; when `out` is non-null, write the surviving bytes
    * to it (members without hits verbatim, partial-hit members
    * re-serialized from their survivors). The window-growth discipline is
    * [[graft.sources.warc.GraftWarc.completeGzWalk]]'s.
    */
  private def purgeWalk(
      f: File, uris: Set[String], maxRecordBytes: Long,
      dropCorrupt: Boolean, out: java.io.OutputStream): (Long, Long) = {
    import graft.sources.warc.GraftWarc
    val gz = GraftWarc.isGz(f.getName)
    val raf = new java.io.RandomAccessFile(f, "r")
    try {
      val len = f.length()
      val windowCap = (Int.MaxValue - 8).toLong
      val chunkBytes = 4L << 20
      var buf: Array[Byte] = Array.emptyByteArray
      var bufStart = 0L
      var bufGot = 0
      def fill(at: Long, want: Long): Unit = {
        val w = math.min(want, windowCap).toInt
        if (buf.length < w) buf = new Array[Byte](w)
        raf.seek(at)
        var got = 0
        var eof = false
        while (got < w && !eof) {
          val n = raf.read(buf, got, w - got)
          if (n < 0) eof = true else got += n
        }
        bufStart = at
        bufGot = got
      }
      var removed = 0L
      var corrupt = 0L
      var pos = 0L
      var done = false
      // an unparseable / still-growing tail is preserved verbatim
      def copyTail(): Unit = {
        if (out != null) {
          var at = pos
          while (at < len) {
            if (at < bufStart || at >= bufStart + bufGot)
              fill(at, math.min(chunkBytes, len - at))
            val off = (at - bufStart).toInt
            out.write(buf, off, bufGot - off)
            at = bufStart + bufGot
          }
        }
        done = true
      }
      while (!done && pos < len) {
        val spanCap = math.min(len - pos, windowCap)
        if (pos < bufStart || pos >= bufStart + bufGot)
          fill(pos, math.min(chunkBytes, spanCap))
        var off = (pos - bufStart).toInt
        var span = (bufGot - off).toLong
        def grow(): Boolean = {
          // EOF-short fills stop growing at the true end under `len`
          val before = span
          fill(pos, math.min(math.max(span * 4, chunkBytes), spanCap))
          off = 0
          span = bufGot.toLong
          span > before
        }
        if (gz) {
          var res = GraftWarc.gzipMember(buf, off, bufGot - off, maxRecordBytes)
          var growing = true
          while (res == GraftWarc.MemberIncomplete && span < spanCap && growing) {
            growing = grow()
            res = GraftWarc.gzipMember(buf, off, bufGot, maxRecordBytes)
          }
          res match {
            case GraftWarc.MemberOk(size, plain) =>
              val recs = memberRecords(plain)
              val (hit, kept) = recs.partition(r => uris.contains(r._1))
              if (hit.isEmpty) { if (out != null) out.write(buf, off, size.toInt) }
              else {
                removed += hit.size
                if (kept.nonEmpty && out != null) {
                  // partial hit: re-serialize the survivors as one member
                  val gzOut = new java.util.zip.GZIPOutputStream(new NonClosing(out), 64 * 1024)
                  kept.foreach(r => gzOut.write(r._2))
                  gzOut.close()
                }
              }
              pos += size
            case GraftWarc.MemberCorrupt(size, _) =>
              // framed-but-corrupt (CRC/ISIZE mismatch, over-bound
              // inflate): the SIZE is known, so never stop here — either
              // QUARANTINE it (drop: no reader can decode it, and a
              // takedown hiding inside must not outlive the purge) or
              // step over verbatim
              if (dropCorrupt) corrupt += 1
              else if (out != null) out.write(buf, off, size.toInt)
              pos += size
            case _ => copyTail() // malformed or incomplete-at-EOF tail
          }
        } else {
          var res = GraftWarc.parseHead(buf, off, bufGot)
          def sizeOf(h: GraftWarc.RecordHead): Long = h.headBytes + h.contentLength + 4
          var growing = true
          // grow until the head AND its block fit the window (or EOF)
          var settled = false
          while (!settled) {
            res match {
              case GraftWarc.HeadOk(h) if off + sizeOf(h) <= bufGot => settled = true
              case (GraftWarc.HeadOk(_) | GraftWarc.HeadIncomplete)
                  if span < spanCap && growing =>
                growing = grow(); res = GraftWarc.parseHead(buf, off, bufGot)
              case _ => settled = true
            }
          }
          res match {
            case GraftWarc.HeadOk(h) if off + sizeOf(h) <= bufGot =>
              val size = sizeOf(h).toInt
              if (h.header("warc-target-uri").exists(uris.contains)) removed += 1
              else if (out != null) out.write(buf, off, size)
              pos += size
            case _ => copyTail()
          }
        }
      }
      (removed, corrupt)
    } finally raf.close()
  }

  /** (target-uri, full record bytes) of every record in a decompressed
    * member — the bytes slice back VERBATIM so survivors re-serialize
    * byte-identically.
    */
  private def memberRecords(plain: Array[Byte]): Seq[(String, Array[Byte])] = {
    import graft.sources.warc.GraftWarc
    val out = Seq.newBuilder[(String, Array[Byte])]
    var p = 0
    var done = false
    while (!done && p < plain.length) {
      GraftWarc.parseHead(plain, p, plain.length) match {
        case GraftWarc.HeadOk(h)
            if p + h.headBytes + h.contentLength + 4 <= plain.length =>
          val size = (h.headBytes + h.contentLength + 4).toInt
          out += ((h.header("warc-target-uri").orNull,
            java.util.Arrays.copyOfRange(plain, p, p + size)))
          p += size
        case _ => done = true
      }
    }
    out.result()
  }
}

/** The rent-or-buy scheduler for sink-segment compaction — the SAME
  * 2-competitive ski-rental decision as
  * [[graft.streaming.SelfIndexCompaction]] (whose pure
  * `shouldCompact(k, totalMb, debt)` this reuses), pointed at a document
  * sink directory: per epoch, accrue the per-segment probe rent from the
  * LISTING (no data I/O), fold when rent covers the fold price.
  */
final class SinkCompaction(
    perSegmentProbeSec: Double,
    foldSecPerMb: Double,
    minSegments: Int = 4,
    keepRecent: Int = 2) extends Serializable {

  private val decision =
    new graft.streaming.SelfIndexCompaction(perSegmentProbeSec, foldSecPerMb, minSegments)
  private var debtSec = 0.0
  private val fired = scala.collection.mutable.ArrayBuffer.empty[Long]

  /** Epochs at which a fold ran — for audits/specs. */
  def firedAt: Seq[Long] = fired.toSeq

  /** Accrue one epoch's rent and fold when the rule fires. Call from the
    * stream's epoch/batch listener (the SelfIndexCompaction wiring).
    */
  def afterEpoch(dir: String, suffix: String, epochId: Long): Boolean = {
    val segs = SegmentMaintenance.segments(dir, suffix)
    val k = segs.size
    val totalMb = segs.map(_.length()).sum / 1048576.0
    debtSec += math.max(k - 1, 0) * perSegmentProbeSec
    if (decision.shouldCompact(k, totalMb, debtSec) &&
      SegmentMaintenance.compactSegments(dir, suffix, keepRecent, minSegments).isDefined) {
      debtSec = 0.0
      fired += epochId
      true
    } else false
  }
}
