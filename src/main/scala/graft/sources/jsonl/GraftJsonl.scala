package graft.sources.jsonl

import java.io.{File, RandomAccessFile}
import java.nio.charset.StandardCharsets
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{FileTail, FileTailStream, SegmentSink, SegmentWriter, TailFraming}

/** `graft-jsonl` — the engine's SECOND DataSource V2 medium: a directory of
  * append-only JSONL files tailed as a log by the shared
  * [[graft.sources.FileTailStream]], with line framing: the per-file byte
  * offset ([[graft.sources.FileTailOffset]]) sits after the last complete
  * (newline-terminated) line consumed, so a partial line at EOF (an append
  * in flight) waits for its newline. This is a deliberately different
  * shape from both `graft-kafka` (no broker metadata, no partition dirs, no
  * dense record offsets) and Spark's built-in file source (which only
  * admits whole new files and cannot tail a growing one) — the point of the
  * medium is to prove the offset/guarantee machinery is source-generic.
  *
  * Options:
  *   - `path` (required): the directory to tail;
  *   - `suffix` (default `.jsonl`): which files participate;
  *   - `startingOffsets` earliest|latest (first run only; a file that
  *     APPEARS mid-stream always starts at 0 — the Kafka new-partition
  *     rule);
  *   - `maxBytesPerTrigger`: admission cap, distributed proportionally to
  *     each file's backlog and always cut at a line boundary (the cap may
  *     be exceeded by at most one line per file — the same
  *     progress-over-precision rule as graft-kafka's maxOffsetsPerTrigger);
  *   - `failOnDataLoss` (default true): a checkpointed file that vanished
  *     with UNREAD scheduled bytes or shrank below its checkpoint (its
  *     consumed tail was truncated away) fails the query; `false` drops the
  *     vanished file and holds the shrunken one at its checkpoint until the
  *     file regrows past it (offsets never regress). A vanished file whose
  *     checkpointed position was fully consumed (zero unread bytes) is
  *     NEVER data loss in either mode — deleting a fully-consumed segment
  *     is routine log rotation;
  *   - `retireConsumed` (default true): drop a fully-consumed vanished
  *     file's entry from the offset map, so externally-rotated segments
  *     leave the checkpoint instead of being carried forever. `false`
  *     carries the entry silently (a deleted-and-recreated file name then
  *     resumes at its old position instead of replaying from 0);
  *   - `retentionMs`: ACTIVE retirement — the Kafka `retention.ms` analog
  *     for a medium whose "broker" is a directory: a file that is fully
  *     consumed (checkpoint == complete length == file length, no partial
  *     line in flight) and unmodified for at least `retentionMs` is DELETED
  *     by the source and its entry dropped. With retention on, the offset
  *     JSON, the checkpoint record, and the per-trigger stat loop are all
  *     bounded by the ACTIVE file set, not by stream age. Only sensible
  *     when this query owns the directory (a second consumer would lose
  *     the retired data — exactly Kafka's retention contract). Set the
  *     horizon LONGER than any producer's maximum replay window: a
  *     replayed sink epoch recreates its segment by name, and if the
  *     consumer already retired that name the recreated file reads from 0
  *     as new data (at-least-once re-delivery) — the same interplay as
  *     Kafka retention.ms vs a producer retrying past the retention
  *     horizon;
  *   - `retentionProperty`: id of a [[GraftJsonl.bindRetentionProperty]]
  *     registration — the DYNAMIC form of `retentionMs` (P4's
  *     trigger-boundary reconfiguration applied to the source): each
  *     trigger's planning reads the bound property's CURRENT value, so a
  *     live tail can tighten or loosen its retention horizon through the
  *     config control plane (file/remote supplier) without a restart.
  *     Property value -1 = no override (the static `retentionMs` option,
  *     if any, applies); >= 0 = the live horizon in milliseconds;
  *   - `maxSplitBytes`: BATCH reads split files larger than this into
  *     line-snapped byte-range partitions (default 128 MiB — one huge file
  *     is never one task). STREAMING reads split a catch-up slice the same
  *     way only when the option is set EXPLICITLY: the default
  *     one-partition-per-file-slice is the "one partition per
  *     topic-partition" ordering contract, and a split slice interleaves a
  *     key's records across tasks — opt in only if downstream reorders by
  *     the stable `(file, pos)` id.
  *
  * Schema: `(file string, pos long, value string)` — pos is the line's
  * starting byte offset in its file, so (file, pos) is a stable record id
  * replays reproduce exactly. Payload typing is schema-on-read
  * (`from_json` downstream), the reference's serde philosophy.
  *
  * The WRITE side ([[GraftJsonlWriteBuilder]], on the shared
  * [[graft.sources.SegmentSink]]) closes the medium into a file-based
  * topic: each epoch's partitions land as immutable
  * `seg-q<queryTag>-<epoch>-<partition>.jsonl` segments via atomic rename
  * (effectively-once under replay), and a tailing reader discovers them as
  * complete new files.
  *
  * Scale shape: one Spark input partition per file slice per micro-batch —
  * parallelism is the file count, exactly the "one partition per
  * topic-partition" contract; a production layout shards the stream over
  * many files the way a topic shards over partitions. The driver never
  * reads data: per trigger it stats each file plus at most one 64 KiB
  * boundary probe per capped file.
  */
class GraftJsonlProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-jsonl"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = GraftJsonl.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftJsonlTable(new CaseInsensitiveStringMap(properties))
}

object GraftJsonl {
  val schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("pos", LongType, nullable = false),
    StructField("value", StringType, nullable = false)))

  /** Typed definition of the dynamic retention horizon (bind it to a
    * [[graft.config.FilePropertySupplier]]/remote supplier like any other
    * engine property). -1 disables the override; >= 0 is the live horizon.
    */
  val RetentionMsProperty: graft.config.PropertyDefinition[Long] =
    graft.config.PropertyDefinition("graft.jsonl.retention.ms", -1L, (v: Long) => v >= -1L)

  // DSv2 options are strings, so a live property reaches the source by ID:
  // bind the DynamicProperty here, pass `retentionProperty=<id>` as an
  // option, and each trigger's driver-side planning reads the current
  // value. JVM-static like the rest of the driver-side control plane.
  private val retentionOverrides =
    new java.util.concurrent.ConcurrentHashMap[String, graft.config.DynamicProperty[Long]]()

  /** Register `dyn` as the live retention horizon for sources opened with
    * `retentionProperty=id`. Returns a deregistration handle.
    */
  def bindRetentionProperty(id: String, dyn: graft.config.DynamicProperty[Long]): () => Unit = {
    retentionOverrides.put(id, dyn)
    () => { retentionOverrides.remove(id, dyn); () }
  }

  /** The override's current value, if bound and enabled (>= 0). */
  private[jsonl] def retentionOverride(id: String): Option[Long] =
    Option(retentionOverrides.get(id)).map(_.value).filter(_ >= 0L)

  def dir(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft-jsonl requires the 'path' option (directory to tail)")
    p
  }

  /** Byte position after the file's last complete line: the file length if
    * it ends in '\n', else the position after the last '\n' (a partial
    * append stays invisible until terminated — tail semantics). Backward
    * chunk scan from EOF; 0 if the file has no newline at all.
    */
  def completeLength(f: File): Long = {
    val raf = new RandomAccessFile(f, "r")
    try {
      val len = raf.length()
      if (len == 0L) return 0L
      raf.seek(len - 1)
      if (raf.read() == '\n') return len
      lastNewlineBefore(raf, len).map(_ + 1).getOrElse(0L)
    } finally raf.close()
  }

  /** Highest position p < limit with byte '\n' at p, scanning backward in
    * 64 KiB chunks; None if no newline exists before `limit`.
    */
  private def lastNewlineBefore(raf: RandomAccessFile, limit: Long): Option[Long] = {
    val chunk = new Array[Byte](64 * 1024)
    var hi = limit
    while (hi > 0L) {
      val lo = math.max(0L, hi - chunk.length)
      val n = (hi - lo).toInt
      raf.seek(lo)
      raf.readFully(chunk, 0, n)
      var i = n - 1
      while (i >= 0) {
        if (chunk(i) == '\n') return Some(lo + i)
        i -= 1
      }
      hi = lo
    }
    None
  }

  /** First position p >= from with byte '\n' at p, forward 64 KiB chunks;
    * None if the rest of the file has none.
    */
  private def firstNewlineFrom(raf: RandomAccessFile, from: Long): Option[Long] = {
    val chunk = new Array[Byte](64 * 1024)
    val len = raf.length()
    var lo = from
    while (lo < len) {
      val n = math.min(chunk.length.toLong, len - lo).toInt
      raf.seek(lo)
      raf.readFully(chunk, 0, n)
      var i = 0
      while (i < n) {
        if (chunk(i) == '\n') return Some(lo + i)
        i += 1
      }
      lo += n
    }
    None
  }

  /** Largest line-boundary end in (from, target]; if the first line starting
    * at `from` already overruns `target`, extend to its terminating newline
    * instead (progress guarantee — the admission cap yields, never starves).
    * `from` and the result are both positions AFTER a '\n' (or 0/EOF).
    */
  def lineBoundaryNear(f: File, from: Long, target: Long): Long = {
    val raf = new RandomAccessFile(f, "r")
    try {
      lastNewlineBefore(raf, math.min(target, raf.length())) match {
        case Some(p) if p >= from => p + 1
        case _ =>
          firstNewlineFrom(raf, math.max(from, target)) match {
            case Some(p) => p + 1
            case None    => from // no complete line yet — no progress to make
          }
      }
    } finally raf.close()
  }

  /** Streaming segments were named `seg-<epoch>-<part>.jsonl` before the
    * query tag joined the name. A checkpoint created under that naming
    * that replays its last epoch writes a NEW tagged name instead of
    * renaming over the old one — the legacy twin would duplicate that
    * epoch's records once. Landing a tagged streaming segment therefore
    * retires its legacy-named twin, but ONLY when the twin is
    * byte-identical to the landed segment: a true replay twin is
    * content-identical by the deterministic replay contract, whereas a
    * same-numbered segment from an UNRELATED untagged run (a
    * fresh-checkpoint tagged query whose epochs restart at 0, sharing a
    * directory with an older run) is that run's committed data and must
    * survive. A twin that is not byte-identical is left in place — worst
    * case the upgrade replay duplicates one epoch's records (the documented
    * at-least-once upgrade story), never loses data.
    */
  private val LegacyStreamTwin = """seg-q[0-9a-f]{12}-(\d{6}-\d{4}\.jsonl)""".r

  /** Byte-equality of two files without loading either fully into memory. */
  private def sameContent(a: File, b: File): Boolean = {
    if (a.length() != b.length()) return false
    val ia = new java.io.BufferedInputStream(new java.io.FileInputStream(a))
    try {
      val ib = new java.io.BufferedInputStream(new java.io.FileInputStream(b))
      try {
        var x = 0
        while ({ x = ia.read(); x != -1 }) if (ib.read() != x) return false
        ib.read() == -1
      } finally ib.close()
    } finally ia.close()
  }

  /** The sink's landing ([[SegmentSink.land]]) with the legacy-twin rule. */
  private[jsonl] def commitSegments(
      dir: String, tag: String, messages: Array[WriterCommitMessage]): Unit =
    SegmentSink.land(dir, tag, messages, landed => landed.getName match {
      case LegacyStreamTwin(suffix) =>
        val legacy = new File(dir, s"seg-$suffix")
        if (legacy.exists() && sameContent(legacy, landed)) legacy.delete()
      case _ => ()
    })

  /** Plan byte-range partitions for `[from, until)` of one file: a single
    * aligned partition when the range fits in `split`, else ceil-div ranges
    * with the first-byte ownership rule (`aligned = false`). All arithmetic
    * in Long — a TB-scale file over a small split must error loudly, not
    * wrap `.toInt` negative and silently plan ZERO partitions.
    */
  private[graft] def splitRange(
      path: String, name: String, from: Long, until: Long, split: Long,
      failOnDataLoss: Boolean): Seq[GraftJsonlInputPartition] = {
    require(split > 0, s"split size must be positive, got $split")
    if (until - from <= split)
      Seq(GraftJsonlInputPartition(path, name, from, until, failOnDataLoss))
    else {
      val n = (until - from + split - 1) / split
      require(n <= Int.MaxValue,
        s"$name: [$from, $until) at split=$split would need $n partitions — raise maxSplitBytes")
      (0L until n).map { i =>
        GraftJsonlInputPartition(path, name, from + i * split,
          math.min(from + (i + 1) * split, until), failOnDataLoss, aligned = false)
      }
    }
  }

  /** The directory tail ([[FileTailStream]]) with line framing: a file's
    * complete end is after its last newline, an admission cut lands on a
    * line boundary, and a slice is one partition unless `maxSplitBytes`
    * opts in to byte-range splits ([[splitRange]]).
    */
  def stream(
      dir: String,
      suffix: String,
      startAtLatest: Boolean,
      failOnDataLoss: Boolean,
      maxBytesPerTrigger: Option[Long],
      retireConsumed: Boolean = true,
      retentionMs: Option[Long] = None,
      retentionPropertyId: Option[String] = None,
      maxSplitBytes: Option[Long] = None): FileTailStream = {
    val framing = new TailFraming {
      override def medium: String = "graft-jsonl"
      override def completeEnd(f: File, from: Long, len: Long): Long = completeLength(f)
      override def cut(f: File, from: Long, target: Long, complete: Long): Long =
        lineBoundaryNear(f, from, target)
      // the slice's `from` is a checkpointed line boundary (byte from-1 is
      // '\n'), so an unaligned reader's one-byte-back probe self-detects it
      // and skips nothing
      override def partitions(f: File, from: Long, until: Long): Seq[InputPartition] =
        splitRange(f.getPath, f.getName, from, until,
          maxSplitBytes.getOrElse(Long.MaxValue), failOnDataLoss)
      override def readerFactory: PartitionReaderFactory = new GraftJsonlReaderFactory
    }
    // a bound live property (>= 0) overrides the static option, read at
    // each planning call: a config edit takes effect on the NEXT trigger
    new FileTailStream(dir, Seq(suffix), framing, startAtLatest, failOnDataLoss,
      maxBytesPerTrigger, retireConsumed,
      () => retentionPropertyId.flatMap(retentionOverride).orElse(retentionMs))
  }

  /** Append lines (adding the terminating '\n' each) to `dir/name` — the
    * producer util the chaos/roundtrip harnesses write through. Appends are
    * sequential per call; callers provide cross-call ordering.
    */
  def append(dir: String, name: String, lines: Seq[String]): Unit = {
    val f = new File(dir, name)
    val out = new java.io.FileOutputStream(f, true)
    try {
      val sb = new StringBuilder
      lines.foreach { l =>
        require(!l.contains('\n'), "a JSONL record must be newline-free")
        require(!l.endsWith("\r"),
          "a JSONL record must not end in '\\r' (the reader strips a trailing CR so CRLF " +
            "corpora read like LF — such a value would not round-trip)")
        sb.append(l).append('\n')
      }
      out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
    } finally out.close()
  }
}

class GraftJsonlTable(options: CaseInsensitiveStringMap) extends Table
    with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-jsonl(${GraftJsonl.dir(options)})"
  override def schema(): StructType = GraftJsonl.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ,
      TableCapability.STREAMING_WRITE, TableCapability.BATCH_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new GraftJsonlScan(scanOptions)
    }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftJsonlWriteBuilder(info)
}

/** The write side of the medium ([[SegmentSink]]): each epoch's partition
  * becomes ONE new immutable segment `seg-<tag>-<partition>.jsonl`, landed
  * by the driver's atomic rename, and a tailing reader discovers it as a
  * complete new file. The contract holds as long as the replaced name is
  * still the one the reader's checkpoint points at; a consumer running
  * `retentionMs` shorter than the producer's replay window can retire the
  * name first, after which the replayed segment reads as new data (the
  * Kafka retention analog has the same horizon rule). Input rows must carry
  * a string `value` column (newline-free); everything else is ignored — the
  * Kafka sink's value-column contract. Landing retires a byte-identical
  * legacy-named twin ([[GraftJsonl.commitSegments]]).
  */
class GraftJsonlWriteBuilder(info: LogicalWriteInfo) extends WriteBuilder {
  private val dir = GraftJsonl.dir(new CaseInsensitiveStringMap(info.options()))
  private val valueIdx = {
    // case-insensitive with exact-match preference — the Kafka sink's
    // value-column contract resolves through Spark's (default
    // case-insensitive) resolver, so `Value` must work here too
    val names = info.schema().fieldNames
    val idx = names.indexOf("value") match {
      case -1 => names.indexWhere(_.equalsIgnoreCase("value"))
      case i  => i
    }
    require(idx >= 0, "graft-jsonl writes need a 'value' string column")
    require(info.schema().fields(idx).dataType == StringType,
      s"graft-jsonl 'value' must be string, got ${info.schema().fields(idx).dataType.catalogString}")
    idx
  }

  override def build(): Write = {
    val (d, v) = (dir, valueIdx) // the writer closure ships; capture values, not this
    SegmentSink.write(dir, info.queryId(),
      (tag, partitionId, taskId) => new GraftJsonlSegmentWriter(d, v, tag, partitionId, taskId),
      GraftJsonl.commitSegments(dir, _, _))
  }
}

/** Task-side writer: one newline-terminated line per row into its temp. */
class GraftJsonlSegmentWriter(
    dir: String, valueIdx: Int, epochTag: String, partitionId: Int, taskId: Long)
    extends SegmentWriter(dir, epochTag, partitionId, taskId, ".jsonl") {

  override def write(row: InternalRow): Unit = {
    val v = row.getUTF8String(valueIdx)
    require(v != null, "graft-jsonl: null value row")
    val bytes = v.getBytes
    var i = 0
    while (i < bytes.length) {
      require(bytes(i) != '\n', "a JSONL record must be newline-free")
      i += 1
    }
    // the reader strips one trailing CR (CRLF tolerance) — a value ending
    // in '\r' would silently lose that byte on the way back, so the sink
    // rejects it up front instead of breaking the round-trip contract
    require(bytes.isEmpty || bytes(bytes.length - 1) != '\r',
      "a JSONL record must not end in '\\r' (it would not round-trip through the CRLF-tolerant reader)")
    stream.write(bytes)
    stream.write('\n')
    rows += 1
  }
}

class GraftJsonlScan(options: CaseInsensitiveStringMap) extends Scan {
  private val dir = GraftJsonl.dir(options)
  private val suffix = options.getOrDefault("suffix", ".jsonl")
  private val failOnDataLoss = options.getBoolean("failondataloss", true)
  private val maxSplitBytes = {
    val v = options.getLong("maxsplitbytes", 128L << 20)
    require(v > 0, s"maxSplitBytes must be positive, got $v")
    v
  }

  override def readSchema(): StructType = GraftJsonl.schema

  /** Batch read: the complete-line snapshot of every file at planning time.
    * `failOnDataLoss` rides into the partitions so a file deleted between
    * planning and task execution (log rotation) honors the option on the
    * batch path too, not only the streaming one.
    *
    * A file larger than `maxSplitBytes` (default 128 MiB) is planned as
    * MULTIPLE byte-range partitions — the classic line-snapped text split:
    * the driver plans raw byte ranges (no boundary probes — O(1) per
    * split), and each reader resolves its own boundaries by the
    * first-byte-ownership rule ([[GraftJsonlInputPartition]]). Without
    * this, one multi-GB JSONL file would read on a single task no matter
    * how many executors the cluster has.
    */
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      FileTail.planBatch(FileTail.listFiles(dir, Seq(suffix), medium = "graft-jsonl"),
          failOnDataLoss) { f =>
        GraftJsonl.splitRange(f.getPath, f.getName, 0L, GraftJsonl.completeLength(f),
          maxSplitBytes, failOnDataLoss)
      }
    override def createReaderFactory(): PartitionReaderFactory = new GraftJsonlReaderFactory
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    GraftJsonl.stream(dir, suffix,
      startAtLatest = options.getOrDefault("startingoffsets", "earliest")
        .equalsIgnoreCase("latest"),
      failOnDataLoss = failOnDataLoss,
      maxBytesPerTrigger = Option(options.get("maxbytespertrigger")).map { v =>
        require(v.toLong > 0, s"maxBytesPerTrigger must be positive, got $v")
        v.toLong
      },
      retireConsumed = options.getBoolean("retireconsumed", true),
      retentionMs = Option(options.get("retentionms")).map { v =>
        // 0 = retire as soon as fully consumed; negative is always a
        // misconfiguration and must not silently mean "delete everything"
        require(v.toLong >= 0, s"retentionMs must be >= 0, got $v")
        v.toLong
      },
      retentionPropertyId = Option(options.get("retentionproperty")).filter(_.nonEmpty),
      // streaming splits are OPT-IN: the default one-partition-per-file-slice
      // is the "one partition per topic-partition" ordering contract — a
      // split catch-up slice interleaves a key's records across tasks, so
      // only a caller who accepts (file, pos)-based reordering may ask for it
      maxSplitBytes = Option(options.get("maxsplitbytes")).map(_.toLong))
}

/** One Spark partition per file slice. `aligned = true` (streaming, whole
  * files) means `from`/`until` are exact line boundaries; `aligned = false`
  * (batch byte-range splits) means raw byte positions with the classic
  * text-split ownership rule: a line belongs to the split containing its
  * FIRST byte — the reader skips a partial line at `from` and reads past
  * `until` to finish the last line it owns.
  */
case class GraftJsonlInputPartition(
    path: String, name: String, from: Long, until: Long, failOnDataLoss: Boolean = true,
    aligned: Boolean = true)
  extends InputPartition

class GraftJsonlReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftJsonlInputPartition]
    FileTail.openSlice(p.path, p.name, p.from, p.until, p.failOnDataLoss)(mkReader(p, _))
  }

  private def mkReader(p: GraftJsonlInputPartition, raf0: RandomAccessFile): PartitionReader[InternalRow] = {
    new PartitionReader[InternalRow] {
      private val raf = raf0
      // unaligned byte-range split: `from` may land mid-line. Start one byte
      // early — if the byte before `from` is '\n', `from` is a line start
      // and nothing is skipped; otherwise the line containing byte from-1
      // belongs to the PREVIOUS split (which reads past its own `until` to
      // finish it), so consume through its terminating newline.
      private val startAt = if (p.aligned || p.from == 0L) p.from else p.from - 1
      raf.seek(startAt)
      private val in = new java.io.BufferedInputStream(
        java.nio.channels.Channels.newInputStream(raf.getChannel), 64 * 1024)
      private var pos = startAt
      private var exhausted = false
      // EOF below the planned `until` is truncation-AFTER-planning: every
      // byte below the planning-time complete length belongs to a
      // newline-terminated line, so the planned range can only run dry if
      // the file shrank since. The checkpoint still commits end = until,
      // so a silent stop here would skip the missing bytes forever if the
      // file regrows — strict mode must report it (the same regrow race
      // latestOffset and planInputPartitions already plug at their steps);
      // permissive mode ends the task, delivering the intact lines below
      // the cut. (A partial tail line never reaches this: `until` is at or
      // below the complete length, so its line start is already >= until.)
      private def truncatedMidRead(): Boolean = {
        if (p.failOnDataLoss) throw new IllegalStateException(
          s"data loss detected on ${p.name}: file truncated below planned byte ${p.until} " +
            s"while reading (at byte $pos). Set failOnDataLoss=false to keep what remains.")
        true
      }
      if (startAt < p.from) {
        var done = false
        while (!done) {
          val b = in.read()
          if (b == -1) { exhausted = truncatedMidRead(); done = true }
          else { pos += 1; done = b == '\n' } // pos counts only consumed bytes
        }
      }
      private var linePos = 0L
      private var line: Array[Byte] = _
      private val buf = new java.io.ByteArrayOutputStream(256)

      override def next(): Boolean = {
        if (exhausted || pos >= p.until) return false
        linePos = pos
        buf.reset()
        var b = in.read()
        while (b != -1 && b != '\n') { buf.write(b); b = in.read() }
        if (b == -1) return !truncatedMidRead()
        pos += buf.size() + 1
        line = buf.toByteArray
        true
      }

      override def get(): InternalRow = {
        // strip a trailing '\r' so CRLF corpora read identically to LF ones
        val n = if (line.nonEmpty && line(line.length - 1) == '\r') line.length - 1 else line.length
        InternalRow(
          UTF8String.fromString(p.name),
          linePos,
          UTF8String.fromBytes(line, 0, n))
      }

      override def close(): Unit = raf.close()
    }
  }
}
