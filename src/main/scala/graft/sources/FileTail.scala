package graft.sources

import java.io.{File, RandomAccessFile}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}

/** Streaming offset of a directory tail: per-file byte position after the
  * last consumed complete unit (a line for graft-jsonl, a record or gzip
  * member for graft-warc), serialized as sorted JSON
  * `{"a.jsonl":123,"b.jsonl":0}`. File names are JSON-escaped
  * ([[OffsetJson]]) — quotes/backslashes AND control characters: a newline
  * is a legal Linux filename byte, and Spark's offset log is line-oriented,
  * so an unescaped emission would split the checkpoint record and make
  * `fromJson` mis-parse on restart (truncated name → re-read from 0 →
  * duplicates).
  */
case class FileTailOffset(positions: Map[String, Long]) extends Offset {
  override def json(): String =
    positions.toSeq.sortBy(_._1)
      .map { case (f, p) => s""""${OffsetJson.escape(f)}":$p""" }
      .mkString("{", ",", "}")
}

object FileTailOffset {
  private val entry = """"((?:[^"\\]|\\.)*)"\s*:\s*([0-9]+)""".r

  def fromJson(s: String): FileTailOffset =
    FileTailOffset(entry.findAllMatchIn(s).map { m =>
      OffsetJson.unescape(m.group(1)) -> m.group(2).toLong
    }.toMap)
}

/** What a tailed medium supplies to [[FileTailStream]]: its framing. Every
  * position in and out of these calls is a unit boundary (or 0).
  */
trait TailFraming {
  /** Source name for error messages (`graft-jsonl`, `graft-warc`). */
  def medium: String

  /** Position after the last complete unit of `f`, whose length is `len`.
    * `from` is a complete end this stream saw earlier for the same file
    * (or 0), from which a resumable walk may continue.
    */
  def completeEnd(f: File, from: Long, len: Long): Long

  /** The admission cut: the largest unit end in (from, target], or the end
    * of the first unit past `target` when that unit alone overruns it (the
    * cap yields, never starves); `from` when no unit is complete yet.
    * `complete` is the file's complete end.
    */
  def cut(f: File, from: Long, target: Long, complete: Long): Long

  /** Input partitions for the scheduled slice `[from, until)` of `f`. */
  def partitions(f: File, from: Long, until: Long): Seq[InputPartition]

  def readerFactory: PartitionReaderFactory
}

/** The micro-batch stream over a directory of append-only files tailed as
  * a log (`tail -f` semantics), one implementation of Structured
  * Streaming's replayable-source contract for every file medium. Each file
  * is an independent log segment; the offset ([[FileTailOffset]]) is a
  * per-file byte position after the last complete unit consumed, so resume
  * is an O(1) seek, an incomplete unit at EOF (an append in flight) waits
  * until it completes, and truncation is detectable by comparison alone.
  * A file that APPEARS mid-stream always starts at 0 (the Kafka
  * new-partition rule); `startAtLatest` applies to the first run only.
  *
  * Data loss (`failOnDataLoss`): a checkpointed file that vanished with
  * UNREAD scheduled bytes, or shrank below its checkpoint, fails the query;
  * `false` drops the vanished file and holds the shrunken one at its
  * checkpoint until it regrows past it (offsets never regress). A vanished
  * file whose checkpointed position was fully consumed is never data loss
  * — deleting a consumed segment is routine log rotation — and
  * `retireConsumed` drops its entry from the offset map.
  *
  * `retentionMs` (read at each planning call, so a live property can move
  * it) turns on active retirement: a fully consumed file unmodified for
  * that long is deleted by the stream and its entry dropped.
  *
  * The driver never reads data: per trigger it stats each listed file and
  * runs the framing's boundary probe on files whose (length, mtime)
  * changed, plus at most one admission cut per capped file.
  */
class FileTailStream(
    dir: String,
    suffixes: Seq[String],
    framing: TailFraming,
    startAtLatest: Boolean,
    failOnDataLoss: Boolean,
    maxBytesPerTrigger: Option[Long],
    retireConsumed: Boolean,
    retentionMs: () => Option[Long] = () => None)
    extends MicroBatchStream with SupportsAdmissionControl {

  private def files: Seq[File] = FileTail.listFiles(dir, suffixes, medium = framing.medium)

  /** name -> (length, lastModified, completeEnd) memo. A fully landed
    * immutable segment never changes, so its boundary probe need not repeat
    * every trigger: the steady-state per-trigger driver cost is ONE stat
    * per listed file. On append the probe resumes from the cached complete
    * end. (length, mtime) keying is the same freshness contract Spark's own
    * file source uses; any append or truncation changes the length.
    */
  private val probeCache = scala.collection.mutable.HashMap.empty[String, (Long, Long, Long)]

  private def completeCached(f: File): Long = {
    val len = f.length(); val mtime = f.lastModified()
    probeCache.get(f.getName) match {
      case Some((l, m, c)) if l == len && m == mtime => c
      case prior =>
        val c = framing.completeEnd(f, prior.map(_._3).filter(_ <= len).getOrElse(0L), len)
        probeCache.put(f.getName, (len, mtime, c))
        c
    }
  }

  /** `body`, or None when the file vanished or was truncated mid-probe:
    * both resolve at the next trigger (the vanished map / the clamped
    * offset handle each).
    */
  private def statSafe[A](body: => A): Option[A] =
    try Some(body)
    catch { case _: java.io.FileNotFoundException | _: java.io.EOFException => None }

  // a file vanishing between the listing and its probe (rotation mid-call)
  // is dropped from the snapshot — the next trigger's listing is the truth
  private def snapshotSafe(pos: File => Long): Map[String, Long] =
    files.flatMap(f => statSafe(pos(f)).map(f.getName -> _)).toMap

  override def initialOffset(): Offset =
    FileTailOffset(snapshotSafe(f => if (startAtLatest) completeCached(f) else 0L))

  override def deserializeOffset(json: String): Offset = FileTailOffset.fromJson(json)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("latestOffset(Offset, ReadLimit) is used")

  /** End-of-complete-data per file, capped to ~maxBytesPerTrigger of new
    * bytes distributed proportionally to each file's backlog, every cut at
    * a unit boundary. The end offset NEVER regresses below the checkpoint:
    * a truncated file is a data-loss error here in strict mode (reporting
    * it only at plan time leaves a race — the file can regrow between the
    * two calls and an end below the checkpoint would then COMMIT, replaying
    * new bytes under previously issued (file, pos) ids); with
    * `failOnDataLoss=false` the clamped offset simply waits until the file
    * regrows past its checkpoint. A file that vanished between the listing
    * and its stat (log rotation mid-trigger) is treated exactly like a
    * checkpointed-but-missing file: its position is carried unchanged and
    * planInputPartitions decides per failOnDataLoss.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startPos = start.asInstanceOf[FileTailOffset].positions
    def startOf(name: String): Long = startPos.getOrElse(name, 0L)
    val fs = files
    val listed = fs.iterator.map(_.getName).toSet
    val complete = fs.flatMap(f => statSafe(completeCached(f)).map(f.getName -> _)).toMap
    // vanished-with-KNOWN-backlog check, keyed on the files that actually
    // STATTED (not merely listed — a file can vanish between the listing
    // and its stat) and run BEFORE cache eviction: the probe cache is the
    // only witness that a vanished file had complete bytes beyond the
    // checkpoint (observed but never scheduled — e.g. deferred by the
    // admission cap). Within a run, strict mode must report that loss;
    // across a restart the cache is empty and a pre-restart append is
    // unobservable — indistinguishable from consumed-then-rotated, so
    // benign by the fully-consumed rule.
    if (failOnDataLoss) startPos.foreach { case (name, p) =>
      if (!complete.contains(name)) probeCache.get(name).foreach { case (_, _, c) =>
        if (c > p) throw new IllegalStateException(
          s"data loss detected on $name: file vanished with ${c - p} observed-but-unconsumed " +
            "bytes beyond the checkpoint. Set failOnDataLoss=false to drop it and continue.")
      }
    }
    // evict to the LISTED set, not the statted one: a listed file whose
    // stat failed this trigger keeps its witness entry for the check above
    probeCache.filterInPlace { case (name, _) => listed(name) }
    complete.foreach { case (name, c) =>
      if (c < startOf(name) && failOnDataLoss)
        throw new IllegalStateException(
          s"data loss detected on $name: consumed through byte ${startOf(name)} but only " +
            s"$c complete bytes remain (truncated). Set failOnDataLoss=false to wait for " +
            "the file to regrow past its checkpoint.")
    }
    // ACTIVE retirement (the Kafka retention.ms analog): a fully consumed,
    // fully landed file (checkpoint == complete end == raw length — no
    // partial unit in flight) unmodified for retentionMs is DELETED and its
    // entry dropped, so the offset map, the checkpoint record and the
    // per-trigger stat loop stay bounded by the ACTIVE file set instead of
    // stream age. Only files with nothing left to schedule qualify, so no
    // planned bytes can ever dangle behind a retirement; a crash between
    // the delete and the offset commit replays as a vanished-but-consumed
    // file, which the planner treats as benign (never data loss).
    // startOf == c EXACTLY: `>=` would also match a file truncated BELOW
    // its checkpoint, which permissive mode holds until it regrows — a
    // file whose current content was never delivered must not be deleted.
    // The retention horizon doubles as the producer-quiescence guard:
    // only files unmodified for retentionMs qualify, so a producer that
    // appends within the horizon is never raced; an append landing in the
    // same instant as the delete is the same torn-rotation hazard as any
    // external log-rotation delete (retention is for directories whose
    // landed files are immutable — the sinks' segments are by
    // construction).
    val retired: Set[String] = retentionMs() match {
      case Some(ret) =>
        val now = System.currentTimeMillis()
        val candidates = fs.filter { f =>
          val name = f.getName
          complete.get(name).exists(c => startOf(name) == c &&
            statSafe(f.length()).contains(c) &&
            now - f.lastModified() >= ret)
        }
        // the delete is the act of retirement: only names whose delete
        // succeeded leave the offset (a failed delete stays active)
        candidates.filter(_.delete()).map(_.getName).toSet
      case None => Set.empty
    }
    val ends: Map[String, Long] = maxBytesPerTrigger match {
      case Some(cap) =>
        val capped = fs.filter(f => complete.contains(f.getName) && !retired(f.getName))
        val backlog = capped.map(f => f -> math.max(0L, complete(f.getName) - startOf(f.getName)))
        val total = backlog.map(_._2).sum
        if (total <= cap) complete -- retired
        else {
          val scale = cap.toDouble / total
          backlog.map { case (f, b) =>
            val name = f.getName
            if (b == 0L) name -> complete(name)
            else {
              val share = math.max(1L, math.floor(b * scale).toLong)
              statSafe(framing.cut(f, startOf(name), startOf(name) + share, complete(name)))
                .map(name -> _).getOrElse(name -> startOf(name)) // vanished mid-probe
            }
          }.toMap
        }
      case None => complete -- retired
    }
    val clamped = ends.map { case (name, e) => name -> math.max(e, startOf(name)) }
    // A checkpointed file absent from the listing has, by construction, a
    // position equal to everything ever SCHEDULED from it (each batch's end
    // becomes the next start before any new schedule), and the
    // known-backlog check above already reported any OBSERVED loss — so its
    // deletion is routine log rotation, not data loss. With retireConsumed
    // (default) the entry is dropped so the offset map stays bounded by the
    // active file set; with retireConsumed=false it is carried silently
    // even when retentionMs is set (a deleted-then-recreated name then
    // resumes at its old position instead of replaying from 0 — the
    // behavior that option buys). Names retention retired THIS trigger are
    // excluded from the carry explicitly: they must leave the committed
    // offset, or the carry would resurrect them every trigger. A file that
    // vanishes MID-trigger (after a successful stat) still carries
    // scheduled bytes in `clamped` and is reported by planInputPartitions
    // per failOnDataLoss.
    // A LISTED file whose stat raced (shrunk/rotated mid-probe) is NOT
    // vanished — the file exists and resolves next trigger. Its entry must
    // carry unchanged in every mode: dropping it would restart the name at
    // 0 (silent re-delivery / offset regression).
    val statRaced = startPos.view.filterKeys(k =>
      listed(k) && !clamped.contains(k) && !retired(k)).toMap
    val vanished =
      if (retireConsumed) Map.empty[String, Long]
      else startPos.view.filterKeys(k =>
        !listed(k) && !clamped.contains(k) && !retired(k)).toMap
    FileTailOffset(clamped ++ statRaced ++ vanished)
  }

  override def reportLatestOffset(): Offset = FileTailOffset(snapshotSafe(completeCached))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val startPos = start.asInstanceOf[FileTailOffset].positions
    val endPos = end.asInstanceOf[FileTailOffset].positions
    val out = ArrayBuffer.empty[InputPartition]
    endPos.toSeq.sortBy(_._1).foreach { case (name, until) =>
      val f = new File(dir, name)
      val from = startPos.getOrElse(name, 0L) // appeared mid-stream: earliest
      if (!f.isFile) {
        // a vanished file with zero unread SCHEDULED bytes (until == from)
        // is routine rotation of a fully consumed segment, never data loss
        if (until > from && failOnDataLoss)
          throw new IllegalStateException(
            s"data loss detected on $name: file vanished with ${until - from} unread bytes " +
              "checkpointed. Set failOnDataLoss=false to drop it and continue.")
        // else: drop the file from the plan
      } else {
        val len = f.length()
        if (len < from) {
          if (failOnDataLoss)
            throw new IllegalStateException(
              s"data loss detected on $name: consumed through byte $from but the file now has " +
                s"only $len bytes (truncated). Set failOnDataLoss=false to hold at the " +
                "checkpoint until the file regrows past it.")
          // truncated tail: nothing to read until the file regrows past its
          // checkpoint; re-appended bytes arrive as new records
        } else if (until > from) {
          if (len < until && failOnDataLoss)
            // truncated between latestOffset and planning: the checkpoint
            // will still commit end=until, so a silent clamp would skip
            // bytes [len, until) forever if the file regrows — the same
            // regrow race latestOffset plugs. Strict mode must report it;
            // only permissive mode clamps (its reader emits the intact
            // units below the cut and drops any torn tail).
            throw new IllegalStateException(
              s"data loss detected on $name: $until bytes were scheduled but the file now has " +
                s"only $len (truncated mid-trigger). Set failOnDataLoss=false to read what " +
                "remains and drop the truncated tail.")
          out ++= framing.partitions(f, from, math.min(until, len))
        }
      }
    }
    out.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = framing.readerFactory
  override def commit(end: Offset): Unit = () // progress lives in Spark's checkpoint
  override def stop(): Unit = ()
}

/** Directory listing, reader open and batch-planning loss handling shared
  * by the file media and their segment maintenance.
  */
object FileTail {

  /** Regular files of `dir` named `prefix…suffix` for one of `suffixes`,
    * name-sorted for deterministic planning order. With `medium` set (a
    * source's path) `dir` must be a directory; without it a missing
    * directory lists as empty (a sink directory before its first landing).
    */
  def listFiles(dir: String, suffixes: Seq[String], prefix: String = "",
      medium: String = ""): Seq[File] = {
    val d = new File(dir)
    require(medium.isEmpty || d.isDirectory, s"$medium path is not a directory: $dir")
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter { f =>
        val n = f.getName
        f.isFile && n.startsWith(prefix) && suffixes.exists(n.endsWith)
      }
      .sortBy(_.getName).toSeq
  }

  /** A reader over the planned slice `[from, until)` of `path`, or an empty
    * one when the file vanished between planning and this open (log
    * rotation mid-trigger) and `failOnDataLoss` is off — the same
    * drop-the-file semantics the planner applies when it sees the vanish
    * first; strict mode reports the loss instead of a raw IO error.
    */
  def openSlice(path: String, name: String, from: Long, until: Long, failOnDataLoss: Boolean)(
      reader: RandomAccessFile => PartitionReader[InternalRow]): PartitionReader[InternalRow] = {
    val raf =
      try new RandomAccessFile(path, "r")
      catch {
        case e: java.io.FileNotFoundException =>
          if (failOnDataLoss)
            throw new IllegalStateException(
              s"data loss detected on $name: file vanished after planning with " +
                s"${until - from} planned bytes. Set failOnDataLoss=false to drop it.", e)
          null
      }
    if (raf != null) reader(raf)
    else new PartitionReader[InternalRow] {
      override def next(): Boolean = false
      override def get(): InternalRow = throw new IllegalStateException("empty reader")
      override def close(): Unit = ()
    }
  }

  /** Batch planning over a snapshot listing: `plan` probes one file. A file
    * that vanished between the listing and its probe (FileNotFound), or was
    * truncated mid-probe (EOF, copy-then-truncate rotation), is the same
    * planning-time loss race: strict mode reports it, permissive drops the
    * file.
    */
  def planBatch(files: Seq[File], failOnDataLoss: Boolean)(
      plan: File => Seq[InputPartition]): Array[InputPartition] =
    files.flatMap { f =>
      try plan(f)
      catch {
        case e @ (_: java.io.FileNotFoundException | _: java.io.EOFException) =>
          if (failOnDataLoss) throw new IllegalStateException(
            s"data loss detected on ${f.getName}: file vanished or was truncated during " +
              "batch planning. Set failOnDataLoss=false to drop it.", e)
          Seq.empty[InputPartition]
      }
    }.toArray
}
