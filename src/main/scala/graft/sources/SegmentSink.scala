package graft.sources

import java.io.File

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, PhysicalWriteInfo, Write, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}

/** The write side shared by the file media (`graft-jsonl`, `graft-warc`):
  * each epoch's partition lands as ONE immutable segment
  * `seg-<tag>-<partition>.<suffix>` (streaming tag `q<queryTag>-<epoch>`;
  * batch tag `b<uuid>`, one per job; empty partitions write nothing). A
  * task writes only its temp; the driver renames every committed temp into
  * its final name after the whole job/epoch committed, then sweeps stray
  * temps of the tag. The temp name carries no medium suffix, so a tailing
  * reader never sees a half-written segment — segments APPEAR complete.
  *
  * EFFECTIVELY-ONCE: a streaming segment name is a pure function of
  * (query, epoch, partition), so a replayed micro-batch (or a re-attempted
  * task) renames over its own previous output instead of adding a
  * duplicate — the batch-id-keyed idempotence contract of
  * [[graft.streaming.StreamOps.effectivelyOnceParquet]]. The query tag
  * derives from the CHECKPOINT-STABLE query id, so two streaming queries
  * writing one directory never clobber each other's same-numbered epochs or
  * sweep each other's live temps. The batch tag is a FULL uuid, stable
  * across task retries inside the job and unique across jobs (a second
  * SaveMode.Append must ADD segments; a truncated tag's birthday
  * collisions would silently replace an earlier append's segment).
  */
object SegmentSink {

  /** The `Write` of a segment sink. `writer(tag, partitionId, taskId)`
    * builds the task-side writer and ships to executors, so it must capture
    * only serializable values; `land(tag, messages)` is the driver-side
    * commit of a job/epoch ([[land]], plus any medium rule).
    */
  def write(
      dir: String,
      queryId: String,
      writer: (String, Int, Long) => DataWriter[InternalRow],
      land: (String, Array[WriterCommitMessage]) => Unit): Write = new Write {
    override def toBatch: BatchWrite = new BatchWrite {
      private val jobTag = "b" + java.util.UUID.randomUUID().toString
      override def createBatchWriterFactory(i: PhysicalWriteInfo): DataWriterFactory =
        SegmentWriterFactory(jobTag, writer)
      override def commit(messages: Array[WriterCommitMessage]): Unit = land(jobTag, messages)
      override def abort(messages: Array[WriterCommitMessage]): Unit = sweepTemps(dir, jobTag)
    }
    override def toStreaming: StreamingWrite = new StreamingWrite {
      private val queryTag = "q" + queryId.replace("-", "").take(12)
      override def createStreamingWriterFactory(i: PhysicalWriteInfo): StreamingDataWriterFactory =
        SegmentWriterFactory(queryTag, writer)
      override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
        land(SegmentWriterFactory.epochTag(queryTag, epochId), messages)
      override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
        sweepTemps(dir, SegmentWriterFactory.epochTag(queryTag, epochId))
    }
  }

  /** Driver-side landing of one job's/epoch's segments: atomically rename
    * every committed task's temp into its final name (REPLACE_EXISTING — a
    * replayed epoch replaces itself), then sweep stray temps of the same
    * tag (failed/speculative attempts whose messages never reached the
    * driver). Runs ONLY after every task committed, so an abort can never
    * race a rename: no final name appears for a job that did not commit.
    */
  def land(dir: String, tag: String, messages: Array[WriterCommitMessage],
      landed: File => Unit = _ => ()): Unit = {
    messages.foreach {
      case SegmentCommit(tmpName, segment, _) if tmpName != null =>
        val target = new File(dir, segment)
        java.nio.file.Files.move(new File(dir, tmpName).toPath, target.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        landed(target)
      case _ => ()
    }
    sweepTemps(dir, tag)
  }

  /** Delete the temps of `tag` (only temps can exist after an abort:
    * renames are commit-side).
    */
  def sweepTemps(dir: String, tag: String): Unit =
    FileTail.listFiles(dir, Seq(".inprogress"), prefix = s".seg-$tag-").foreach(_.delete())
}

/** One writer factory for both the batch and the streaming path; the
  * streaming tag gains the epoch.
  */
case class SegmentWriterFactory(tag: String, writer: (String, Int, Long) => DataWriter[InternalRow])
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    writer(tag, partitionId, taskId)
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    writer(SegmentWriterFactory.epochTag(tag, epochId), partitionId, taskId)
}

object SegmentWriterFactory {
  def epochTag(queryTag: String, epochId: Long): String = f"$queryTag-$epochId%06d"
}

/** A task's landed temp: `tmpName` (null when the task wrote nothing)
  * renames to `segment` at the driver's commit.
  */
case class SegmentCommit(tmpName: String, segment: String, rows: Long) extends WriterCommitMessage

/** Task-side segment writer: lands ONLY its temp file. The rename into the
  * visible segment name happens at the DRIVER's job/epoch commit
  * ([[SegmentSink.land]]): a task-side rename would race job abort — a
  * task already authorized by the commit coordinator can finish its rename
  * after abort's cleanup scan ran, leaving an orphan segment a retried job
  * (under a fresh tag) would then duplicate. The temp name carries the
  * ATTEMPT's taskId: concurrent attempts of the same partition
  * (speculation, zombie tasks) never write, truncate or delete one shared
  * temp file.
  */
abstract class SegmentWriter(dir: String, tag: String, partitionId: Int, taskId: Long, suffix: String)
    extends DataWriter[InternalRow] {
  private val finalName = f"seg-$tag-$partitionId%04d$suffix"
  private val tmpName = s".$finalName.$taskId.inprogress"
  private val tmp = new File(dir, tmpName)
  private var out: java.io.OutputStream = _
  /** Rows written so far. */
  protected var rows = 0L

  /** The temp's stream, opened (and the directory created) on first use. */
  protected def stream: java.io.OutputStream = {
    if (out == null) {
      java.nio.file.Files.createDirectories(new File(dir).toPath)
      out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(tmp), 64 * 1024)
    }
    out
  }

  override def commit(): WriterCommitMessage = {
    if (out != null) out.close()
    SegmentCommit(if (out == null) null else tmpName, finalName, rows)
  }

  override def abort(): Unit = {
    if (out != null) out.close()
    tmp.delete()
    ()
  }

  override def close(): Unit = ()
}
