package graft.sources.warc

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, Write, WriteBuilder}
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.sources.{SegmentSink, SegmentWriter}

/** The WRITE side of the `graft-warc` medium — archive-as-you-crawl: each
  * epoch's partition lands as ONE immutable `.warc.gz` segment of
  * per-record gzip members (the Common Crawl shape the READ side tails),
  * via write-to-temp + atomic rename at the driver's job/epoch commit —
  * the shared effectively-once landing ([[graft.sources.SegmentSink]]) on
  * the WARC container: segment names are pure functions of (query tag, epoch,
  * partition), so a replayed micro-batch renames over its own previous
  * output, and a batch job's uuid tag means SaveMode.Append always ADDS.
  *
  * Input contract (case-insensitive, exact match preferred):
  *   - `target_uri` string (required) — becomes WARC-Target-URI;
  *   - `content` binary or string (required) — the record block;
  *   - `warc_type` string (optional; default `resource`);
  *   - `warc_date` string (optional; default the epoch instant) — callers
  *     wanting real fetch times pass the column; the default is a CONSTANT
  *     so a replayed epoch re-serializes byte-identically (wall-clock
  *     stamping would break the rename-over-itself idempotence);
  *   - `record_id` string (optional; default
  *     `<urn:graft:<tag>:<partition>:<ordinal>>` — deterministic per
  *     replay for the same reason).
  */
class GraftWarcWriteBuilder(info: LogicalWriteInfo) extends WriteBuilder {
  private val dir = GraftWarc.dir(
    new org.apache.spark.sql.util.CaseInsensitiveStringMap(info.options()))

  private def colIdx(name: String, required: Boolean): Int = {
    val names = info.schema().fieldNames
    val idx = names.indexOf(name) match {
      case -1 => names.indexWhere(_.equalsIgnoreCase(name))
      case i => i
    }
    require(!required || idx >= 0, s"graft-warc writes need a '$name' column")
    idx
  }

  private val uriIdx = colIdx("target_uri", required = true)
  private val contentIdx = colIdx("content", required = true)
  private val typeIdx = colIdx("warc_type", required = false)
  private val dateIdx = colIdx("warc_date", required = false)
  private val idIdx = colIdx("record_id", required = false)
  private val langIdx = colIdx("content_language", required = false)
  require(info.schema().fields(uriIdx).dataType == StringType,
    "graft-warc 'target_uri' must be string")
  // optional columns get the same plan-time check as target_uri — a wrong
  // type must fail at build(), not as an executor-side ClassCastException
  Seq("warc_type" -> typeIdx, "warc_date" -> dateIdx, "record_id" -> idIdx,
      "content_language" -> langIdx).foreach {
    case (n, i) => require(i < 0 || info.schema().fields(i).dataType == StringType,
      s"graft-warc '$n' must be string, got ${info.schema().fields(i).dataType.catalogString}")
  }
  private val contentIsString = info.schema().fields(contentIdx).dataType match {
    case BinaryType => false
    case StringType => true
    case other => throw new IllegalArgumentException(
      s"graft-warc 'content' must be binary or string, got ${other.catalogString}")
  }
  private val cols = WarcWriteCols(uriIdx, contentIdx, contentIsString, typeIdx, dateIdx, idIdx, langIdx)

  override def build(): Write = {
    val (d, c) = (dir, cols) // the writer closure ships; capture values, not this
    SegmentSink.write(dir, info.queryId(),
      (tag, partitionId, taskId) => new GraftWarcSegmentWriter(d, c, tag, partitionId, taskId),
      SegmentSink.land(dir, _, _))
  }
}

/** Resolved input column indexes for the sink. */
case class WarcWriteCols(
    uri: Int, content: Int, contentIsString: Boolean,
    typ: Int, date: Int, id: Int, lang: Int = -1)

/** Task-side writer: records serialize as per-record gzip members into
  * the temp through one close-shielded stream.
  */
class GraftWarcSegmentWriter(
    dir: String, cols: WarcWriteCols, tag: String, partitionId: Int, taskId: Long)
    extends SegmentWriter(dir, tag, partitionId, taskId, ".warc.gz") {
  private lazy val shield: java.io.OutputStream = new java.io.FilterOutputStream(stream) {
    override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)
    override def close(): Unit = flush()
  }

  override def write(row: InternalRow): Unit = {
    val uri = row.getUTF8String(cols.uri)
    require(uri != null, "graft-warc: null target_uri row")
    val content =
      if (cols.contentIsString) {
        val v = row.getUTF8String(cols.content)
        require(v != null, "graft-warc: null content row")
        v.getBytes
      } else {
        val v = row.getBinary(cols.content)
        require(v != null, "graft-warc: null content row")
        v
      }
    def opt(idx: Int, default: String): String =
      if (idx < 0 || row.isNullAt(idx)) default else row.getUTF8String(idx).toString
    val headers = Seq(
      "WARC-Type" -> opt(cols.typ, "resource"),
      "WARC-Record-ID" -> opt(cols.id, s"<urn:graft:$tag:$partitionId:$rows>"),
      "WARC-Date" -> opt(cols.date, "1970-01-01T00:00:00Z"),
      "WARC-Target-URI" -> uri.toString) ++
      // ISO 28500 §5: WARC-Identified-Content-Language — written only when
      // the caller identified one (real WET records carry it; no default)
      (if (cols.lang >= 0 && !row.isNullAt(cols.lang))
        Seq("WARC-Identified-Content-Language" -> row.getUTF8String(cols.lang).toString)
      else Nil)
    val gz = new java.util.zip.GZIPOutputStream(shield, 64 * 1024)
    gz.write(GraftWarc.recordBytes(headers, content))
    gz.close() // ends the member + its deflater; the shield keeps the temp open
    rows += 1
  }
}
