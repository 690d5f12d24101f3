package graft.sources

/** Shared JSON string escaping for the media's checkpoint offset files.
  * Topic and file names are directory/file names — quotes, backslashes AND
  * control characters are legal bytes there, and Spark's offset log is
  * line-oriented, so an unescaped emission would split the checkpoint
  * record or make the parse regexes mis-split on restart (truncated name →
  * re-read from 0 → duplicates). One implementation, used by both offset
  * serializers ([[graft.sources.FileTailOffset]] for graft-jsonl and
  * graft-warc, [[graft.sources.kafkalike.GraftKafkaOffset]]),
  * property-tested in GraftJsonlSourceSpec.
  */
private[graft] object OffsetJson {
  def escape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '"'  => sb.append("\\\"")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  def unescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' if i + 5 < s.length =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case e => sb.append(e); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
