package graft.tools

/** The bench floor-regression gate: `BENCH_SELF.json` carries each
  * query's warm-min (`queries_min` — the floor a plan can hit on this box)
  * beside the median;
  * `tools/bench_floor_windows.json` pins the warm-min maps of the last ≤5
  * committed definitive sf0.1 windows. A query's floor is the MEDIAN of
  * its committed window mins, and the gate fires when a new warm min
  * exceeds `floor × max(factor, slack × spread)` where
  * `spread = max(window mins) / floor` — the per-query variance band.
  *
  * Why median-of-windows instead of a ratcheted `min(old, new)`:
  * the ratchet converted ONE unrepresentatively fast window into a
  * permanent tripwire — pq99's committed 0.33 s floor failed the very
  * next driver window (1.18 s) on identical code, because the query is
  * genuinely bimodal (JIT tier-up churn, `tools/pq99_probe_r20.json`).
  * With the median as the floor a lucky window can at most become ONE
  * sample, and the spread term widens the band exactly for the queries
  * whose committed history shows real mode-to-mode variance while
  * keeping the plain 2× band for stable ones. A single-window history
  * reduces to the old behavior (spread = 1 → plain `factor`).
  * BenchFloorSpec runs [[violations]] over the committed artifacts and
  * fails red on any breach; a new definitive window is appended by
  * [[FloorPin]] when a round's sf0.1 bench lands.
  */
object BenchFloors {

  /** One committed definitive bench window: its id and warm-min map. */
  final case class Window(id: String, mins: Map[String, Double])

  /** Lower-middle median (matches Bench's rep median). */
  def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s((s.size - 1) / 2)
  }

  /** Per-query floor (median of committed window mins) and allowed
    * threshold. Queries present in only some windows use the values they
    * have — a new query's single window is its floor with the plain
    * `factor` band.
    */
  def thresholdOf(
      windowMins: Seq[Double], factor: Double, slack: Double): (Double, Double) = {
    val floor = medianOf(windowMins)
    val spread = if (floor > 0) windowMins.max / floor else 1.0
    (floor, floor * math.max(factor, slack * spread))
  }

  /** Queries whose warm min exceeds their variance-banded threshold:
    * (name, min, threshold). Queries absent from the committed windows
    * are skipped (no floor yet); retired queries have no min.
    */
  def violations(
      mins: Map[String, Double],
      windows: Seq[Window],
      factor: Double = 2.0,
      slack: Double = 1.5): Seq[(String, Double, Double)] =
    mins.toSeq.sorted.flatMap { case (name, m) =>
      val hist = windows.flatMap(_.mins.get(name))
      if (hist.isEmpty) None
      else {
        val (_, threshold) = thresholdOf(hist, factor, slack)
        if (m > threshold) Some((name, m, threshold)) else None
      }
    }

  /** Minimal flat-JSON object reader for the bench artifacts (numbers and
    * nulls only — the exact shape Bench emits). Returns empty when the
    * file is missing, so a fresh clone without artifacts stays green.
    */
  def readNumberMap(path: String, key: Option[String]): Map[String, Double] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isReadable(p)) return Map.empty
    val body = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    val obj = key match {
      case Some(k) =>
        val at = body.indexOf("\"" + k + "\":{")
        if (at < 0) return Map.empty
        objectAt(body, body.indexOf('{', at)).getOrElse(return Map.empty)
      case None => body
    }
    numberEntries(obj)
  }

  private def numberEntries(obj: String): Map[String, Double] = {
    val entry = """"([^"]+)"\s*:\s*(-?[0-9][0-9.eE+-]*|null)""".r
    entry.findAllMatchIn(obj).flatMap { m =>
      if (m.group(2) == "null") None
      else scala.util.Try(m.group(2).toDouble).toOption.map(m.group(1) -> _)
    }.toMap
  }

  /** The balanced-brace object starting at `start` (which must index a
    * '{'), or None when unterminated. Sufficient for the two artifacts —
    * neither embeds braces in strings.
    */
  private def objectAt(body: String, start: Int): Option[String] = {
    if (start < 0 || start >= body.length || body.charAt(start) != '{') return None
    var depth = 0
    var i = start
    while (i < body.length) {
      body.charAt(i) match {
        case '{' => depth += 1
        case '}' => depth -= 1; if (depth == 0) return Some(body.substring(start, i + 1))
        case _ =>
      }
      i += 1
    }
    None
  }

  /** The committed window history (`tools/bench_floor_windows.json`),
    * oldest first. Empty when the file is missing or shapeless.
    */
  def readWindows(path: String): Seq[Window] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isReadable(p)) return Seq.empty
    val body = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    val idPat = """"id"\s*:\s*"([^"]+)"""".r
    idPat.findAllMatchIn(body).flatMap { m =>
      val minsAt = body.indexOf("\"mins\"", m.end)
      if (minsAt < 0) None
      else objectAt(body, body.indexOf('{', minsAt))
        .map(o => Window(m.group(1), numberEntries(o)))
    }.toSeq
  }

  /** Serialize a window history back to the committed shape. */
  def writeWindows(path: String, windows: Seq[Window]): Unit = {
    def num(v: Double): String = {
      val s = v.toString
      if (s.contains("E") || s.contains("e"))
        String.format(java.util.Locale.ROOT, "%.9f", Double.box(v))
      else s
    }
    val body = windows.map { w =>
      val mins = w.mins.toSeq.sorted.map { case (k, v) => s"""  "$k": ${num(v)}""" }
        .mkString("{\n", ",\n", "\n }")
      s""" {"id": "${w.id}",\n  "mins": $mins}"""
    }.mkString(
      "{\n \"note\": \"Committed definitive sf0.1 bench windows (queries_min), " +
        "most recent last, capped at 5. Floor = per-query median across windows; " +
        "gate threshold = median * max(factor, slack*spread) where spread = " +
        "max/median (BenchFloors).\",\n \"windows\": [\n", ",\n", "\n ]\n}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }

  /** The sf tag of a BENCH_SELF artifact ("" when unreadable). */
  def artifactSf(path: String): String = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isReadable(p)) return ""
    val body = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    """"sf"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(body).map(_.group(1)).getOrElse("")
  }
}

/** Append a definitive sf0.1 window's warm mins to the committed history.
  * Refuses non-sf0.1 artifacts; keeps the 5 most recent windows; replaces
  * a window with the same id (re-running a round's bench updates, not
  * duplicates).
  *
  * Usage: runMain graft.tools.FloorPin <windowId> [benchSelfPath]
  */
object FloorPin {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: FloorPin <windowId> [benchSelfPath]")
    val id = args(0)
    val self = if (args.length > 1) args(1) else "BENCH_SELF.json"
    val path = "tools/bench_floor_windows.json"
    require(BenchFloors.artifactSf(self).endsWith("sf0.1"),
      s"$self is not a definitive sf0.1 artifact")
    val mins = BenchFloors.readNumberMap(self, Some("queries_min"))
    require(mins.nonEmpty, s"no queries_min in $self")
    val kept = BenchFloors.readWindows(path).filterNot(_.id == id) :+
      BenchFloors.Window(id, mins)
    BenchFloors.writeWindows(path, kept.takeRight(5))
    println(s"pinned window '$id' (${mins.size} queries); history now " +
      BenchFloors.readWindows(path).map(_.id).mkString(", "))
  }
}
