package graft.tools

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.Sessions

/** One main for the probes that regenerate a committed JSON. Each mode
  * keeps its own measurement, positional args and pass/fail property; the
  * harness gives every mode the same [[graft.Sessions]] session and a
  * scratch directory, deleted when the mode ends whether it passed, failed
  * or threw, then prints the mode's JSON line, writes it to the mode's
  * file and exits 1 when the property failed.
  *
  * Usage: runMain graft.tools.Probe <mode> [args...]
  * {{{
  *   scale     [sfSmallDir sfBigDir synthDir]  SCALE_PROBE.json      (ScaleProbe)
  *   selfidx   [batches batchRows]             SELFIDX_PROBE.json    (SelfIdxScaleProbe)
  *   cc                                        CC_SCALE_PROBE.json   (CcScaleProbe)
  *   state                                     STATE_PROBE.json      (StateScaleProbe)
  *   retention                                 RETENTION_PROBE.json  (RetentionProbe)
  *   layout    [sfDir numFiles outJson]        LAYOUT_PROBE.json     (LayoutProbe)
  *   dq25floor [sfDir]                         tools/dq25_floor.json (Dq25FloorProbe)
  * }}}
  */
object Probe {

  /** A mode's answer: its JSON line, the file it belongs in, and whether
    * the property it checks held.
    */
  final case class Result(json: String, path: String, ok: Boolean)

  /** What a mode runs with: the session, its positional args, and the
    * scratch directory its temporary files go under.
    */
  final case class Ctx(spark: SparkSession, args: Seq[String], scratch: Path) {
    def tempDir(prefix: String): String = Files.createTempDirectory(scratch, prefix).toString
  }

  private val modes: Map[String, Ctx => Result] = Map(
    "scale" -> ScaleProbe.run,
    "selfidx" -> SelfIdxScaleProbe.run,
    "cc" -> CcScaleProbe.run,
    "state" -> StateScaleProbe.run,
    "retention" -> RetentionProbe.run,
    "layout" -> LayoutProbe.run,
    "dq25floor" -> Dq25FloorProbe.run)

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.flatMap(modes.get).getOrElse {
      System.err.println(
        s"usage: graft.tools.Probe <${modes.keys.toSeq.sorted.mkString("|")}> [args...]")
      sys.exit(2)
    }
    val spark = Sessions.local()
    val scratch = Files.createTempDirectory("graft-probe")
    val r =
      try mode(Ctx(spark, args.toSeq.drop(1), scratch))
      finally {
        spark.stop()
        org.apache.commons.io.FileUtils.deleteQuietly(scratch.toFile)
      }
    println(r.json)
    try Files.writeString(Paths.get(r.path), r.json + "\n")
    catch { case e: Throwable => System.err.println(s"[probe] ${r.path} write failed: $e") }
    if (!r.ok) sys.exit(1)
  }

  /** Locale-independent fixed-decimal JSON number: an f"" interpolator
    * follows the JVM default locale, which under a comma-decimal locale
    * emits invalid JSON.
    */
  def num(v: Double, dp: Int): String =
    String.format(java.util.Locale.ROOT, "%." + dp + "f", Double.box(v))

  /** `body`'s value and the seconds it took. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}
