package graft.sources.jsonl

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.util.Random

import graft.SparkTestBase

/** Seeded randomized torn-write fuzz of the jsonl framing primitives —
  * `completeLength` (tail semantics over a partial append) and
  * `lineBoundaryNear` (admission-cap line alignment). Every case writes a
  * random prefix of a random line set, checks both functions against a
  * string-level oracle computed directly on the prefix bytes, then appends
  * the torn remainder and checks the file reads back whole — the
  * crash-mid-append / reader-races-writer story at every byte offset.
  */
class JsonlFramingFuzzSpec extends SparkTestBase {

  private val seed = sys.props.get("graft.fuzz.seed").map(_.toLong).getOrElse(20260815L)

  private lazy val dir: File = new File(tempDir("graft-framing-fuzz"))

  private def write(f: File, bytes: Array[Byte], append: Boolean): Unit = {
    val out = new FileOutputStream(f, append)
    try out.write(bytes) finally out.close()
  }

  test(s"completeLength + lineBoundaryNear match the string oracle over 1200 torn writes [seed=$seed]") {
    info(s"graft.fuzz.seed=$seed")
    val rnd = new Random(seed)
    (0 until 1200).foreach { i =>
      // ~2% giant-line cases cross the 64 KiB backward/forward chunk scans
      val big = rnd.nextInt(50) == 0
      val nLines = if (big) 2 else rnd.nextInt(12)
      val lines = (0 until nLines).map { _ =>
        val len = if (big) 100000 + rnd.nextInt(80000) else rnd.nextInt(40)
        val chars = "abcdefgh 0123{}\":,"
        (0 until len).map(_ => chars(rnd.nextInt(chars.length))).mkString
      }
      val full = lines.map(_ + "\n").mkString.getBytes(StandardCharsets.UTF_8)
      val torn = rnd.nextInt(full.length + 1)
      val prefix = java.util.Arrays.copyOf(full, torn)

      val f = new File(dir, s"fuzz-$i.jsonl")
      write(f, prefix, append = false)
      try {
        // oracle: longest prefix ending in '\n'
        val lastNl = prefix.lastIndexWhere(_ == '\n')
        val wantComplete = (lastNl + 1).toLong // -1 + 1 = 0 when no newline
        assert(GraftJsonl.completeLength(f) == wantComplete,
          s"case $i (seed=$seed): completeLength diverged at torn=$torn/${full.length}")

        // lineBoundaryNear from a random true boundary of the prefix
        val boundaries = 0L +: prefix.zipWithIndex
          .collect { case (b, p) if b == '\n' => (p + 1).toLong }.toVector
        val from = boundaries(rnd.nextInt(boundaries.length))
        val target = from + rnd.nextInt(120003).toLong // past EOF sometimes
        val got = GraftJsonl.lineBoundaryNear(f, from, target)
        // oracle mirror of the documented contract: largest newline-end in
        // (from, min(target, len)]; else the first newline-end after
        // max(from, target); else from
        val limit = math.min(target, prefix.length.toLong)
        val lastIn = (from until limit).reverse
          .find(p => prefix(p.toInt) == '\n')
        val want = lastIn match {
          case Some(p) => p + 1
          case None =>
            (math.max(from, target) until prefix.length.toLong)
              .find(p => prefix(p.toInt) == '\n')
              .map(_ + 1).getOrElse(from)
        }
        assert(got == want,
          s"case $i (seed=$seed): lineBoundaryNear($from, $target) = $got, want $want " +
            s"(torn=$torn, len=${prefix.length})")
        assert(got == from || prefix(got.toInt - 1) == '\n',
          s"case $i (seed=$seed): result $got is not a line boundary")

        // heal the tear: append the rest, the file must read back whole
        write(f, java.util.Arrays.copyOfRange(full, torn, full.length), append = true)
        assert(GraftJsonl.completeLength(f) == full.length.toLong,
          s"case $i (seed=$seed): healed file not fully visible")
        val back = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
        assert(back == lines.map(_ + "\n").mkString,
          s"case $i (seed=$seed): healed content diverged")
      } finally f.delete()
    }
  }
}
