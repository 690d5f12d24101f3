package graft.sources.jsonl

import java.io.File
import java.nio.file.Files

import graft.SparkTestBase
import graft.sources.SegmentCommit

/** Checkpoint-compatibility of the tagged streaming segment names: a
  * checkpoint created before the query tag landed in the name replays its
  * last epoch under the NEW name — landing it must delete the legacy-named
  * twin or the epoch's records read back twice.
  */
class GraftJsonlLegacyTwinSpec extends SparkTestBase {

  private def land(dir: String, tag: String, part: Int, lines: String): String = {
    val finalName = f"seg-$tag-$part%04d.jsonl"
    val tmpName = s".$finalName.77.inprogress"
    Files.writeString(new File(dir, tmpName).toPath, lines)
    GraftJsonl.commitSegments(dir, tag,
      Array(SegmentCommit(tmpName, finalName, lines.linesIterator.size.toLong)))
    finalName
  }

  test("landing a tagged streaming segment deletes its legacy-named twin") {
    val dir = tempDir("graft-jsonl-legacy")
    // the pre-tag checkpoint's output for epoch 3, partition 1
    val legacy = new File(dir, "seg-000003-0001.jsonl")
    Files.writeString(legacy.toPath, "a\nb\n")
    val landed = land(dir, "qabcdef123456-000003", 1, "a\nb\n")
    assert(new File(dir, landed).exists(), "tagged segment must land")
    assert(!legacy.exists(),
      "legacy twin must be removed or the replayed epoch reads back twice")
    // an UNRELATED legacy segment (different epoch/partition) is untouched
    val other = new File(dir, "seg-000002-0001.jsonl")
    Files.writeString(other.toPath, "c\n")
    land(dir, "qabcdef123456-000003", 2, "d\n")
    assert(other.exists(), "only the exact (epoch, partition) twin may go")
  }

  test("a same-numbered segment from an UNRELATED run survives (content differs)") {
    val dir = tempDir("graft-jsonl-legacy")
    // an older untagged run's committed epoch-0 output shares the directory;
    // a fresh-checkpoint tagged query restarts its own epochs at 0 — its
    // landings must NOT reap the other run's data (ADVICE r13: the
    // unconditional delete progressively destroyed the untagged run)
    val foreign = new File(dir, "seg-000000-0000.jsonl")
    Files.writeString(foreign.toPath, "their-record-1\ntheir-record-2\n")
    land(dir, "qfedcba654321-000000", 0, "my-record\n")
    assert(foreign.exists(),
      "non-identical twin is another run's committed data — deleting it is silent data loss")
    // same length, different bytes: still not a twin
    val foreign2 = new File(dir, "seg-000001-0000.jsonl")
    Files.writeString(foreign2.toPath, "AAAA\n")
    land(dir, "qfedcba654321-000001", 0, "BBBB\n")
    assert(foreign2.exists(), "byte-equality, not length-equality, gates the reap")
    // a TRUE replay twin (byte-identical) still retires
    val twin = new File(dir, "seg-000002-0000.jsonl")
    Files.writeString(twin.toPath, "same\nbytes\n")
    land(dir, "qfedcba654321-000002", 0, "same\nbytes\n")
    assert(!twin.exists(), "identical twin must still be reaped (upgrade dedup)")
  }

  test("batch-tagged landings never delete legacy-looking files") {
    val dir = tempDir("graft-jsonl-legacy")
    val legacy = new File(dir, "seg-000001-0000.jsonl")
    Files.writeString(legacy.toPath, "x\n")
    // batch tags are 'b' + full uuid — the legacy-twin rule must not fire
    val tag = "b" + java.util.UUID.randomUUID().toString
    land(dir, s"$tag-000001", 0, "y\n")
    assert(legacy.exists(), "a batch job must not reap unrelated segments")
  }
}
