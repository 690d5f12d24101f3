package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.ZOrder
import graft.tools.Probe.{num, timed}

/** LAYOUT probe: Morton vs Hilbert curve layout,
  * measured as the thing the layout exists for — the number of files a
  * parquet reader must scan under a box-filter battery, given each file's
  * footer MIN/MAX on the filtered columns. Both layouts are written with
  * the IDENTICAL machinery (`repartitionByRange` + `sortWithinPartitions`
  * on the curve key, same file count, same rank normalization) so the only
  * degree of freedom is the curve itself. Hilbert's unit-step continuity
  * (ZOrderSpec proves it cell-exactly) gives each contiguous key range a
  * tighter bounding box than Morton's quadrant jumps, which shows up
  * directly as fewer overlapping files per box query.
  *
  * Battery: for each dimension, 8 boxes of 1/8th of that dimension's
  * domain (the other dimension unconstrained), plus 16 square boxes of
  * 1/4 × 1/4 of the joint domain — the selective-filter shapes a
  * lakehouse scan planner actually prunes with.
  *
  * Writes LAYOUT_PROBE.json. The property fails if Hilbert scans MORE
  * total files than Morton across the battery (the probe's reason to exist
  * is to certify Hilbert ≤ Morton here).
  *
  * Usage: runMain graft.tools.Probe layout [sfDir] [numFiles] [outJson]
  */
object LayoutProbe {

  private def fileRanges(
      spark: SparkSession, dir: String, c1: String, c2: String): Seq[(Long, Long, Long, Long)] = {
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
      .flatMap { f =>
        val r = spark.read.parquet(f).agg(
          min(c1), max(c1), min(c2), max(c2)).head()
        // an empty part file (possible under skewed range partitioning)
        // has null min/max and can never be scanned by any box
        if (r.isNullAt(0)) None
        else Some((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      }
  }

  def run(ctx: Probe.Ctx): Probe.Result = {
    import ctx.{args, spark}
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val numFiles = args.lift(1).map(_.toInt).getOrElse(64)
    val outJson = args.lift(2).getOrElse("LAYOUT_PROBE.json")

    val o = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val Seq(okMin, okMax, ckMin, ckMax) =
      o.agg(min("o_orderkey"), max("o_orderkey"),
        min("o_custkey"), max("o_custkey")).head().toSeq.map(_.asInstanceOf[Long])
    val dims = Seq((col("o_orderkey"), okMin, okMax), (col("o_custkey"), ckMin, ckMax))
    val bits = 16

    val tmp = ctx.tempDir("layout")
    val (_, tMorton) = timed(ZOrder.writeZOrdered(
      o, ZOrder.zValue(dims, bits), s"$tmp/morton", numFiles))
    val (_, tHilbert) = timed(ZOrder.writeHilbertOrdered(
      o, dims, bits, s"$tmp/hilbert", numFiles))

    // the box battery, as (lo1, hi1, lo2, hi2) with Long.Min/Max = open
    val d1 = okMax - okMin
    val d2 = ckMax - ckMin
    val boxes =
      (0 until 8).map { k =>
        (okMin + k * d1 / 8, okMin + (k + 1) * d1 / 8, Long.MinValue, Long.MaxValue)
      } ++
      (0 until 8).map { k =>
        (Long.MinValue, Long.MaxValue, ckMin + k * d2 / 8, ckMin + (k + 1) * d2 / 8)
      } ++
      (for (a <- 0 until 4; b <- 0 until 4) yield (
        okMin + a * d1 / 4, okMin + (a + 1) * d1 / 4,
        ckMin + b * d2 / 4, ckMin + (b + 1) * d2 / 4))

    def scanned(ranges: Seq[(Long, Long, Long, Long)]): Seq[Int] =
      boxes.map { case (l1, h1, l2, h2) =>
        ranges.count { case (f1lo, f1hi, f2lo, f2hi) =>
          f1lo <= h1 && f1hi >= l1 && f2lo <= h2 && f2hi >= l2
        }
      }
    val mr = fileRanges(spark, s"$tmp/morton", "o_orderkey", "o_custkey")
    val hr = fileRanges(spark, s"$tmp/hilbert", "o_orderkey", "o_custkey")
    require(mr.nonEmpty && hr.nonEmpty && mr.size <= numFiles && hr.size <= numFiles,
      s"expected <=$numFiles non-empty files per layout, got ${mr.size}/${hr.size}")
    val ms = scanned(mr)
    val hs = scanned(hr)

    // correctness cross-check: one box, both layouts return identical rows
    val (bl1, bh1, bl2, bh2) = boxes.last
    val nM = spark.read.parquet(s"$tmp/morton")
      .filter(col("o_orderkey").between(bl1, bh1) &&
        col("o_custkey").between(bl2, bh2)).count()
    val nH = spark.read.parquet(s"$tmp/hilbert")
      .filter(col("o_orderkey").between(bl1, bh1) &&
        col("o_custkey").between(bl2, bh2)).count()
    require(nM == nH, s"layouts disagree on box rows: $nM vs $nH")

    val json = new StringBuilder
    json.append("{")
    json.append(s""""sf_dir":"$sfDir","num_files":$numFiles,"bits":$bits,""")
    json.append(s""""n_boxes":${boxes.size},""")
    json.append(s""""write_sec_morton":${num(tMorton, 2)},"write_sec_hilbert":${num(tHilbert, 2)},""")
    json.append(s""""scanned_files_morton":${ms.sum},"scanned_files_hilbert":${hs.sum},""")
    json.append(s""""mean_scanned_morton":${num(ms.sum.toDouble / boxes.size, 2)},""")
    json.append(s""""mean_scanned_hilbert":${num(hs.sum.toDouble / boxes.size, 2)},""")
    json.append(s""""per_box_morton":[${ms.mkString(",")}],""")
    json.append(s""""per_box_hilbert":[${hs.mkString(",")}],""")
    json.append(s""""hilbert_not_worse":${hs.sum <= ms.sum}}""")
    System.err.println(s"[layout] morton scans ${ms.sum}, hilbert scans ${hs.sum} " +
      s"of ${numFiles * boxes.size} file-box pairs -> $outJson")
    Probe.Result(json.toString, outJson, hs.sum <= ms.sum)
  }
}
