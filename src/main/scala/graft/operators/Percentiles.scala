package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact per-group percentiles by DISTRIBUTED two-pass rank selection — the
  * scale-safe replacement for Spark's `percentile` aggregate, which buffers
  * a value→count map per group inside final aggregation (one multi-GB hash
  * map per reducer once distinct values grow with the data;
  * `Percentile.scala`'s OpenHashMap buffer in the Spark source).
  *
  * Shape (nothing group-sized ever sits in one buffer):
  *   1. `groupBy(group, value).count()` — ONE partial-agg data shuffle;
  *      the raw rows are never sorted and never pass through a single
  *      reducer.
  *   2. Offsets of each distinct value (= rows strictly below it) via the
  *      same two-phase prefix sum as
  *      [[graft.functions.TextFunctions.packSequences]]: values are cut
  *      into monotone ranges (`floor(v / rangeWidth)`), per-range totals
  *      aggregate to a metadata-sized table whose window yields each
  *      range's base offset, and the bases broadcast back onto a running
  *      sum inside the well-distributed `(group, range)` window key.
  *   3. Target ranks per (group, p) from the group totals (metadata-sized,
  *      broadcast) with the standard continuous-interpolation positions
  *      `h = (n-1)·p`, then ONE filtered pass keeps only the distinct
  *      values whose `[offset, offset+count)` span covers `⌊h⌋` or
  *      `⌊h⌋+1` and interpolates.
  *
  * Matches `percentile(value, p)` bit-for-bit on finite doubles — and
  * keeps the builtin's TOTAL order (NaN greatest, ±Inf at the extremes,
  * saturating range buckets) on non-finite ones (PercentilesSpec's
  * non-finite case): identical
  * order statistics and Spark's own weighted interpolation
  * `(⌈h⌉−h)·v_lo + (h−⌊h⌋)·v_hi` (NOT the algebraically-equal
  * `v_lo + frac·Δ`, which differs by ULPs), with the builtin's
  * integral-`h` shortcut returning `v_lo` exactly. Null values are
  * excluded like the builtin; group keys may be null (`<=>` joins).
  *
  * A group whose values are ALL null yields `(g, p, 0, null)` — the
  * builtin's answer — WITHOUT a second corpus scan: the first shuffle
  * keeps its `(g, null)` count row (one row per group, no data-sized
  * growth) and the group census derives from the already-grouped table.
  *
  * One DELIBERATE divergence from the builtin, measure-zero and pinned
  * executable in PercentilesSpec: `-0.0` merges with `0.0` (groupBy key
  * normalization — the builtin's boxed-Double map keeps them distinct;
  * the two answers are numerically equal and differ only in the sign bit
  * of a zero).
  *
  * Returns one row per (group, p): `g, p, n, pct`.
  */
object Percentiles {

  def exactGroupPercentiles(
      df: DataFrame,
      groupCol: Column,
      valueCol: Column,
      ps: Seq[Double],
      rangeWidth: Double = 1024.0): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"percentiles must be in [0,1], got $ps")
    require(rangeWidth > 0.0, s"rangeWidth=$rangeWidth must be positive")

    // nulls SURVIVE the whole pipeline as one (g, null) count row per group
    // with an EFFECTIVE count of 0 — a transform, not a filter. This is the
    // one shape that yields the all-null census without a second corpus
    // scan: a `filter(v.isNotNull)` here pushes THROUGH the aggregate into
    // the parquet scan (PushDownPredicates splits and moves predicates on
    // grouping columns), forking the plan into differently-filtered scan
    // subtrees that exchange reuse cannot bridge — measured as +1/+2
    // exchanges and a duplicated corpus scan before this rewrite. With
    // `__c = 0` instead, every consumer below reads the SAME unfiltered
    // subtree, the null row contributes nothing to any offset, total or
    // covers() interval (an empty [off, off) span matches no rank), and
    // n = 0 IS the all-null-group census.
    // Range cut must be MONOTONE in Spark's double sort order or the
    // phase-1/phase-2 offsets diverge from the true order statistics. The
    // long cast saturates, which handles ±Inf and huge finite values for
    // free (they share the extreme buckets, where the within-bucket window
    // still orders them correctly) — but floor(NaN/w) casts to 0, planting
    // NaN in the MIDDLE of the range order while every sort in this plan
    // (and the builtin) treats NaN as the LARGEST double. Route NaN to the
    // top bucket explicitly; inside it the window's orderBy(v) sorts
    // Inf < NaN, matching the global order.
    val cnts = df.select(groupCol.as("g"), valueCol.cast("double").as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c0"))
      .withColumn("c", when(col("v").isNull, lit(0L)).otherwise(col("c0")))
      .withColumn("__rng",
        when(isnan(col("v")), lit(Long.MaxValue))
          .otherwise(floor(col("v") / lit(rangeWidth)).cast("long")))

    // phase 1: per-range totals (partial-agg shuffle, metadata-sized) and
    // each range's cumulative base offset within its group. The null range
    // (one row per group-with-nulls, total 0) sorts first and shifts
    // nothing.
    val wRng = Window.partitionBy(col("__bg")).orderBy(col("__brng"))
    val bases = cnts.groupBy(col("g").as("__bg"), col("__rng").as("__brng"))
      .agg(sum(col("c")).as("__rt"))
      .withColumn("__base", sum(col("__rt")).over(wRng) - col("__rt"))
      .select(col("__bg"), col("__brng"), col("__base"))

    // phase 2: offset of each distinct value = rows strictly below it —
    // broadcast base + running sum inside the (group, range) window key.
    // `<=>` on the range too: the null-v row (range null) must keep flowing
    // (its zero-width span is inert downstream), not silently drop here.
    val wLoc = Window.partitionBy(col("g"), col("__rng")).orderBy(col("v"))
    val offs = cnts
      .join(broadcast(bases),
        col("g") <=> col("__bg") && col("__rng") <=> col("__brng"))
      .withColumn("off", col("__base") + sum(col("c")).over(wLoc) - col("c"))
      .select(col("g"), col("v"), col("c"), col("off"))

    // target ranks per (group, p) — continuous interpolation positions.
    // Totals come from `cnts`, NOT `offs`: the sums are identical (offs is
    // a 1:1 image of cnts) but deriving them from offs would execute the
    // bases broadcast-join subtree a second time in the final plan.
    // n counts effective rows, so an all-null group has n = 0 — its rank
    // columns are inert (no covers() match) and only the null-census
    // branch below emits it.
    val targets = cnts.groupBy(col("g").as("__tg")).agg(sum(col("c")).as("n"))
      .select(col("__tg"), col("n"),
        explode(array(ps.map(lit(_)): _*)).as("p"))
      .withColumn("h", (col("n") - 1).cast("double") * col("p"))
      .withColumn("r_lo", floor(col("h")).cast("long"))
      .withColumn("r_hi", least(floor(col("h")).cast("long") + 1, col("n") - 1))

    def covers(r: Column): Column = col("off") <= r && r < col("off") + col("c")

    // one filtered pass: only the <= 2 spanning values per (group, p) survive
    val withValues = offs
      .join(broadcast(targets),
        col("g") <=> col("__tg") && (covers(col("r_lo")) || covers(col("r_hi"))))
      .groupBy(col("g"), col("p"), col("n"), col("h"),
        col("r_lo"), col("r_hi"))
      .agg(
        max(when(covers(col("r_lo")), col("v"))).as("v_lo"),
        max(when(covers(col("r_hi")), col("v"))).as("v_hi"))
      .select(col("g"), col("p"), col("n"),
        // integral h returns v_lo WITHOUT touching v_hi — the builtin's
        // shortcut. The previous `r_hi === r_lo` guard only caught h = n-1;
        // at interior integral h the weighted form still evaluated
        // 1·v_lo + 0·v_hi, which is exact for finite doubles but turns a
        // NaN/±Inf v_hi into NaN (0·NaN, 0·∞) — round-14 review finding.
        when(col("h") === col("r_lo").cast("double"), col("v_lo"))
          .otherwise(
            (col("r_hi").cast("double") - col("h")) * col("v_lo") +
            (col("h") - col("r_lo").cast("double")) * col("v_hi"))
          .as("pct"))

    // all-null groups: the builtin's `(g, null)` answer with n = 0, one row
    // per requested p — a metadata-level filter of the SAME targets table
    // the covers join broadcasts, so the census costs zero extra scans and
    // zero extra exchanges (PLANS.md: q21/pq75 keep the exchange count they
    // had without it).
    val nullGroups = targets.filter(col("n") === 0)
      .select(col("__tg").as("g"), col("p"),
        col("n"), lit(null).cast("double").as("pct"))

    withValues.unionByName(nullGroups)
  }

  /** The cheap path: Spark's built-in `approx_percentile` (a GK summary —
    * bounded O(1/accuracy) state per group, single aggregation, no second
    * pass) behind the same output shape as [[exactGroupPercentiles]]. Rank
    * error is bounded by 1/accuracy of the row count per group; the merge
    * order of partial summaries varies with partitioning, so results are
    * APPROXIMATE AND PARTITIONING-DEPENDENT — use the exact form wherever a
    * reproducible number matters (the oracle-checked q21 path), this one for
    * interactive scans where a ±1/accuracy rank band is acceptable at a
    * fraction of the cost (1 shuffle vs 10 at sf0.1 — see README bench
    * notes). PercentilesSpec pins the rank-error tolerance vs the exact
    * form.
    */
  def approxGroupPercentiles(
      df: DataFrame,
      groupCol: Column,
      valueCol: Column,
      ps: Seq[Double],
      accuracy: Int = 10000): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"percentiles must be in [0,1], got $ps")
    df.select(groupCol.as("g"), valueCol.cast("double").as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        percentile_approx(col("v"),
          array(ps.map(lit(_)): _*), lit(accuracy)).as("pcts"))
      .select(col("g"), col("n"), posexplode(col("pcts")).as(Seq("__i", "pct")))
      .withColumn("p", element_at(array(ps.map(lit(_)): _*), col("__i") + 1))
      .select(col("g"), col("p"), col("n"), col("pct"))
  }
}
