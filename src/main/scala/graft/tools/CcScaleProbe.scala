package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.metrics.QueryProfile
import graft.tools.Probe.{num, timed}

/** Third scale point for the connected-components jump loop, on a SYNTHETIC
  * graph whose diameter is controlled exactly: `chains` disjoint paths of
  * `len` nodes each (diameter = len−1), so rounds-to-converge and per-round
  * shuffle can be charted against size and diameter INDEPENDENTLY — the
  * corpus-derived pq23 graph can't separate the two (its diameter floats
  * with the LSH pair structure).
  *
  * The 100 TB claims this pins:
  *   - rounds depend on DIAMETER only (pointer jumping halves remaining
  *     depth per round → ~log2(len) + fixpoint-witness round), NOT on graph
  *     size: 10× nodes at fixed diameter must converge in the SAME rounds;
  *   - per-round shuffle is label-table-sized: shuffle-per-round grows
  *     linearly (≈10×) on a 10× node step — flat per node — because each
  *     round moves two-long label rows, never corpus data;
  *   - 10× DIAMETER costs only ~log2(10) ≈ 3–4 extra rounds.
  *
  * Writes `CC_SCALE_PROBE.json` (committed artifact; sibling of
  * SCALE_PROBE.json, kept separate so ScaleProbe's own rewrite of that file
  * cannot drop this entry).
  *
  * Usage: runMain graft.tools.Probe cc
  */
object CcScaleProbe {

  /** `chains` paths of `len` nodes: edges (i, i+1) within each chain. Node
    * ids interleave chains (id = pos·chains + chain) so consecutive ids sit
    * in DIFFERENT components — labels can't converge by id locality.
    */
  def chainGraph(spark: SparkSession, chains: Long, len: Long): DataFrame =
    spark.range(chains * (len - 1))
      .select(
        ((col("id") / (len - 1)).cast("long") +
          (col("id") % (len - 1)) * chains).as("id_a"),
        ((col("id") / (len - 1)).cast("long") +
          ((col("id") % (len - 1)) + 1) * chains).as("id_b"))

  final case class Point(
      label: String, chains: Long, len: Long, nodes: Long,
      rounds: Int, sec: Double, shuffleWriteMb: Double) {
    def perRoundMb: Double = if (rounds == 0) 0.0 else shuffleWriteMb / rounds
    def perRoundPerMNodesMb: Double =
      if (rounds == 0 || nodes == 0) 0.0 else perRoundMb / (nodes / 1e6)
  }

  def measure(spark: SparkSession, label: String, chains: Long, len: Long): Point = {
    val edges = chainGraph(spark, chains, len)
    val ((rounds, sec), p) = QueryProfile.run(spark)(timed {
      // collectThreshold=0 forces the distributed jump loop (the thing
      // under measurement) regardless of edge count
      val (labels, r) = Dedup.connectedComponentsRounds(
        edges, maxIter = 25, collectThreshold = 0L)
      // correctness gate inside the probe: every chain collapses to its own
      // minimum node id = the chain index, so distinct clusters == chains
      val nClusters = labels.select(col("cluster_id")).distinct().count()
      require(nClusters == chains,
        s"$label: expected $chains components, got $nClusters")
      r
    })
    Point(label, chains, len, chains * len, rounds, sec, p.shuffleWriteBytes / 1048576.0)
  }

  def run(ctx: Probe.Ctx): Probe.Result = {
    val spark = ctx.spark

    // warm pass: plan compilation + listener machinery out of the window
    measure(spark, "warm", chains = 1000L, len = 32L)

    val base = measure(spark, "base", chains = 12500L, len = 32L) // 400k nodes, diam 31
    val n10x = measure(spark, "nodes_10x", chains = 125000L, len = 32L) // 4M nodes, same diam
    val d10x = measure(spark, "diam_10x", chains = 12500L, len = 320L) // 4M nodes, diam 319

    val roundsFlat = n10x.rounds == base.rounds
    val perNodeRatio =
      if (base.perRoundPerMNodesMb == 0) 0.0
      else n10x.perRoundPerMNodesMb / base.perRoundPerMNodesMb
    // per-round shuffle per node flat within 2× across the 10× node step
    // (the ScaleProbe amplification-slack convention)
    val perNodeFlat = perNodeRatio > 0 && perNodeRatio <= 2.0
    // 10× diameter costs only ~log2(10)≈3.3 extra rounds (+1 witness slack)
    val diamLog = d10x.rounds <= base.rounds + 5

    def pj(p: Point) =
      s"""{"chains":${p.chains},"len":${p.len},"nodes":${p.nodes},""" +
        s""""rounds":${p.rounds},"sec":${num(p.sec, 2)},""" +
        s""""shuffle_write_mb":${num(p.shuffleWriteMb, 2)},""" +
        s""""per_round_mb":${num(p.perRoundMb, 2)},""" +
        s""""per_round_per_mnodes_mb":${num(p.perRoundPerMNodesMb, 3)}}"""
    val ok = roundsFlat && perNodeFlat && diamLog
    val json =
      s"""{"probe":"cc-scale","graph":"disjoint chains (diameter = len-1), distributed jump loop forced",""" +
        s""""base":${pj(base)},"nodes_10x":${pj(n10x)},"diam_10x":${pj(d10x)},""" +
        s""""rounds_flat_on_10x_nodes":$roundsFlat,""" +
        s""""per_round_per_node_ratio":${num(perNodeRatio, 3)},""" +
        s""""per_round_shuffle_flat":$perNodeFlat,""" +
        s""""diam_10x_rounds_logarithmic":$diamLog,"all_ok":$ok}"""
    Probe.Result(json, "CC_SCALE_PROBE.json", ok)
  }
}
