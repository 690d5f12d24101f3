package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph centrality for frontier prioritization — the published
  * PageRank iteration (Page et al. 1999) over the crawl's outlink edges,
  * in INTEGER arithmetic so the result is bit-exact regardless of
  * partitioning: floating-point PageRank sums contributions in partition
  * order and no two runs (or engines) agree, while scaled-long floor
  * division makes every contribution an exact integer and `sum(long)`
  * order-independent — the same determinism rule the relational surface
  * uses (DECIMAL aggregation), applied to an iterative graph op.
  *
  * Semantics: ranks live in `scale` units (`scale` ≈ total probability
  * mass 1.0). Per iteration, every node keeps
  * `base = scale·(1−d)/n` plus `d·rank/outdeg` from each in-edge plus an
  * equal share of the dangling mass (nodes with no out-edges), all in
  * floor division — conservation is therefore within n integer
  * truncations of exact, and ordering (the thing a frontier consumes) is
  * unaffected.
  *
  * 100 TB shape: the edge list is hash-partitioned by src ONCE and never
  * moves again; each iteration is one NARROW co-partitioned edges⋈ranks
  * join, one reduceByKey shuffle of the (dst, contribution) pairs — the
  * only data that crosses the wire per iteration — and one narrow left
  * join back to the node set; the dangling term is a single scalar
  * aggregate. The loop body is RDD-level: a DataFrame loop would re-run
  * the full Catalyst pipeline per iteration, which at any scale is pure
  * driver serial time. Iterations are a fixed small count (rank ordering
  * stabilizes in ~10 even on web graphs — the published convergence
  * behavior), so the loop cost is `iterations ×` that budget.
  */
object LinkRank {

  /** Iterations between rank checkpoints in the distributed loop: bounds
    * its lineage, and lies above the 5-10 iterations PageRank's ordering
    * needs, so such runs never checkpoint.
    */
  private[graft] val CheckpointEvery = 25

  /** `edges(src, dst)` → `(node, rank)` with `rank` in `scale` units.
    * Duplicate edges collapse first (a simple graph — host-graph edges
    * weight by existence, not multiplicity); self-loops count like any
    * other edge.
    */
  def integerPageRank(
      edges0: DataFrame,
      iterations: Int = 10,
      scale: Long = 1000000000000L,
      dampNum: Long = 85,
      dampDen: Long = 100,
      collectThreshold: Long = 2000000L): DataFrame = {
    require(iterations >= 0, s"iterations=$iterations")
    require(dampNum > 0 && dampNum < dampDen, s"damping $dampNum/$dampDen out of range")
    val spark = edges0.sparkSession
    val edges = edges0.select(col("src"), col("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .dropDuplicates("src", "dst")
    val srcType = edges.schema("src").dataType
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", srcType),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.LongType, nullable = false)))

    // Small-graph fast path: ranks are METADATA (an id and a long per
    // node), so up to `collectThreshold` edges the whole recurrence runs on
    // the driver off one guarded collect of the deduped edge list, in
    // microseconds instead of a distributed job per iteration. Past the
    // guard the RDD loop below is the real 100 TB shape; it reads the
    // pinned edges, so either path computes them once.
    val pinned = Guarded.collectOrPin(edges, collectThreshold) match {
      case Left(rows) => return localIntegerPageRank(
        spark, rows, outSchema, iterations, scale, dampNum, dampDen)
      case Right(frame) => frame
    }

    // The iteration runs on RDDs, not DataFrames: a DataFrame loop pays a
    // full Catalyst pass (analysis, optimization, codegen, AQE
    // bookkeeping) per iteration, pure driver time next to microseconds of
    // data work. Edges are hash-partitioned by src ONCE; each iteration is
    // one narrow co-partitioned join, one reduceByKey shuffle to dst, one
    // narrow left join back to the node set, and ONE driver action (the
    // dangling-mass sum). Completed shuffle stages are reused across the
    // per-iteration actions, so nothing is recomputed; the ranks are
    // checkpointed every `CheckpointEvery` iterations so the lineage stays
    // bounded (GraphX's Pregel posture). Arithmetic is the same scaled-long
    // floor division as the driver path, order-independent by integer-sum
    // associativity.
    val p = new org.apache.spark.HashPartitioner(
      math.max(1, spark.sparkContext.defaultParallelism))
    // (src, dst) with EXTERNAL key objects (String/Long ids), partitioned
    // by src so the per-iteration rank join is narrow
    val edgePairs = pinned.rdd.map(r => (r.get(0), r.get(1))).partitionBy(p)
    val outdeg = edgePairs.mapValues(_ => 1L).reduceByKey(p, _ + _)
    // (src, (dst, deg)): the per-edge denominator never changes — attach once
    val edgesDeg = edgePairs.join(outdeg, p)
    // node set with out-degree, -1 = dangling, partitioned like everything else
    val nodeDeg = edgePairs
      .flatMap { case (s, d) => Iterator((s, ()), (d, ())) }
      .reduceByKey(p, (a, _) => a)
      .leftOuterJoin(outdeg, p)
      .mapValues { case (_, deg) => deg.getOrElse(-1L) }
    val n = nodeDeg.count()
    if (n == 0) return spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    val base = scale * (dampDen - dampNum) / (dampDen * n)
    // (node, (rank, deg)): deg rides along so the dangling-mass action
    // needs no join
    var ranks = nodeDeg.mapValues(deg => (scale / n, deg))
    var it = 0
    while (it < iterations) {
      if (it > 0 && it % CheckpointEvery == 0) ranks = ranks.localCheckpoint()
      // dangling mass: the one driver action per iteration (a tiny RDD
      // aggregate — no Catalyst, no codegen, reused upstream shuffles)
      val dm = ranks.aggregate(0L)(
        (acc, kv) => acc + (if (kv._2._2 < 0L) kv._2._1 else 0L), _ + _)
      val dmShare = dm * dampNum / (dampDen * n)
      val contribs = edgesDeg
        .join(ranks, p) // narrow: both sides partitioned by p on the src key
        .map { case (_, ((dst, deg), (rank, _))) =>
          (dst, rank * dampNum / (dampDen * deg))
        }
        .reduceByKey(p, _ + _) // the iteration's one shuffle
      ranks = nodeDeg
        .leftOuterJoin(contribs, p) // narrow again
        .mapValues { case (deg, c) => (base + dmShare + c.getOrElse(0L), deg) }
      it += 1
    }
    val rows = ranks.map { case (node, (rank, _)) =>
      org.apache.spark.sql.Row(node, rank)
    }
    spark.createDataFrame(rows, outSchema)
  }

  /** Driver-side twin of the distributed recurrence — the SAME scaled-long
    * floor arithmetic over the same deduped edge list (LinkGraphSpec pins
    * local == distributed == the independent imperative reference), run in
    * plain hash maps when the graph fits the collect guard. Insertion
    * order never matters: every term is an integer sum.
    */
  private def localIntegerPageRank(
      spark: org.apache.spark.sql.SparkSession,
      edgeRows: Array[org.apache.spark.sql.Row],
      outSchema: org.apache.spark.sql.types.StructType,
      iterations: Int,
      scale: Long,
      dampNum: Long,
      dampDen: Long): DataFrame = {
    import scala.jdk.CollectionConverters._
    val es = edgeRows.map(r => (r.get(0), r.get(1)))
    val out = new java.util.HashMap[Any, Long]()
    val nodeSet = new java.util.LinkedHashSet[Any]()
    es.foreach { case (s, d) =>
      out.merge(s, 1L, _ + _)
      nodeSet.add(s); nodeSet.add(d)
    }
    val nodes = nodeSet.asScala.toArray
    val n = nodes.length.toLong
    if (n == 0)
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), outSchema)
    val base = scale * (dampDen - dampNum) / (dampDen * n)
    var rank = new java.util.HashMap[Any, Long]()
    nodes.foreach(v => rank.put(v, scale / n))
    var it = 0
    while (it < iterations) {
      var dm = 0L
      nodes.foreach(v => if (!out.containsKey(v)) dm += rank.get(v))
      val dmShare = dm * dampNum / (dampDen * n)
      val contrib = new java.util.HashMap[Any, Long]()
      es.foreach { case (s, d) =>
        contrib.merge(d, rank.get(s) * dampNum / (dampDen * out.get(s)), _ + _)
      }
      val next = new java.util.HashMap[Any, Long]()
      nodes.foreach(v =>
        next.put(v, base + dmShare + contrib.getOrDefault(v, 0L)))
      rank = next
      it += 1
    }
    val rows = nodes.map(v => org.apache.spark.sql.Row(v, rank.get(v))).toSeq
    spark.createDataFrame(rows.asJava, outSchema)
  }
}
