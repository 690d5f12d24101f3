package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution

/** Plan auditor: prints the formatted physical plan of each query and checks
  * the scale-critical plan properties (predicate pushdown into the parquet
  * scan, column-pruned read schemas, broadcast joins on dimension tables,
  * whole-stage codegen coverage). Usage:
  *   runMain graft.Explain [sfDir] [queryName...]
  */
object Explain {

  /** Scale-critical plan facts for one query (AQE must be off in the session
    * for codegen ids to appear in the pre-execution plan).
    */
  final case class PlanFacts(
      pushedFilters: Boolean, broadcastJoins: Int, codegenSpans: Int, wideReads: Int,
      exchanges: Int, reusedExchanges: Int = 0, globalWindows: Int = 0,
      spreads: Int = 0)

  def audit(df: org.apache.spark.sql.DataFrame): PlanFacts = {
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val pushed = "PushedFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined
    val broadcasts = "BroadcastHashJoin|BroadcastNestedLoopJoin".r.findAllIn(plan).size
    // AQE's pre-execution formatted plan hides codegen ids; the simple-mode
    // string marks each whole-stage span with "*(n)".
    val simplePlan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    val codegenSpans = "\\*\\((\\d+)\\)".r.findAllMatchIn(simplePlan)
      .map(_.group(1).toInt).toSet.size
    val fullScans = plan.linesIterator.count(l => l.contains("ReadSchema") && l.length > 400)
    // data SHUFFLES only: broadcast distribution is counted separately above,
    // and a ReusedExchange line is a pointer to an already-counted shuffle's
    // output, not a second data movement — count it separately so a budget
    // of N live Exchanges can actually reconcile with the plan.
    // Count DISTINCT exchanges by plan_id, not printed lines: a cached
    // (InMemoryRelation) subtree is printed once under every consuming
    // InMemoryTableScan, so its one exchange would otherwise be counted
    // once per consumer despite executing once (pq60's dedup exchange
    // appears four times in the text, all [plan_id=N] for the same N).
    // Round-robin REPARTITION_BY_NUM exchanges are the scale-adaptive
    // input spreads (Tables.spreadForRowWork: parallelize a sub-split scan;
    // identity at production scale) — counted separately from the keyed
    // data shuffles whose budget must stay flat as the data grows.
    val allExchangeLines = simplePlan.linesIterator.filter(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange") &&
        !l.contains("ReusedExchange")).toSeq
    val (spreadLines, exchangeLines) =
      allExchangeLines.partition(l =>
        l.toLowerCase(java.util.Locale.ROOT).contains("roundrobinpartitioning"))
    val planId = "\\[plan_id=(\\d+)\\]".r
    val (withId, withoutId) =
      exchangeLines.partition(l => planId.findFirstIn(l).isDefined)
    val exchanges =
      withId.flatMap(l => planId.findFirstMatchIn(l).map(_.group(1))).distinct.size +
        withoutId.size
    val reused = simplePlan.linesIterator.count(l =>
      l.contains("ReusedExchange") && !l.contains("BroadcastExchange"))
    // UNPARTITIONED window operators — the "Moving all data to a single
    // partition" shape that is a scale-killer over data-sized frames. A few
    // sites are SANCTIONED (a global cumulative window over bounded
    // METADATA: distinct scores, top-N terms); PlanAuditSpec pins exactly
    // which queries may carry how many, so an accidental one fails the
    // build instead of hiding among the sanctioned warnings.
    val globalWindows = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExecBase
          if w.partitionSpec.isEmpty => w
      case g: org.apache.spark.sql.execution.window.WindowGroupLimitExec
          if g.partitionSpec.isEmpty => g
    }.size
    val spreads = {
      val planId = "\\[plan_id=(\\d+)\\]".r
      val (withId, withoutId) =
        spreadLines.partition(l => planId.findFirstIn(l).isDefined)
      withId.flatMap(l => planId.findFirstMatchIn(l).map(_.group(1))).distinct.size +
        withoutId.size
    }
    PlanFacts(pushed, broadcasts, codegenSpans, fullScans, exchanges, reused,
      globalWindows, spreads)
  }

  /** One PLANS.md fact line per registered query. `spark` must have AQE off
    * (the pre-execution formatted plan hides codegen ids under AQE).
    */
  def factLines(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[String] =
    names.map { name =>
      val f = audit(SparkEntry.queries(name)(spark, sfDir))
      s"$name pushedFilters=${f.pushedFilters} broadcastJoins=${f.broadcastJoins} " +
        s"codegenSpans=${f.codegenSpans} wideReads=${f.wideReads} shuffles=${f.exchanges}" +
        (if (f.globalWindows > 0) s" globalWindows=${f.globalWindows}" else "") +
        (if (f.spreads > 0) s" spreads=${f.spreads}" else "")
    }

  /** Plan facts for the TWO phases of one connected-components round
    * ([[graft.dedup.Dedup.ccPropagate]] then [[graft.dedup.Dedup.ccJump]]
    * over the loop-pinned propagate result). The registered pq23 plan
    * reports `shuffles=0` because the loop's `localCheckpoint` truncates
    * lineage — this is the audit of the budget that actually repeats per
    * round. Broadcast is disabled for the audit: at 100 TB the label table
    * is NOT broadcastable, so the steady-state shape is the shuffle form.
    * The propagate count includes the one pre-paid edges `repartition(v)`
    * Exchange that the real loop pays once outside the loop, so steady
    * state per round is (propagate−1) + jump = 3 label-table shuffles;
    * the jump audits over a checkpointed frame exactly as the loop runs
    * it, which is what proves the propagate subtree executes ONCE (a jump
    * audit over the lazy propagate frame would show the subtree planned
    * twice).
    */
  def ccRoundFacts(spark: SparkSession): (PlanFacts, PlanFacts) = {
    import org.apache.spark.sql.functions._
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val edges = spark.range(1000)
        .select((col("id") % 500).as("u"), (col("id") % 499).as("v"))
        .repartition(col("v"))
      val labels = spark.range(500).select(col("id"), col("id").as("lbl"))
      val propagated = graft.dedup.Dedup.ccPropagate(edges, labels)
      // tiny synthetic frame — the checkpoint materializes 500 label rows
      val pinned = propagated.localCheckpoint()
      (audit(propagated), audit(graft.dedup.Dedup.ccJump(pinned)))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  private def ccRoundLine(spark: SparkSession): String = {
    val (p, j) = ccRoundFacts(spark)
    s"pq23_cc_round(unchkpt) propagate shuffles=${p.exchanges} " +
      s"(1 pre-paid edges repartition + labels→v + agg-min) jump shuffles=${j.exchanges} " +
      s"reused=${j.reusedExchanges} codegenSpans=${p.codegenSpans}+${j.codegenSpans} " +
      s"(steady state ${p.exchanges - 1 + j.exchanges}/round over the label table)"
  }

  /** Regenerate PLANS.md from the CURRENT registered query set. Called by
    * [[graft.Bench]] at the end of every run (on an AQE-off sibling session)
    * so the committed plan record regenerates per round and cannot drift from
    * what PlanAuditSpec enforces, and by [[main]] for manual runs.
    */
  def writePlansMd(spark: SparkSession, sfDir: String, path: String, stamp: String): Unit = {
    val lines = factLines(spark, sfDir, SparkEntry.queries.keys.toSeq.sorted) :+
      ccRoundLine(spark)
    val header =
      s"""# PLANS — static plan audit (generated by $stamp)
         |
         |Per query: predicate pushdown into the parquet scan, broadcast-join count
         |(each join appears twice in formatted output), whole-stage codegen spans,
         |wide scans (reads of >400-char schemas, i.e. un-pruned columns), the
         |DATA-shuffle count (Exchange operators excluding broadcast distribution —
         |the number that has to stay flat as the data grows 1000×), and any
         |UNPARTITIONED windows (globalWindows; only printed when nonzero — each
         |is a sanctioned bounded-metadata cumulative/rank window, pinned query
         |by query in PlanAuditSpec's allowlist).
         |Regenerated automatically at the end of every `graft.Bench` run; manual:
         |`sbt "runMain graft.Explain $sfDir"`. These properties are enforced in CI
         |by `PlanAuditSpec` — a lost pushdown, broadcast, or codegen span fails
         |the build.
         |""".stripMargin
    val body = lines.mkString("```\n", "\n", "\n```\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (header + "\n" + body).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    // static audit: AQE off so the pre-execution plan carries codegen ids
    // (prod sessions keep AQE on; it only re-plans at runtime)
    val spark = Sessions.local(overrides = Seq("spark.sql.adaptive.enabled" -> "false"))

    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val f = audit(df)
      println(s"==== $name pushedFilters=${f.pushedFilters} broadcastJoins=${f.broadcastJoins} " +
        s"codegenSpans=${f.codegenSpans} wideReads=${f.wideReads} shuffles=${f.exchanges}" +
        (if (f.globalWindows > 0) s" globalWindows=${f.globalWindows}" else ""))
      if (sys.env.get("GRAFT_EXPLAIN_FULL").contains("1"))
        println(df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
    }
    if (args.length <= 1) { // full set: refresh the committed record too
      println(s"==== ${ccRoundLine(spark)}")
      writePlansMd(spark, sfDir, "PLANS.md", s"runMain graft.Explain $sfDir")
    }
    spark.stop()
  }
}
