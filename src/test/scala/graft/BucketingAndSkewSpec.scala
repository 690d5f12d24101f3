package graft

import org.apache.spark.sql.functions._

import graft.operators.SkewJoins
import graft.sources.Bucketing

/** The two ingest-time shuffle levers the 100 TB brief names: bucketed
  * co-located joins (shuffle paid once at write, zero Exchange per query)
  * and manual key salting (one hot key spread over many reducers).
  */
class BucketingAndSkewSpec extends SparkTestBase {
  import spark.implicits._

  test("co-bucketed tables join with zero Exchange and identical results") {
    val tmp = tempDir("graft-bucketed")
    val orders = Tables.orders(spark, sfDir)
    val customer = Tables.customer(spark, sfDir)
    Bucketing.writeBucketed(orders, "orders_b", s"$tmp/orders_b", 8, Seq("o_custkey"))
    Bucketing.writeBucketed(customer, "customer_b", s"$tmp/customer_b", 8, Seq("c_custkey"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ/shuffle path
    try {
      val ob = Bucketing.readBucketed(spark, "orders_b")
      val cb = Bucketing.readBucketed(spark, "customer_b")
      val joined = ob.join(cb, ob("o_custkey") === cb("c_custkey"))
        .select(col("o_orderkey"), col("c_mktsegment"))
      // the join subtree must carry NO Exchange at all — both scans read
      // bucketed (SelectedBucketsCount in the scan), so the SortMergeJoin
      // consumes them directly
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle either side:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan did not use buckets:\n$plan")

      // identical rows vs the plain parquet reads (which DO shuffle)
      val expected = orders.join(customer, orders("o_custkey") === customer("c_custkey"))
        .select(col("o_orderkey"), col("c_mktsegment"))
        .collect().map(_.toString).sorted
      val got = joined.collect().map(_.toString).sorted
      assert(got.sameElements(expected) && got.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  test("snapshot diff over co-bucketed corpus versions runs with zero Exchange") {
    // the pq58 scale claim made concrete: when both corpus versions are
    // stored bucketed by doc_id, the CDC full-outer join needs no shuffle
    // at all — the 100 TB posture for every incremental ingestion run
    val tmp = tempDir("graft-snap")
    val d = Tables.documents(spark, sfDir)
    val newSnap = d.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
    Bucketing.writeBucketed(d.select(col("doc_id"), col("text")),
      "snap_old", s"$tmp/snap_old", 8, Seq("doc_id"))
    Bucketing.writeBucketed(newSnap, "snap_new", s"$tmp/snap_new", 8, Seq("doc_id"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val diffB = graft.pipeline.Snapshots.diff(
        Bucketing.readBucketed(spark, "snap_old"),
        Bucketing.readBucketed(spark, "snap_new"),
        col("doc_id"), col("text"))
      val plan = diffB.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed snapshot diff must not shuffle either side:\n$plan")
      // identical statuses vs the plain (shuffling) reads
      val expected = graft.pipeline.Snapshots.diff(
          d.select(col("doc_id"), col("text")), newSnap, col("doc_id"), col("text"))
        .as[(Long, String)].collect().sorted
      val got = diffB.as[(Long, String)].collect().sorted
      assert(got.sameElements(expected) && got.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS snap_old")
      spark.sql("DROP TABLE IF EXISTS snap_new")
    }
  }

  test("incremental scoring over a co-bucketed artifact runs with zero Exchange") {
    // the pq64 scale claim made concrete: store the score artifact AND the
    // new corpus version bucketed by doc_id, and the score-reuse join
    // plans with no shuffle at all — the posture of every nightly
    // incremental curation run
    val tmp = tempDir("graft-incr")
    val d = Tables.documents(spark, sfDir)
    val v1 = d.filter(col("doc_id") % 11 =!= 3)
      .select(col("doc_id"), col("source"), col("lang"),
        when(col("doc_id") % 9 === 0, concat(col("text"), lit(" v1")))
          .otherwise(col("text")).as("text"))
    val prev = graft.pipeline.Curation.scoreCorpus(
      v1, col("doc_id"), col("text"), col("source"), col("lang"))
    Bucketing.writeBucketed(prev, "prev_scored", s"$tmp/prev_scored", 8, Seq("doc_id"))
    Bucketing.writeBucketed(d.select(col("doc_id"), col("source"), col("lang"), col("text")),
      "corpus_v2", s"$tmp/corpus_v2", 8, Seq("doc_id"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val inc = graft.pipeline.Curation.scoreIncremental(
        Bucketing.readBucketed(spark, "prev_scored"),
        Bucketing.readBucketed(spark, "corpus_v2"),
        col("doc_id"), col("text"), col("source"), col("lang"))
      val plan = inc.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed incremental scoring must not shuffle either side:\n$plan")
      // row-identical to the plain (shuffling) path
      val expected = graft.pipeline.Curation.scoreIncremental(
          prev, d, col("doc_id"), col("text"), col("source"), col("lang"))
        .as[(Long, String, String, String, Double)].collect().sorted
      val got = inc.as[(Long, String, String, String, Double)].collect().sorted
      assert(got.sameElements(expected) && got.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS prev_scored")
      spark.sql("DROP TABLE IF EXISTS corpus_v2")
    }
  }

  test("salted join equals the plain join and actually spreads the hot key") {
    import spark.implicits._
    // 90% of left rows share one key — the power-law shape AQE's
    // partition-splitting cannot fix when one KEY saturates one reducer
    val left = spark.range(10000L)
      .select(col("id"),
        when(col("id") % 10 =!= 0, lit("hot")).otherwise(concat(lit("k"), col("id"))).as("k"))
    val right = (Seq("hot") ++ (0 until 100).map(i => s"k${i * 10}"))
      .toDF("k").withColumn("payload", length(col("k")))

    val plain = left.join(right, Seq("k")).select(col("id"), col("k"), col("payload"))
    val salted = SkewJoins.saltedJoin(left, right, Seq("k"), col("id"), salts = 8)
      .select(col("id"), col("k"), col("payload"))
    val a = plain.collect().map(_.toString).sorted
    val b = salted.collect().map(_.toString).sorted
    assert(a.sameElements(b), s"salted join changed the row multiset (${a.length} vs ${b.length})")

    // the hot key's left rows must land in >1 salt cell
    val saltSpread = left.filter(col("k") === "hot")
      .select(pmod(hash(col("id")), lit(8)).as("s"))
      .distinct().count()
    assert(saltSpread > 4, s"hot key only spread over $saltSpread of 8 salts")
  }

  test("the skew report names the hot key and its salt levels the reducer load") {
    // 90% of rows on one key over 32 prospective partitions: the report
    // must rank it first with salt ≈ ⌈0.9·32⌉ and give singleton keys 1
    val df = spark.range(10000L)
      .select(col("id"),
        when(col("id") % 10 =!= 0, lit("hot")).otherwise(concat(lit("k"), col("id"))).as("k"))
    val rep = SkewJoins.keySkewReport(df, col("k"), partitions = 32, topK = 5)
      .collect()
    assert(rep.head.getString(0) == "hot", s"hottest key misranked: ${rep.head}")
    assert(rep.head.getLong(1) == 9000L)
    assert(rep.head.getLong(2) == 900000L, s"share_ppm ${rep.head.getLong(2)}")
    val salt = rep.head.getLong(3)
    assert(salt == 29L, s"salt $salt, want ceil(0.9*32)=29")
    assert(rep.tail.forall(_.getLong(3) == 1L), "cold keys must need no salting")
    // the advice composes: salting by the reported factor levels the load
    val spread = df.filter(col("k") === "hot")
      .select(pmod(hash(col("id")), lit(salt.toInt)).as("s"))
      .groupBy(col("s")).count().agg(max(col("count"))).head().getLong(0)
    assert(spread < 9000L / salt * 3,
      s"max salted cell $spread not leveled vs 9000 rows / $salt salts")
  }
}
