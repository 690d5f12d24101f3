package graft

import org.apache.spark.sql.functions._

import graft.pipeline.Export

/** Training-set export: the shard writer must produce byte-reproducible,
  * correctly-ordered shard files that agree with the epochOrder/shardManifest
  * views of the same (salt, nShards) deal.
  */
class ExportSpec extends SparkTestBase {

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("writeShards lays every row down in (order_hash, id) order per shard") {
    val dir = tempDir("graft-shards-")
    Export.writeShards(docs, col("doc_id"), nShards = 8, epochSalt = 3L, dir)

    val expected = Export.epochOrder(docs, col("doc_id"), nShards = 8, epochSalt = 3L)
    val back = spark.read.parquet(dir)

    // round trip: nothing lost, nothing duplicated, shards agree with the view
    assert(back.count() === docs.count())
    val mismatch = back.select(col("doc_id"), col("shard").cast("int").as("shard"))
      .join(expected.withColumnRenamed("shard", "eshard"), "doc_id")
      .filter(col("shard") =!= col("eshard")).count()
    assert(mismatch === 0)

    // within each shard FILE the physical row order is the epoch order: a
    // trainer streaming the file sequentially sees pos 1..n. One file per
    // shard by construction (repartition on the shard key), read as one task.
    (0 until 8).foreach { k =>
      val fileIds = spark.read.parquet(s"$dir/shard=$k")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
      val wantIds = expected.filter(col("shard") === k)
        .orderBy(col("pos")).select(col("doc_id"))
        .collect().map(_.getLong(0)).toSeq
      assert(fileIds === wantIds, s"shard $k out of order")
    }
  }

  test("shard contents are a pure function of (corpus, salt) and move with the salt") {
    val dirA = tempDir("graft-shards-a")
    val dirB = tempDir("graft-shards-b")
    // different input partitioning, same deal → identical shard sequences
    Export.writeShards(docs.repartition(7), col("doc_id"), 4, 11L, dirA)
    Export.writeShards(docs.coalesce(1), col("doc_id"), 4, 11L, dirB)
    (0 until 4).foreach { k =>
      val a = spark.read.parquet(s"$dirA/shard=$k").select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      val b = spark.read.parquet(s"$dirB/shard=$k").select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(a === b, s"shard $k not reproducible across layouts")
    }

    // a new salt re-deals: at least one shard sequence must differ
    val dirC = tempDir("graft-shards-c")
    Export.writeShards(docs, col("doc_id"), 4, 12L, dirC)
    val same = (0 until 4).forall { k =>
      val a = spark.read.parquet(s"$dirA/shard=$k").select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      val c = spark.read.parquet(s"$dirC/shard=$k").select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      a == c
    }
    assert(!same, "changing epochSalt must produce a different permutation")
  }

  test("shardManifest totals agree with the written shards") {
    val dir = tempDir("graft-shards-m")
    Export.writeShards(docs, col("doc_id"), nShards = 8, epochSalt = 3L, dir)
    val manifest = Export.shardManifest(
        docs, col("doc_id"), col("text"), nShards = 8, epochSalt = 3L)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(4), r.getLong(5))).toMap
    (0 until 8).foreach { k =>
      val s = spark.read.parquet(s"$dir/shard=$k")
        .agg(count(lit(1)), min(col("doc_id")), max(col("doc_id")))
        .head()
      assert(manifest(k) === ((s.getLong(0), s.getLong(1), s.getLong(2))),
        s"shard $k manifest mismatch")
    }
  }

  test("string doc ids: manifest bounds keep the natural type (no silent null min/max)") {
    import spark.implicits._
    val docs = Seq(("doc-b", "x y"), ("doc-a", "z"), ("doc-c", "w w w"))
      .toDF("doc_id", "text")
    val m = graft.pipeline.Export.shardManifest(
      docs, col("doc_id"), col("text"), nShards = 1, epochSalt = 7L).head()
    assert(m.getAs[String]("min_doc_id") == "doc-a")
    assert(m.getAs[String]("max_doc_id") == "doc-c")
  }

  test("null doc ids are rejected at the shard deal, not dropped into a null partition") {
    import spark.implicits._
    val docs = Seq((java.lang.Long.valueOf(1L), "x"), (null.asInstanceOf[java.lang.Long], "y"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      graft.pipeline.Export.epochOrder(docs, col("doc_id"), nShards = 2, epochSalt = 1L)
        .collect()
    }
    assert(e.getMessage.contains("null doc id") ||
      Option(e.getCause).exists(_.getMessage.contains("null doc id")))
  }

  test("writeShards refuses inputs that already carry its derived column names") {
    import spark.implicits._
    val docs = Seq((1L, 0)).toDF("doc_id", "shard")
    intercept[IllegalArgumentException] {
      graft.pipeline.Export.writeShards(
        docs, col("doc_id"), nShards = 2, epochSalt = 1L, path = "/tmp/never-written")
    }
  }

  test("snapshot diff classifies null-content docs by PRESENCE, not hash nullability") {
    import spark.implicits._
    val oldDf = Seq((7L, null: String), (8L, "same"), (9L, null: String))
      .toDF("doc_id", "content")
    val newDf = Seq((8L, "same"), (9L, "now real"), (10L, null: String))
      .toDF("doc_id", "content")
    val st = graft.pipeline.Snapshots.diff(oldDf, newDf, col("doc_id"), col("content"))
      .as[(Long, String)].collect().toMap
    assert(st == Map(
      7L -> "removed", // null-content doc gone from new: tombstone, NOT "added"
      8L -> "unchanged",
      9L -> "changed", // null -> real content IS a change (null-safe test)
      10L -> "added"))
  }
}
