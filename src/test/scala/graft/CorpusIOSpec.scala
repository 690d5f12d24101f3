package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.CorpusIO

class CorpusIOSpec extends SparkTestBase {

  test("JSONL round trip with lang partitioning preserves the corpus exactly") {
    val out = tempDir("graft-jsonl")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    CorpusIO.writeJsonl(docs, out, partitionByCols = Seq("lang"))

    val schema = StructType(docs.schema.filterNot(_.name == "lang")).add("lang", "string")
    val back = CorpusIO.readJsonl(spark, out, schema)
    val a = docs.select(docs.columns.sorted.map(col): _*).collect().map(_.toSeq).toSet
    val b = back.select(back.columns.sorted.map(col): _*).collect().map(_.toSeq).toSet
    assert(a === b, "JSONL round trip changed the corpus")

    // partition layout exists and a lang filter prunes to one directory
    assert(new java.io.File(out).listFiles().exists(_.getName.startsWith("lang=")))
    val pruned = CorpusIO.readJsonl(spark, out, schema).filter(col("lang") === "en")
    val expected = docs.filter(col("lang") === "en").count()
    assert(pruned.count() === expected)
  }

  test("malformed lines drop (or surface) instead of failing the read") {
    val dir = tempDir("graft-jsonl-bad")
    Files.write(java.nio.file.Paths.get(dir, "part-0.json"),
      """{"doc_id": 1, "text": "ok"}
        |this is not json
        |{"doc_id": 2, "text": "also ok"}
        |""".stripMargin.getBytes)
    val schema = StructType(Seq()).add("doc_id", "long").add("text", "string")
    val clean = CorpusIO.readJsonl(spark, dir, schema)
      .filter(col("doc_id").isNotNull)
    assert(clean.count() === 2)
    // Spark disallows queries touching ONLY _corrupt_record on a raw JSON
    // read — materialize the parse first, as its own error message advises
    val withBad = CorpusIO.readJsonl(spark, dir, schema, keepCorrupt = true).cache()
    try {
      withBad.count()
      assert(withBad.filter(col("_corrupt_record").isNotNull).count() === 1)
    } finally withBad.unpersist()
  }
}
