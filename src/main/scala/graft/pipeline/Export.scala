package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Training-set export: the last mile of the curation pipeline. A trained-on
  * corpus ships as N shard files in a deterministic per-epoch order plus a
  * manifest the trainer reads to plan its input pipeline. Both operators are
  * pure functions of (corpus, salt) — re-running them on any cluster layout
  * reproduces the same shards bit-for-bit, which is what makes a training
  * run auditable.
  */
object Export {

  /** THE salted order hash — the one expression whose byte-identity between
    * [[epochOrder]], [[writeShards]] and [[shardManifest]] is what ties
    * shard files to their manifest; a divergent copy would silently
    * desynchronize them. A null doc id would hash to null and land in
    * shard=null (`__HIVE_DEFAULT_PARTITION__` — a directory a trainer
    * globbing shard=0..N-1 never reads, silently dropping the doc from
    * training), so it raises instead.
    */
  private def saltedOrderHash(idCol: Column, epochSalt: Long): Column =
    when(idCol.isNull, raise_error(lit(
      "Export: null doc id cannot be dealt to a shard — it would land in a " +
        "null partition directory trainers never read")))
      .otherwise(TextFunctions.portable_hash(
        concat(lit(s"$epochSalt:"), idCol.cast("string"))))

  /** Deterministic epoch shuffle: every document gets a `(shard, pos)` —
    * which shard file it lands in and its position inside that shard — from
    * one salted hash: `oh = hash(salt:doc_id)`, `shard = oh mod nShards`,
    * `pos` = rank of `(oh, doc_id)` within the shard. Changing `epochSalt`
    * re-deals both the grouping and the order, giving each epoch an
    * independent permutation without any RNG state.
    *
    * Scale shape: the hash is row-local; the only movement is the
    * `(shard, pos)` ranking, whose partition key is `shard` — cardinality
    * `nShards`, which an operator sizes ~corpus/target-shard-bytes (hundreds
    * to tens of thousands at 100 TB), so every window partition holds one
    * shard's worth of NARROW rows (id + hash, not text). This is the benign
    * use of a rank window — contrast the per-stratum (cardinality ~5)
    * windows, where the key count cannot grow with the data.
    */
  def epochOrder(
      df: DataFrame,
      idCol: Column,
      nShards: Int,
      epochSalt: Long): DataFrame = {
    require(nShards > 0, s"nShards=$nShards must be positive")
    val oh = saltedOrderHash(idCol, epochSalt)
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("order_hash"), col("doc_id"))
    df.select(idCol.as("doc_id"), oh.as("order_hash"))
      .withColumn("shard", pmod(col("order_hash"), lit(nShards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("pos"), col("order_hash"))
  }

  /** Materialize the epoch deal as shard files: every row of `df` lands in
    * `path/shard=K/` in `(order_hash, id)` order — the file layout a
    * training job streams sequentially. One `repartition` on the shard key
    * (cardinality `nShards`, uniform by construction of the hash deal) and a
    * partition-local sort; no global sort, no driver involvement. Re-running
    * on any cluster layout reproduces byte-identical shard contents.
    */
  def writeShards(
      df: DataFrame,
      idCol: Column,
      nShards: Int,
      epochSalt: Long,
      path: String): Unit = {
    require(nShards > 0, s"nShards=$nShards must be positive")
    // withColumn would silently OVERWRITE (and then ship) caller columns of
    // these names — e.g. a re-ingested prior epoch export already carrying
    // `shard` — corrupting the written shards with no error
    Seq("order_hash", "shard").foreach(c =>
      require(!df.columns.contains(c),
        s"writeShards: input already has a '$c' column — rename it first"))
    val oh = saltedOrderHash(idCol, epochSalt)
    df.withColumn("order_hash", oh)
      .withColumn("shard", pmod(col("order_hash"), lit(nShards.toLong)).cast("int"))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("order_hash"), idCol)
      .write.mode("overwrite").partitionBy("shard").parquet(path)
  }

  /** Shard manifest: per-shard document/token/byte totals under the same
    * `(salt, nShards)` assignment as [[epochOrder]] — the table a trainer's
    * input planner reads (how many sequences per file, how to stripe files
    * across data-parallel workers). One map-side-combinable aggregation to
    * `nShards` rows; the corpus is scanned once and only the fixed-width
    * per-shard partials move.
    */
  def shardManifest(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      nShards: Int,
      epochSalt: Long): DataFrame = {
    require(nShards > 0, s"nShards=$nShards must be positive")
    val oh = saltedOrderHash(idCol, epochSalt)
    // min/max keep the id column's NATURAL type: a cast("long") silently
    // nulls every bound for string/UUID ids that the shard deal itself
    // fully supports (it hashes the string form)
    df.select(
        pmod(oh, lit(nShards.toLong)).cast("int").as("shard"),
        idCol.as("__id"),
        TextFunctions.token_count(textCol).cast("long").as("__toks"),
        length(textCol).cast("long").as("__chars"))
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__toks")).as("n_tokens"),
        sum(col("__chars")).as("n_chars"),
        min(col("__id")).as("min_doc_id"),
        max(col("__id")).as("max_doc_id"))
  }
}
