package graft.pipeline

import org.apache.spark.sql.Dataset

/** The size guard of the graph operators ([[graft.dedup.Dedup]]'s
  * connected components and re-election, [[LinkRank]]'s PageRank): an input
  * of at most `threshold` rows is collected and solved on the driver, a
  * larger one runs the operator's distributed loop.
  */
private[graft] object Guarded {

  /** Pins `ds` with a lazy local checkpoint, then probes at most
    * `threshold + 1` rows from the pinned frame. Returns the rows when `ds`
    * has at most `threshold` of them, else the pinned frame. Either way the
    * input is computed once: the probe fills the checkpoint (when it stops
    * early, Spark computes the skipped partitions to complete it, the scan
    * the distributed loop would otherwise make first), and the distributed
    * loop reads it. Pinning an input that is already materialized costs
    * one copy of it. The threshold is clamped to half the largest JVM
    * array, so the probe always fits one; a negative threshold always
    * takes the distributed path.
    */
  def collectOrPin[T](ds: Dataset[T], threshold: Long): Either[Array[T], Dataset[T]] = {
    val pinned = ds.localCheckpoint(eager = false)
    val guard = math.max(-1L, math.min(threshold, (Int.MaxValue - 8L) / 2)).toInt
    val probe = pinned.limit(guard + 1).collect()
    if (probe.length <= guard) Left(probe) else Right(pinned)
  }
}
