package graft.ops

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** The one lineage-truncation idiom: a reliable checkpoint when the
  * context has a checkpoint dir (it survives executor loss on a real
  * cluster), `localCheckpoint` otherwise (its blocks die with their
  * executor, so that fallback is for dir-less local runs).
  *
  * It also serves multi-consumer frames. AQE exchange reuse needs
  * canonically identical subtrees, and column pruning routinely breaks
  * that for a frame feeding both an aggregate and a join (each consumer
  * prunes the shared exchange differently — measured 2× scan
  * re-execution in the decontaminate/terms shapes and 6× in
  * duplicatedNgramSpans, via the ngramsEvals counter). Checkpointing
  * the COMPACT post-keygen frame (ids + hashes, a few dozen bytes per
  * row — never the text it was derived from) trades one small
  * write+read for never re-running the text-derived generation, the
  * right 100 TB trade. */
object Snapshot {
  private def reliable(sc: SparkContext): Boolean = sc.getCheckpointDir.isDefined

  /** Eager: runs the job that materializes `ds` and returns the
    * truncated frame. */
  def apply[T](ds: Dataset[T]): Dataset[T] =
    if (reliable(ds.sparkSession.sparkContext)) ds.checkpoint(true)
    else ds.localCheckpoint(true)

  /** Lazy: marks `rdd` and returns it; the caller's next action on it
    * (or on a child) materializes and truncates it in the same job. A
    * reliable checkpoint also persists the RDD, so Spark's follow-up
    * checkpoint write reads the cached blocks instead of recomputing. */
  def mark[T](rdd: RDD[T]): RDD[T] = {
    if (reliable(rdd.sparkContext)) {
      rdd.persist(StorageLevel.MEMORY_AND_DISK)
      rdd.checkpoint()
    } else rdd.localCheckpoint()
    rdd
  }
}
