package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Eager lineage-truncating checkpoint with SERIALIZED block storage.
  *
  * `localCheckpoint(true)` defaults to MEMORY_AND_DISK, which keeps every
  * checkpointed row live as a deserialized JVM object. The pipeline
  * checkpoints several mention-scale frames (mentions, candidate lists,
  * linked, triples input), so at 10^5-10^6 docs per JVM tens of millions
  * of row objects sit in the old generation for the whole job — and
  * full-GC cost scales with LIVE OBJECT COUNT times collection frequency.
  * Measured at 640k docs / local[8]: the embed-cache stage spent 849 of
  * 1022 core-s (83%) in GC, turning a linear plan superlinear.
  * MEMORY_AND_DISK_SER stores each partition as one compressed byte
  * buffer: same reuse semantics, O(partitions) live objects, GC flat.
  */
object Ckpt {
  /** Storage level for the session's stage-boundary blocks: serialized
    * memory-and-disk on a local master; DISK_ONLY on a multi-executor
    * one, where checkpoint blocks then live on (tmpfs-backed) executor
    * disk and put zero pressure on the storage memory pool whose
    * eviction storms starved small executors.
    */
  def storage(spark: SparkSession): StorageLevel =
    if (spark.sparkContext.isLocal) StorageLevel.MEMORY_AND_DISK_SER
    else StorageLevel.DISK_ONLY

  def apply[T](ds: Dataset[T]): Dataset[T] =
    ds.localCheckpoint(true, storage(ds.sparkSession))
}
