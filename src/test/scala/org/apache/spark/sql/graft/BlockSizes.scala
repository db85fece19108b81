package org.apache.spark.sql.graft

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.RDDBlockId

/** Test-side reference for stored RDD sizes: asks the block manager
  * master for each partition's block on its own (`getBlockStatus`), so
  * specs can check [[Bridge.storedBlockBytes]] against an independent
  * per-block reading. Lives here because the master is `private[spark]`. */
object BlockSizes {
  /** Per-partition memory + disk bytes of `rdd`'s blocks (one replica);
    * a partition with no registered block is absent. */
  def perPartition(rdd: RDD[_]): Map[Int, Long] = {
    val master = SparkEnv.get.blockManager.master
    rdd.partitions.indices.flatMap { p =>
      master.getBlockStatus(RDDBlockId(rdd.id, p), askStorageEndpoints = false)
        .values.map(s => s.memSize + s.diskSize).maxOption.map(p -> _)
    }.toMap
  }
}
