package org.apache.spark.graftbridge

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.RDDBlockId

/** The number of RDD blocks the block manager master holds, asked of
  * every storage endpoint. `sc.getPersistentRDDs` would not do: it is a
  * weak-valued map, so it drops an RDD the driver has garbage-collected
  * while its blocks are still stored. Reaching the master needs the
  * `private[spark]` environment. */
object RddBlocks {
  def apply(spark: SparkSession): Int =
    spark.sparkContext.env.blockManager.master
      .getMatchingBlockIds(_.isInstanceOf[RDDBlockId], askStorageEndpoints = true).size
}
