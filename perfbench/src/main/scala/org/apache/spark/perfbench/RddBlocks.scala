package org.apache.spark.perfbench

import org.apache.spark.SparkEnv

/** How many RDD blocks (cached partitions and local checkpoints) the
  * block manager holds. Blocks of an RDD nothing references any more are
  * removed by Spark's cleaner thread some time after a GC finds the RDD
  * unreachable. The block manager is package-private to Spark, hence
  * this package. */
object RddBlocks {
  def apply(): Int = SparkEnv.get.blockManager.getMatchingBlockIds(_.isRDD).size
}
