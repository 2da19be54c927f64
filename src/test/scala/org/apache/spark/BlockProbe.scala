package org.apache.spark

import org.apache.spark.storage.BlockId

/** The RDD blocks the block managers hold (Spark keeps them package-private). */
object BlockProbe {
  def rddBlocks(sc: SparkContext): Seq[BlockId] =
    sc.env.blockManager.master.getMatchingBlockIds(_.isRDD, askStorageEndpoints = true)
}
