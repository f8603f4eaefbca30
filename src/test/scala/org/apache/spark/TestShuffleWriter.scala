package org.apache.spark

import org.apache.spark.internal.config.SHUFFLE_SORT_BYPASS_MERGE_THRESHOLD
import org.apache.spark.shuffle.sort.SortShuffleWriter

/** Test access to Spark's shuffle-writer choice, which is `private[spark]`. */
object TestShuffleWriter {
  /** The bypass-merge threshold under `settings`, or Spark's default. */
  def bypassThreshold(settings: Seq[(String, String)]): Int =
    new SparkConf(false).setAll(settings).get(SHUFFLE_SORT_BYPASS_MERGE_THRESHOLD)

  /** Whether a map task of a `width`-partition hash shuffle with no
    * map-side combine writes through BypassMergeSortShuffleWriter under
    * `settings`. The dependency is built on `sc` but never run.
    */
  def bypassesMergeSort(sc: SparkContext, settings: Seq[(String, String)],
      width: Int): Boolean = {
    val dep = new ShuffleDependency[Int, Int, Int](sc.emptyRDD[(Int, Int)],
      new HashPartitioner(width))
    SortShuffleWriter.shouldBypassMergeSort(new SparkConf(false).setAll(settings), dep)
  }
}
