package graft

import org.apache.spark.TestShuffleWriter
import org.scalatest.funsuite.AnyFunSuite

/** The settings `GraftSession.builder` applies, checked against Spark's
  * own decisions on a plain `SparkConf`, so no second session starts.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("AQE's wide start never takes the bypass-merge writer; floor-wide shuffles still do") {
    val sc = TestSpark.spark.sparkContext
    val sparkDefault = TestShuffleWriter.bypassThreshold(Seq.empty)
    assert(sparkDefault == 200)
    assert(TestShuffleWriter.bypassThreshold(GraftSession.settings(-1)) == sparkDefault)
    for (n <- Seq(1, 4, 6, 8, 64, 256)) {
      val s = GraftSession.settings(n)
      val start = s.toMap.apply("spark.sql.adaptive.coalescePartitions.initialPartitionNum").toInt
      assert(start > n, s"n=$n: AQE start $start is not wide")
      assert(!TestShuffleWriter.bypassesMergeSort(sc, s, start), s"n=$n, start=$start")
      assert(TestShuffleWriter.bypassesMergeSort(sc, s, n) == (n <= 200), s"n=$n")
      assert(TestShuffleWriter.bypassThreshold(s) <= sparkDefault, s"n=$n")
    }
  }
}
