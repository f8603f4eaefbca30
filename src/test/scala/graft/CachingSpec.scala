package graft

import org.apache.spark.sql.{DataFrame, TestCacheManager}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Caching

/** Cache release of `Caching.materialized`, the one owner of operator
  * caches: whatever a builder held is unpersisted whether the build
  * succeeds, the builder throws, or the materializing job fails — and
  * the shipped dedup queries leave nothing cached behind.
  */
class CachingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def entries: Int = TestCacheManager.entries(spark)

  private def persistentRdds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet[Int]

  private def isCached(df: DataFrame): Boolean = TestCacheManager(spark)
    .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined

  test("materialized releases what the builder held when the builder throws") {
    val (entriesBefore, rdds) = (entries, persistentRdds)
    var held = Seq.empty[DataFrame]
    val e = intercept[IllegalStateException] {
      Caching.materialized { h =>
        val a = h(spark.range(200).toDF("id"))
        val b = h(a.select((col("id") * 3).as("x")))
        // a construction-time probe: fills both caches, so their RDDs
        // are registered before the builder fails
        assert(b.count() == 200)
        held = Seq(a, b)
        assert(held.forall(isCached) && entries == entriesBefore + 2)
        throw new IllegalStateException("builder failed")
      }
    }
    assert(e.getMessage == "builder failed")
    assert(held.size == 2 && !held.exists(isCached))
    assert(entries == entriesBefore)
    assert(persistentRdds == rdds)
  }

  test("materialized releases what the builder held when the materializing job fails") {
    val (entriesBefore, rdds) = (entries, persistentRdds)
    val boom = udf((x: Long) => if (x == 77) throw new RuntimeException("boom") else x)
    var held = Seq.empty[DataFrame]
    var heldRdds = Set.empty[Int]
    val e = intercept[Exception] {
      Caching.materialized { h =>
        val a = h(spark.range(300).toDF("id"))
        assert(a.count() == 300)
        held = Seq(a)
        heldRdds = persistentRdds -- rdds
        a.select(boom(col("id")).as("y"))
      }
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom")), e)
    assert(held.size == 1 && heldRdds.nonEmpty && !held.exists(isCached))
    assert(entries == entriesBefore)
    // Spark registers the checkpoint's own RDD before its job runs,
    // and the failed job leaves it registered until it is
    // garbage-collected; that is the only RDD allowed beyond the
    // RDDs that were there before the call
    assert((persistentRdds & heldRdds).isEmpty)
    assert((persistentRdds -- rdds).size <= 1)
  }

  test("materialized leaves only the checkpoint's own RDD after a successful build") {
    val (entriesBefore, rdds) = (entries, persistentRdds)
    var held = Seq.empty[DataFrame]
    val out = Caching.materialized { h =>
      val a = h(spark.range(400).toDF("id"))
      held = Seq(a)
      a.join(a.select((col("id") + 1).as("id")), Seq("id"))
    }
    assert(held.size == 1 && !held.exists(isCached))
    assert(entries == entriesBefore)
    val checkpointRdds = out.queryExecution.analyzed.collect {
      case r: LogicalRDD => r.rdd.id
    }.toSet
    assert(checkpointRdds.size == 1)
    assert(persistentRdds -- rdds == checkpointRdds)
    assert(out.count() == 399) // the checkpointed result outlives the release
  }

  test("building the dedup queries leaves the CacheManager empty") {
    spark.catalog.clearCache()
    for (q <- Seq("dd_containment_strat_budget", "dd_jaccard_lsh",
        "dd_minhash_est_eval", "dd_dup_spans")) {
      val df = SparkEntry.queries(q)(spark, TestSpark.sfDir)
      assert(entries == 0, s"$q left $entries cached frame(s) behind")
      assert(df.count() >= 0)
    }
  }
}
