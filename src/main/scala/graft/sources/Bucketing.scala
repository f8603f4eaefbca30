package graft.sources

import org.apache.spark.sql.DataFrame

/** Bucketed-table support: pre-shuffle fact tables once at write time
  * so every later equi-join/aggregation on the bucket key runs
  * shuffle-free (SURVEY.md §6 — at 100 TB, re-shuffling lineitem for
  * every orderkey join is the single biggest avoidable cost).
  */
object Bucketing {

  /** Write `df` as a bucketed, sorted datasource table. Bucket count
    * should approximate cluster parallelism at the target scale; both
    * join sides must agree on it.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    nBuckets: Int): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
}
