package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name subset for the local
    // fast loop (the driver always passes exactly two args → full run)
    val only = args.drop(2).headOption.map(_.split(',').toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // free dead localCheckpoint blocks between queries (same
      // block-store hygiene as Bench — see its scaladoc)
      graft.operators.Caching.releaseAll(spark)
    }
    // strict JSON escape (see JsonUtil) — a tab or CR in
    // builder-authored SQL would otherwise make the driver's
    // json.load fail and silently zero the round's correctness
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${JsonUtil.str(k)}: ${JsonUtil.str(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
