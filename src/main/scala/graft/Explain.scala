package graft

/** Dev utility: print the formatted physical plan of named SparkEntry
  * queries (all queries when none named) — the `.explain` audit loop
  * behind PLANS.md. Usage:
  * `runMain graft.Explain <sfDir> [queryName ...]`
  *
  * Caveat: operators that eagerly materialize (the near-dup family,
  * PQ — anything ending in localCheckpoint) execute their full job
  * during construction and then explain only as `Scan ExistingRDD`;
  * audit those by explaining their internal frames from a REPL, or
  * read the per-stage notes in PLANS.md.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq
    // the shipping session, so the printed plans are the plans that run
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n===== $name =====")
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          try fn(spark, sfDir).explain("formatted")
          catch { case scala.util.control.NonFatal(e) => println(s"error: ${e.getMessage}") }
        case None => println("unknown query")
      }
    }
    spark.stop()
  }
}
