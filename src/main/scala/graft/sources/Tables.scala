package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables.
  *
  * Every read goes through [[Tables.parquet]]: the first read of a
  * table infers its schema like `spark.read.parquet`, later reads of
  * the same unchanged table pass the remembered schema and skip the
  * inference job. Either way the scan is a plain file scan, so
  * Catalyst keeps full pushdown freedom: filters and projections
  * applied by downstream operators reach the scan (verify via
  * `PushedFilters` / `ReadSchema` in explain output). At cluster scale
  * the same loaders work over a directory of many files; nothing here
  * assumes a single file.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = Tables.parquet(spark, s"$dir/$name.parquet")

  /** events.ts arrives in one of two physical shapes depending on the
    * generator version: parquet TIMESTAMP(NANOS) — which Spark 4
    * refuses natively, so we read nanos as long and floor-convert to
    * a micros timestamp (DuckDB's flooring ns→us `//` semantics,
    * including pre-epoch values: `div` truncates toward zero, so the
    * mod-subtract form below floors instead) — or plain
    * TIMESTAMP(MICROS) with isAdjustedToUTC=false, which reads as
    * TIMESTAMP_NTZ. Both are normalized to session-local TIMESTAMP so
    * every downstream operator sees one type. The NTZ cast is only
    * wall-clock-preserving under a UTC session, so that invariant is
    * enforced here rather than trusted to every session builder.
    *
    * Session-level side effect, deliberate: `nanosAsLong` must be set
    * when the relation resolves its schema, and the flag is needed by
    * every events read in the session. It is idempotent (constant
    * value ⇒ concurrent setters race benignly), but note that other
    * TIMESTAMP(NANOS) parquet in the same session will then also read
    * as long nanos.
    *
    * Any other physical type for `ts` fails fast right here — a
    * generator change must surface at load, not as an obscure
    * `unix_micros` error three operators downstream.
    */
  def events: DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "graft requires a UTC session (GraftSession sets it); events.ts NTZ " +
        "normalization is wall-clock-preserving only under UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t("events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros((ts - pmod(ts, 1000)) div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case TimestampType    => raw
      case other => throw new IllegalArgumentException(
        s"events.ts: expected TIMESTAMP(NANOS-as-long), TIMESTAMP_NTZ or TIMESTAMP, " +
          s"got $other — generator drift, fix the loader deliberately")
    }
  }

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  /** Session confs that change what parquet schema inference returns. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive")

  /** What a remembered schema was inferred from: every file under the
    * path as (name, length, modification time), and the values of
    * [[InferenceConfs]].
    */
  private type Fingerprint = (Seq[(String, Long, Long)], Seq[Option[String]])

  /** Per session (held weakly, so a stopped session is not retained):
    * qualified table path → the fingerprint and the schema inferred
    * from it. One entry per path; a miss replaces it.
    */
  private val memo =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, (Fingerprint, StructType)]]

  /** The one parquet read path. Spark's parquet schema inference
    * submits a Spark job on every `spark.read.parquet`, even with
    * `mergeSchema` off; for the small tables of a long-lived session
    * that job's scheduling is most of the read's cost. So the schema
    * of each table is inferred once per session and later reads pass
    * it with `spark.read.schema(...)`, which launches no job. File
    * listing, partition discovery, column pruning and filter pushdown
    * are the same as for an inferred read.
    *
    * A remembered schema is used only when the table is provably
    * unchanged: a recursive driver-side listing of the path (every
    * file's name, length and modification time, partition
    * subdirectories included) and the inference confs must equal
    * those it was inferred from. Anything else — an overwrite (new
    * part-file names), an append, a file added under a partition
    * directory, a flipped conf — infers again. The listing is a
    * recursive Hadoop `listStatus` walk on the driver (on a file path
    * it returns the file itself) and never launches a job; it repeats
    * the listing Spark's file index then does, a cost that grows with
    * the table's file count, not its size. It is not `listFiles`:
    * that wraps each file in a `LocatedFileStatus`, which reads the
    * file's permission and owner, and without Hadoop's native library
    * the local file system starts an `ls -ld` per file for that
    * (16–21 ms against 0.3–0.4 ms for a 5-file directory).
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val files = {
      val b = Vector.newBuilder[(String, Long, Long)]
      def walk(q: Path): Unit = fs.listStatus(q).foreach { f =>
        if (f.isDirectory) walk(f.getPath)
        else b += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      walk(p)
      b.result().sorted
    }
    val fp: Fingerprint = (files, InferenceConfs.map(spark.conf.getOption))
    val key = fs.makeQualified(p).toString
    val schemas = memo.synchronized(memo.computeIfAbsent(spark, _ => new ConcurrentHashMap))
    schemas.get(key) match {
      case (`fp`, schema) => spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        schemas.put(key, (fp, df.schema))
        df
    }
  }
}
