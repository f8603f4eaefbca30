package graft

import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EventOps
import graft.streaming.{EventStreamJobs, LiveEvent, LocalCheckpointFileManager}

/** The streaming checkpoint manager `GraftSession` installs: which
  * Spark manager it dispatches to, the integrity files a `file:`
  * checkpoint still gets, and a `dedupStream`→`route` query restarted
  * from its checkpoint.
  */
class CheckpointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val base = 100020L // hour-aligned minutes, clear of the epoch watermark
  private def ev(id: Long, min: Long, user: Long, tpe: String) =
    LiveEvent(id, new Timestamp((base + min) * 60000L), user, tpe, 1.0 + id % 3)

  /** The manager Spark builds for `path` when the conf is unset. */
  private def sparkDefault(path: Path, conf: Configuration): Class[_] = {
    val plain = new Configuration(conf)
    plain.unset(ManagerKey)
    CheckpointFileManager.create(path, plain).getClass
  }

  private def dispatched(path: Path, conf: Configuration): Class[_] =
    CheckpointFileManager.create(path, conf) match {
      case m: LocalCheckpointFileManager => m.underlying.getClass
      case other => fail(s"session did not install LocalCheckpointFileManager: ${other.getClass}")
    }

  test("a file: checkpoint on a graft session goes through the FileSystem-based manager") {
    val conf = spark.sessionState.newHadoopConf()
    val path = new Path(Files.createTempDirectory("graft-ckpt").toUri)
    assert(dispatched(path, conf) == classOf[FileSystemBasedCheckpointFileManager])
    assert(sparkDefault(path, conf) == classOf[FileContextBasedCheckpointFileManager])
  }

  test("a file system other than LocalFileSystem gets Spark's default manager") {
    val dir = Files.createTempDirectory("graft-ckpt-raw").toUri
    // `file:` served by the raw (checksum-less) file system: FileContext
    // supports the scheme, so Spark's default is the FileContext manager
    val raw = spark.sessionState.newHadoopConf()
    raw.set("fs.file.impl", classOf[RawLocalFileSystem].getName)
    raw.setBoolean("fs.file.impl.disable.cache", true)
    val rawPath = new Path(dir)
    val onRaw = dispatched(rawPath, raw)
    assert(onRaw == classOf[FileContextBasedCheckpointFileManager])
    assert(onRaw == sparkDefault(rawPath, raw))
    // a scheme with no FileContext binding: both fall back to FileSystem
    val bare = spark.sessionState.newHadoopConf()
    bare.set("fs.graftbare.impl", classOf[RawLocalFileSystem].getName)
    val barePath = new Path(s"graftbare://${dir.getPath}")
    val onBare = dispatched(barePath, bare)
    assert(onBare == classOf[FileSystemBasedCheckpointFileManager])
    assert(onBare == sparkDefault(barePath, bare))
  }

  private def filesUnder(dir: JPath): Seq[JPath] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close()
  }

  /** Runs `dedupStream`→`route` over `batches`, one micro-batch each,
    * on `in` and the checkpoint at `ckpt`; returns the (event_id,
    * handler) rows its sink received. The sink is `foreachBatch`
    * because the memory sink cannot recover from a checkpoint in
    * append mode.
    */
  private def runBus(in: MemoryStream[LiveEvent], ckpt: String,
      batches: Seq[Seq[LiveEvent]]): Seq[(Long, String)] = {
    val sunk = new ConcurrentLinkedQueue[(Long, String)]
    val q = EventStreamJobs.route(EventStreamJobs.dedupStream(in.toDF()),
        EventOps.handlerRegistry(spark))
      .select("event_id", "handler").writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.collect().foreach(r => sunk.add((r.getLong(0), r.getString(1))))
      }
      .option("checkpointLocation", ckpt).start()
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      sunk.asScala.toSeq
    } finally q.stop()
  }

  test("every state delta, offset and commit file carries its checksum files") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-ckpt-files")
    val batches = (0 until 3).map { b =>
      (0 until 6).map(i => ev(b * 10L + i, b * 5L + i, i % 3, Seq("view", "purchase", "error")(i % 3)))
    }
    runBus(MemoryStream[LiveEvent], ckpt.toString, batches)
    val files = filesUnder(ckpt).toSet
    def has(f: JPath, sibling: String): Boolean = files.contains(f.resolveSibling(sibling))
    val deltas = files.filter(_.getFileName.toString.matches("\\d+\\.delta"))
    val logs = files.filter { f =>
      Set("offsets", "commits")(f.getParent.getFileName.toString) &&
        f.getFileName.toString.matches("\\d+")
    }
    assert(deltas.nonEmpty && logs.size >= 2 * batches.size)
    deltas.foreach { f =>
      val n = f.getFileName.toString
      assert(has(f, s"$n.crc"), s"Spark's state checksum missing for $f")
      assert(has(f, s".$n.crc"), s"Hadoop's .crc sidecar missing for $f")
    }
    logs.foreach { f =>
      assert(has(f, s".${f.getFileName}.crc"), s"Hadoop's .crc sidecar missing for $f")
    }
  }

  test("dedupStream -> route restarted from its checkpoint emits what an uninterrupted run does") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val types = Seq("view", "purchase", "error", "click")
    val first = (0 until 3).map { b =>
      (0 until 8).map(i => ev(b * 100L + i, b * 10L + i, i % 4, types(i % 4)))
    }
    val rest = Seq(
      // redeliveries of batch-0 payloads under fresh ids: restored
      // dedup state must drop them
      first.head.take(3).map(e => e.copy(event_id = e.event_id + 1000)) ++
        (0 until 4).map(i => ev(300L + i, 40L + i, i, types(i % 4))),
      // a year behind the restored watermark: dropped as late
      Seq(ev(400, -525600, 1, "view"), ev(401, 50, 2, "purchase")),
      (0 until 5).map(i => ev(500L + i, 60L + i, i % 2, types((i + 1) % 4))))

    val whole = runBus(MemoryStream[LiveEvent],
      Files.createTempDirectory("graft-ckpt-whole").toString, first ++ rest)

    val in = MemoryStream[LiveEvent]
    val ckpt = Files.createTempDirectory("graft-ckpt-restart").toString
    val before = runBus(in, ckpt, first)
    val after = runBus(in, ckpt, rest)

    assert(before.nonEmpty && after.nonEmpty)
    assert(!after.exists(_._1 >= 1000), "a redelivered payload survived the restart")
    assert(!after.exists(_._1 == 400), "a late event survived the restart")
    assert((before ++ after).sorted == whole.sorted)
  }
}
