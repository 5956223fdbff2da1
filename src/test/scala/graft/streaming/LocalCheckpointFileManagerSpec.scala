package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

import graft.{GraftSession, SparkSpec}
import graft.etl.PushSink

/** The engine manager, counting the checkpoint files a stream writes
  * through it. */
class CountingCheckpointFileManager(path: Path, conf: Configuration)
    extends LocalCheckpointFileManager(path, conf) {
  override def createAtomic(
      path: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    CountingCheckpointFileManager.written.add(path.getName)
    super.createAtomic(path, overwriteIfPossible)
  }
}

object CountingCheckpointFileManager {
  val written = new ConcurrentLinkedQueue[String]()
}

object EventIdPusher extends PushSink.RowPusher {
  val ids = new ConcurrentLinkedQueue[String]()
  override def push(table: String, chunk: Seq[String]): Unit =
    chunk.foreach(j => ids.add(j.split("\"EventID\":\"")(1).split("\"")(0)))
}

class LocalCheckpointFileManagerSpec extends SparkSpec {

  private def tmp(prefix: String): NioPath = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit(); p
  }

  private def manager(dir: NioPath): CheckpointFileManager =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def write(fm: CheckpointFileManager, p: Path, overwrite: Boolean,
      text: String): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: NioPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("createAtomic without overwrite refuses an existing file and keeps its bytes") {
    val dir = tmp("graft-lcfm")
    val fm = manager(dir)
    val p = new Path(dir.resolve("0").toUri)
    write(fm, p, overwrite = false, "old")
    a[FileAlreadyExistsException] should be thrownBy
      write(fm, p, overwrite = false, "new")
    read(fm, p) shouldBe "old"
    names(dir) shouldBe Set("0") // the temp file is gone too
  }

  test("cancel leaves neither the target nor the temp file") {
    val dir = tmp("graft-lcfm")
    val out = manager(dir).createAtomic(new Path(dir.resolve("1").toUri), false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    out.close() // a no-op after cancel
    names(dir) shouldBe empty
  }

  test("createAtomic with overwrite replaces a file that has a stale .crc") {
    val dir = tmp("graft-lcfm")
    val p = new Path(dir.resolve("2.delta").toUri)
    // the checksummed local FS writes 2.delta plus .2.delta.crc
    val local = FileSystem.getLocal(new Configuration())
    val old = local.create(p)
    old.write("stale bytes".getBytes(UTF_8)); old.close()
    names(dir) should contain(".2.delta.crc")
    val fm = manager(dir)
    write(fm, p, overwrite = true, "fresh")
    read(fm, p) shouldBe "fresh"
    names(dir) shouldBe Set("2.delta")
  }

  test("GraftSession's conf creates the engine manager, which writes no .crc") {
    val dir = tmp("graft-lcfm")
    val conf = new Configuration()
    conf.set(GraftSession.checkpointManagerConf._1, GraftSession.checkpointManagerConf._2)
    val fm = CheckpointFileManager.create(new Path(dir.toUri), conf)
    fm.getClass shouldBe classOf[LocalCheckpointFileManager]
    write(fm, new Path(dir.resolve("0").toUri), overwrite = false, "a")
    write(fm, new Path(dir.resolve("1").toUri), overwrite = true, "b")
    names(dir) shouldBe Set("0", "1")
  }

  private val providers = Seq(
    "HDFS-backed" -> ("org.apache.spark.sql.execution.streaming.state." +
      "HDFSBackedStateStoreProvider", ".delta"),
    "RocksDB" -> ("org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider", ".changelog"))

  for ((label, (provider, stateFile)) <- providers)
    test(s"a restarted ingest stream still drops a redelivery ($label state store)") {
      val confs = Seq(
        "spark.sql.streaming.checkpointFileManagerClass" ->
          classOf[CountingCheckpointFileManager].getName,
        "spark.sql.streaming.stateStore.providerClass" -> provider,
        // RocksDB writes its changelog through createAtomic too
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
      val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val in = tmp("graft-lcfm-in"); val chk = tmp("graft-lcfm-chk")
        def call(id: Int, at: String) =
          s"""{"event":"outbound_call","body":{"id":$id,"owner_id":10,"created_at":"$at"}}"""
        def run(): Unit = {
          val facts = StreamingIngest.transform(
            StreamingIngest.fileSource(spark, in.toString, "ALOWARE"), roster = None)
          val q = StreamingIngest.pushSink(facts, chk.toString, EventIdPusher,
            triggerMs = 100).start()
          try q.processAllAvailable() finally q.stop()
        }
        EventIdPusher.ids.clear(); CountingCheckpointFileManager.written.clear()
        Files.writeString(in.resolve("w1.json"),
          call(31, "2025-11-05 10:00:00") + "\n" + call(32, "2025-11-05 10:00:01") + "\n")
        run()
        Files.writeString(in.resolve("w2.json"),
          call(31, "2025-11-05 10:09:00") + "\n" + call(33, "2025-11-05 10:09:01") + "\n")
        run() // restarted from the checkpoint the first run left
        EventIdPusher.ids.asScala.toSeq.sorted shouldBe
          Seq("ALOWARE:31", "ALOWARE:32", "ALOWARE:33")
        // offsets, commits and state all went through the manager
        val written = CountingCheckpointFileManager.written.asScala.toSeq
        written should contain("0")
        written.exists(_.endsWith(stateFile)) shouldBe true
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
}
