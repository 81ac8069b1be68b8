package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, BlockLocation, CreateFlag, FSDataInputStream, FSDataOutputStream, FileAlreadyExistsException, FileChecksum, FileStatus, FsServerDefaults, FsStatus, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

import graft.streaming.{LocalCheckpointFileManager, StreamQueries}

/** The drains' checkpoint file manager: its atomic-publish contract on
  * `file:` paths, delegation for every other scheme, and what it buys a
  * real drain (no `.crc` sidecars, no forked processes). */
class CheckpointFileManagerSpec extends SparkSpec {

  private def manager(dir: NioPath) =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def names(dir: NioPath): Set[String] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  private def write(out: FSDataOutputStream, text: String): Unit =
    out.write(text.getBytes(UTF_8))

  test("createAtomic publishes nothing before close, the whole file after") {
    withTempDir("graft_ckpt_mgr_") { dir =>
      val mgr = manager(dir)
      val target = new Path(dir.resolve("1.delta").toUri)
      val out = mgr.createAtomic(target, overwriteIfPossible = false)
      write(out, "payload")
      out.flush()
      assert(!mgr.exists(target))
      assert(mgr.list(new Path(dir.toUri)).isEmpty, "a temp file must not be listed")
      out.close()
      assert(names(dir) === Set("1.delta"))
      val in = mgr.open(target)
      try assert(new String(in.readAllBytes(), UTF_8) === "payload") finally in.close()
    }
  }

  test("cancel leaves neither the final file nor the temp file") {
    withTempDir("graft_ckpt_mgr_") { dir =>
      val mgr = manager(dir)
      val target = new Path(dir.resolve("2.delta").toUri)
      val out = mgr.createAtomic(target, overwriteIfPossible = true)
      write(out, "half")
      out.cancel()
      out.close() // a close after cancel must not publish
      assert(names(dir).isEmpty)
    }
  }

  test("overwrite=false onto an existing file fails and keeps the original") {
    withTempDir("graft_ckpt_mgr_") { dir =>
      val mgr = manager(dir)
      val target = new Path(dir.resolve("0").toUri)
      val first = mgr.createAtomic(target, overwriteIfPossible = false)
      write(first, "original")
      first.close()
      val second = mgr.createAtomic(target, overwriteIfPossible = false)
      write(second, "usurper")
      intercept[FileAlreadyExistsException](second.close())
      second.cancel() // Spark's metadata log cancels after a lost race
      assert(names(dir) === Set("0"))
      assert(Files.readString(dir.resolve("0")) === "original")
    }
  }

  test("overwrite=true replaces the file and drops its stale .crc sidecar") {
    withTempDir("graft_ckpt_mgr_") { dir =>
      val mgr = manager(dir)
      Files.writeString(dir.resolve("3.zip"), "old")
      Files.writeString(dir.resolve(".3.zip.crc"), "stale")
      val out = mgr.createAtomic(new Path(dir.resolve("3.zip").toUri),
        overwriteIfPossible = true)
      write(out, "new")
      out.close()
      assert(names(dir) === Set("3.zip"))
      assert(Files.readString(dir.resolve("3.zip")) === "new")
    }
  }

  test("list hides .crc sidecars and temp files; delete removes a file's sidecar") {
    withTempDir("graft_ckpt_mgr_") { dir =>
      val mgr = manager(dir)
      Seq("0", ".0.crc", ".1.4f2e.tmp", "1.delta", ".1.delta.crc")
        .foreach(n => Files.writeString(dir.resolve(n), n))
      val listed = mgr.list(new Path(dir.toUri)).map(_.getPath.getName).toSet
      assert(listed === Set("0", "1.delta"))
      val filtered = mgr.list(new Path(dir.toUri), (p: Path) => p.getName != "0")
      assert(filtered.map(_.getPath.getName).toSet === Set("1.delta"))
      mgr.delete(new Path(dir.resolve("1.delta").toUri))
      mgr.delete(new Path(dir.resolve("absent").toUri)) // no error on a missing path
      assert(names(dir) === Set("0", ".0.crc", ".1.4f2e.tmp"))
      assert(mgr.isLocal)
    }
  }

  test("a non-file: checkpoint goes through Spark's default manager") {
    RecordingAfs.calls.clear()
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.graftmem.impl", classOf[RecordingAfs].getName)
    val mgr = new LocalCheckpointFileManager(new Path("graftmem:///ckpt"), conf)
    assert(mgr.impl.isInstanceOf[FileContextBasedCheckpointFileManager])
    assert(!mgr.exists(new Path("graftmem:///ckpt/offsets/0")))
    mgr.mkdirs(new Path("graftmem:///ckpt/commits"))
    assert(RecordingAfs.calls.asScala.toSeq ===
      Seq("getFileStatus /ckpt/offsets/0", "mkdir /ckpt/commits"))
    // a file: manager never touches the registered scheme
    withTempDir("graft_ckpt_mgr_")(dir => manager(dir).exists(new Path(dir.toUri)))
    assert(RecordingAfs.calls.size === 2)
  }

  test("a stateful checkpoint written by Spark's default manager resumes under this one") {
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    assert(!spark.conf.getAll.contains(key), s"the shared session already sets $key")
    withTempDir("graft_ckpt_mgr_") { dir =>
      val src = Files.createDirectories(dir.resolve("src"))
      val ckpt = dir.resolve("ckpt").toString
      def land(name: String, ids: Range): Unit = {
        val lines = ids.map(i => s"${i % 10},$i")
        Files.writeString(src.resolve(name), lines.mkString("", "\n", "\n"))
        ()
      }
      def drain(): Unit = {
        val q = spark.readStream.schema("k INT, id LONG").csv(src.toString)
          .groupBy("k").count()
          .writeStream.format("memory").queryName("ckpt_resume_counts")
          .outputMode("complete").option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        assert(q.awaitTermination(120000L), "AvailableNow drain did not terminate")
      }
      land("a.csv", 0 until 100)
      drain() // Spark's default manager: Hadoop .crc sidecars everywhere
      val written = {
        val s = Files.walk(dir.resolve("ckpt"))
        try s.iterator.asScala.map(_.getFileName.toString).toSeq finally s.close()
      }
      assert(written.exists(n => n.startsWith(".") && n.endsWith(".delta.crc")))
      land("b.csv", 100 until 150)
      spark.conf.set(key, classOf[LocalCheckpointFileManager].getName)
      try drain() finally spark.conf.unset(key)
      // the second run read the first run's offsets, commits and state
      // deltas: only b.csv is new, and every count carries both files
      val counts = spark.table("ckpt_resume_counts").collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(counts === (0 until 10).map(_ -> 15L).toMap)
    }
  }

  test("q_stream_dedup checkpoints without .crc sidecars or forked processes") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val drain = SparkEntry.queries("q_stream_dedup")
    drain(spark, sfDir) // stages the corpus once, outside the recording
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val dump = Files.createTempFile("graft_drain_", ".jfr")
    try {
      rec.start()
      drain(spark, sfDir)
      rec.stop()
      rec.dump(dump)
      val forks = RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
      val fromStreaming = forks.flatMap { e =>
        Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(_.getMethod.getType.getName)
          .find(_.startsWith("org.apache.spark.sql.execution.streaming"))
          .map(frame => s"${e.getString("command")} via $frame")
      }
      assert(fromStreaming.isEmpty,
        s"${fromStreaming.size} process start(s) from the streaming engine: " +
          fromStreaming.distinct.take(5).mkString("; "))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
    val ckpt = StreamQueries.tmpBase("graft_stream_dedup_", sfDir).resolve("ckpt")
    val files = {
      val s = Files.walk(ckpt)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(_.getFileName.toString).toSeq
      finally s.close()
    }
    assert(files.exists(_.endsWith(".delta")), s"no state deltas under $ckpt")
    // Hadoop's sidecars are `.<name>.crc`; Spark's own state-store
    // checksums (`<name>.crc`) are checkpoint content and stay
    val sidecars = files.filter(n => n.startsWith(".") && n.endsWith(".crc"))
    assert(sidecars.isEmpty, s"Hadoop checksum sidecars under $ckpt: $sidecars")
  }

  test("every drain leaves the caller's session conf exactly as it found it") {
    val drains = SparkEntry.queries.keys.filter(_.startsWith("q_stream_")).toSeq.sorted
    assert(drains.size === 8)
    // one scoped key the caller set to a value the drains override, the
    // others (provider, no-data batches, checkpoint manager) left unset
    val partitions = "spark.sql.shuffle.partitions"
    val callerPartitions = spark.conf.get(partitions)
    spark.conf.set(partitions, "5")
    try drains.foreach { name =>
      val before = spark.conf.getAll
      SparkEntry.queries(name)(spark, sfDir)
      val after = spark.conf.getAll
      val changed = (before.keySet ++ after.keySet)
        .filter(k => before.get(k) != after.get(k))
      assert(changed.isEmpty, s"$name changed the caller's conf: " +
        changed.map(k => s"$k: ${before.get(k)} -> ${after.get(k)}").mkString(", "))
    } finally spark.conf.set(partitions, callerPartitions)
  }
}

/** A `graftmem:` filesystem that records the calls it receives and
  * holds no files, so the delegation path is observable without a
  * cluster. Hadoop builds it reflectively from (URI, Configuration). */
class RecordingAfs(uri: URI, conf: Configuration)
    extends AbstractFileSystem(uri, "graftmem", false, -1) {
  private def record(op: String, p: Path): Unit = {
    RecordingAfs.calls.add(s"$op ${p.toUri.getPath}"); ()
  }
  override def getUriDefaultPort: Int = -1
  override def getFileStatus(p: Path): FileStatus = {
    record("getFileStatus", p)
    throw new java.io.FileNotFoundException(p.toString)
  }
  override def mkdir(p: Path, perm: FsPermission, createParent: Boolean): Unit =
    record("mkdir", p)
  private def unsupported = throw new UnsupportedOperationException("graftmem")
  override def getServerDefaults: FsServerDefaults = unsupported
  override def createInternal(p: Path, flag: EnumSet[CreateFlag], perm: FsPermission,
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable,
      checksumOpt: Options.ChecksumOpt, createParent: Boolean): FSDataOutputStream = unsupported
  override def delete(p: Path, recursive: Boolean): Boolean = unsupported
  override def open(p: Path, bufferSize: Int): FSDataInputStream = unsupported
  override def setReplication(p: Path, replication: Short): Boolean = unsupported
  override def renameInternal(src: Path, dst: Path): Unit = unsupported
  override def setPermission(p: Path, perm: FsPermission): Unit = unsupported
  override def setOwner(p: Path, user: String, group: String): Unit = unsupported
  override def setTimes(p: Path, mtime: Long, atime: Long): Unit = unsupported
  override def getFileChecksum(p: Path): FileChecksum = unsupported
  override def getFileBlockLocations(p: Path, start: Long, len: Long): Array[BlockLocation] =
    unsupported
  override def getFsStatus: FsStatus = unsupported
  override def listStatus(p: Path): Array[FileStatus] = unsupported
  override def setVerifyChecksum(verify: Boolean): Unit = unsupported
}

object RecordingAfs {
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
