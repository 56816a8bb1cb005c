package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path,
  RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}

import graft.SparkSpec

/** A local filesystem registered under another scheme: the manager must
  * treat it as "not Hadoop's local FS" and delegate. */
class OtherSchemeFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "othersch"
  override def getUri: java.net.URI = java.net.URI.create("othersch:///")
}

class LocalCheckpointFileManagerSpec extends SparkSpec {

  private def tmpDir(): java.nio.file.Path =
    Files.createTempDirectory("ckpt_fm")

  private def manager(dir: java.nio.file.Path) =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def write(fm: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Every file name under `dir`, relative to it. */
  private def tree(dir: java.nio.file.Path): Seq[String] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(dir.relativize(_).toString).toSeq.sorted
    finally walk.close()
  }

  test("createAtomic + close publishes the file and leaves no temp file") {
    val dir = tmpDir()
    val fm = manager(dir)
    assert(fm.underlying.isLocal &&
      !fm.underlying.isInstanceOf[FileSystemBasedCheckpointFileManager])
    val p = new Path(new Path(dir.toUri), "offsets/0")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("v1".getBytes(UTF_8))
    assert(!fm.exists(p), "visible before close")
    out.close()
    out.close() // idempotent
    assert(read(fm, p) == "v1")
    // no temp file, no hidden Hadoop .crc sidecar
    assert(tree(dir) == Seq("offsets/0"))
  }

  test("cancel leaves neither the target nor the temp file") {
    val dir = tmpDir()
    val fm = manager(dir)
    val p = new Path(new Path(dir.toUri), "commits/3")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    out.close() // a cancelled stream never publishes
    assert(!fm.exists(p))
    assert(tree(dir).isEmpty, tree(dir))
  }

  test("no-overwrite onto an existing file throws FileAlreadyExists; " +
      "overwrite replaces it") {
    val dir = tmpDir()
    val fm = manager(dir)
    val p = new Path(new Path(dir.toUri), "1.delta")
    write(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException] {
      write(fm, p, "second", overwrite = false)
    }
    assert(read(fm, p) == "first")
    assert(tree(dir) == Seq("1.delta")) // the failed temp file is gone
    write(fm, p, "third", overwrite = true)
    assert(read(fm, p) == "third")
    assert(tree(dir) == Seq("1.delta"))
  }

  test("mkdirs, list, exists and delete") {
    val dir = tmpDir()
    val fm = manager(dir)
    val root = new Path(dir.toUri)
    val sub = new Path(root, "state/0/1")
    fm.mkdirs(sub)
    fm.mkdirs(sub) // existing directory: no error
    assert(Files.isDirectory(Paths.get(sub.toUri)))
    Seq("1.delta", "2.delta", "2.snapshot").foreach(n =>
      write(fm, new Path(sub, n), n, overwrite = false))
    assert(fm.list(sub).map(_.getPath.getName).sorted.toSeq ==
      Seq("1.delta", "2.delta", "2.snapshot"))
    assert(fm.list(sub, (p: Path) => p.getName.endsWith(".delta"))
      .map(_.getPath.getName).sorted.toSeq == Seq("1.delta", "2.delta"))
    assert(fm.exists(new Path(sub, "1.delta")))
    fm.delete(new Path(sub, "1.delta"))
    assert(!fm.exists(new Path(sub, "1.delta")))
    fm.delete(new Path(sub, "absent")) // a missing path is not an error
    fm.delete(new Path(root, "state")) // recursive
    assert(!fm.exists(sub))
    val ckpt = manager(dir.resolve("fresh")).createCheckpointDirectory()
    assert(ckpt.toUri.getScheme == "file" &&
      Files.isDirectory(Paths.get(ckpt.toUri)))
    assert(tree(dir).isEmpty, tree(dir))
  }

  test("a path whose scheme is not `file` goes to Spark's own manager") {
    val dir = tmpDir()
    val conf = new Configuration()
    conf.set("fs.othersch.impl", classOf[OtherSchemeFileSystem].getName)
    conf.setBoolean("fs.othersch.impl.disable.cache", true)
    conf.set(LocalCheckpointFileManager.ClassKey,
      classOf[LocalCheckpointFileManager].getName)
    val root = new Path(s"othersch://${dir.toUri.getPath}")
    val fm = new LocalCheckpointFileManager(root, conf)
    val unset = new Configuration(conf)
    unset.unset(LocalCheckpointFileManager.ClassKey)
    assert(fm.underlying.getClass ==
      CheckpointFileManager.create(root, unset).getClass)
    assert(!fm.underlying.isInstanceOf[LocalCheckpointFileManager])
    // and the delegated manager does the work
    val p = new Path(root, "offsets/0")
    write(fm, p, "x", overwrite = false)
    assert(read(fm, p) == "x")
  }

  test("StreamRun installs the manager, keeps a user-set one, restores " +
      "both confs and stops the query") {
    val key = LocalCheckpointFileManager.ClassKey
    val src = tmpDir().toString
    def during(statePartitions: Option[Int]): (String, String) = {
      val name = s"fm_conf_${System.nanoTime()}"
      StreamRun.run(spark, spark.readStream.schema("x INT").parquet(src)
          .writeStream.format("memory").queryName(name),
          statePartitions) { q =>
        q.processAllAvailable()
        assert(q.isActive)
        // the partition pin reaches the query's own session only
        (spark.conf.get(key), org.apache.spark.sql.graft.shims
          .streamSession(q).conf.get("spark.sql.shuffle.partitions"))
      }
    }
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    assert(spark.conf.getOption(key).isEmpty)
    assert(during(Some(3)) ==
      (classOf[LocalCheckpointFileManager].getName -> "3"))
    assert(spark.conf.getOption(key).isEmpty)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parts)
    assert(spark.streams.active.isEmpty)
    val user = classOf[FileSystemBasedCheckpointFileManager].getName
    spark.conf.set(key, user)
    try {
      assert(during(None) == (user -> parts))
      assert(spark.conf.get(key) == user)
    } finally spark.conf.unset(key)
  }
}
