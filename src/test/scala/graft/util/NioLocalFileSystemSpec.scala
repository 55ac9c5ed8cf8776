package graft.util

import graft.SparkSuite
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.col
import java.io.File
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFileAttributeView
import scala.jdk.CollectionConverters._

class NioLocalFileSystemSpec extends SparkSuite {

  /** The permission bits of `p`, sticky bit included, in octal. */
  private def mode(p: JPath): String =
    "%04o".format(Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x3ff)

  private def initialized[F <: FileSystem](fs: F, umask: Option[String]): F = {
    val conf = new Configuration()
    umask.foreach(conf.set("fs.permissions.umask-mode", _))
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** The modes of what a `create` and a `mkdirs` through `fs` make: the
    * file, its checksum file and their new parent directories. */
  private def modes(fs: FileSystem): Seq[(String, String)] = {
    val root = Files.createTempDirectory("graft_fs_modes")
    fs.create(new Path(root.resolve("a/b/part-0").toUri)).close()
    fs.mkdirs(new Path(root.resolve("c/d").toUri))
    Seq("a", "a/b", "a/b/part-0", "a/b/.part-0.crc", "c", "c/d").map(r => r -> mode(root.resolve(r)))
  }

  test("Spark's filesystem for file: paths is NioLocalFileSystem over its java.nio raw filesystem") {
    val fs = new Path(Files.createTempDirectory("graft_fs_class").toUri)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRawFileSystem.isInstanceOf[NioLocalFileSystem.Raw])
  }

  test("create and mkdirs give stock Hadoop's modes, under the default and a configured umask") {
    for ((umask, dir, file) <- Seq((None, "0755", "0644"), (Some("077"), "0700", "0600"))) {
      val got = modes(initialized(new NioLocalFileSystem, umask))
      assert(got.toMap == Map("a" -> dir, "a/b" -> dir, "a/b/part-0" -> file,
        "a/b/.part-0.crc" -> file, "c" -> dir, "c/d" -> dir), s"umask $umask")
      assert(got == modes(initialized(new LocalFileSystem, umask)), s"umask $umask")
    }
  }

  test("setPermission falls back to the stock chmod without a POSIX view or with the sticky bit") {
    val noView = initialized(new NioLocalFileSystem.Raw {
      override protected def posixView(f: File): PosixFileAttributeView = null
    }, None)
    val file = Files.createTempFile("graft_fs_fallback", "")
    noView.setPermission(new Path(file.toUri), new FsPermission("640"))
    assert(mode(file) == "0640")

    val dir = Files.createTempDirectory("graft_fs_sticky")
    initialized(new NioLocalFileSystem.Raw, None).setPermission(new Path(dir.toUri), new FsPermission("1750"))
    assert(mode(dir) == "1750")
  }

  test("a partitioned parquet write through the session forks no chmod") {
    val out = Files.createTempDirectory("graft_fs_forks")
    val recording = new Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try {
      spark.range(200).withColumn("b", col("id") % 4).repartition(2)
        .write.mode("overwrite").partitionBy("b").parquet(out.resolve("t").toString)
      // the recording sees a fork: stock Hadoop's mkdirs runs chmod
      initialized(new LocalFileSystem, None).mkdirs(new Path(out.resolve("stock").toUri))
    } finally recording.stop()
    val dump = Files.createTempFile("graft_fs_forks", ".jfr")
    try {
      recording.dump(dump)
      val chmods = RecordingFile.readAllEvents(dump).asScala.map(_.getString("command"))
        .filter(_.startsWith("chmod"))
      assert(chmods.size == 1 && chmods.head.endsWith("stock"), chmods)
    } finally {
      recording.close()
      Files.delete(dump)
    }
    assert(spark.read.parquet(out.resolve("t").toString).count() == 200L)
  }
}
