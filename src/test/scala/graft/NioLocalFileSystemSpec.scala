package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import graft.infra.NioLocalFileSystem
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The session's `file://` filesystem sets permission bits in-process and
  * leaves the modes Hadoop's own LocalFileSystem leaves. */
class NioLocalFileSystemSpec extends SparkSpec {

  private def mode(p: JPath): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("a graft session resolves file:/// to the nio filesystem") {
    val fs = FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass == classOf[NioLocalFileSystem], fs.getClass.getName)
    // FileSystem.getLocal casts to LocalFileSystem: checksums stay
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).isInstanceOf[LocalFileSystem])
  }

  test("a parquet write leaves 0644 files and 0755 directories") {
    val out = graft.infra.Staging.tempDir("graft-nio-fs").resolve("t")
    spark.range(100).repartition(3).write.parquet(out.toString)
    val all = Files.walk(out).toArray.map(_.asInstanceOf[JPath]).toSeq
    val (dirs, files) = all.partition(Files.isDirectory(_))
    assert(files.exists(_.getFileName.toString.endsWith(".crc")), all.mkString("\n"))
    assert(files.exists(_.getFileName.toString == "_SUCCESS"), all.mkString("\n"))
    val wrong = files.filter(mode(_) != "rw-r--r--").map(f => s"$f ${mode(f)}") ++
      dirs.filter(mode(_) != "rwxr-xr-x").map(d => s"$d ${mode(d)}")
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("mkdirs, create and setPermission give Hadoop's LocalFileSystem modes") {
    val conf = new Configuration()
    def modes(fs: FileSystem): Seq[String] = {
      fs.initialize(new URI("file:///"), conf)
      val root = graft.infra.Staging.tempDir("graft-nio-modes")
      val r = new Path(root.toUri)
      fs.mkdirs(new Path(r, "a/b"))
      fs.create(new Path(r, "a/b/f")).close()
      fs.mkdirs(new Path(r, "c"), new FsPermission("750"))
      fs.create(new Path(r, "g")).close()
      fs.setPermission(new Path(r, "g"), new FsPermission("600"))
      // the sticky bit still takes Hadoop's own path
      fs.mkdirs(new Path(r, "s"))
      fs.setPermission(new Path(r, "s"), new FsPermission("1777"))
      Seq("a", "a/b", "a/b/f", "a/b/.f.crc", "c", "g", "s").map(p => s"$p ${mode(root.resolve(p))}")
    }
    assert(modes(new NioLocalFileSystem) == modes(new LocalFileSystem))
  }
}
