package graft

import java.net.URI
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The engine's `file://` filesystem sets the bits the stock forked
  * `chmod` sets, falls back to it for the sticky bit, keeps `.crc`
  * checksums, and is what the session resolves `file://` to. */
class GraftLocalFileSystemSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private def mode(p: Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  private def initialized(fs: LocalFileSystem): LocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  test("file:// on the session's Hadoop conf is the engine class") {
    val fs = FileSystem.get(URI.create("file:///"), s.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[GraftLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[GraftLocalFileSystem.Raw])
  }

  test("create, mkdirs and setPermission give the stock bits") {
    val stock = initialized(new LocalFileSystem())
    val engine = initialized(new GraftLocalFileSystem())
    val root = Files.createTempDirectory("graft_fs_bits_")
    for (octal <- Seq("644", "600", "755", "751", "700")) {
      val perm = new FsPermission(octal)
      val modes = Seq("stock" -> stock, "engine" -> engine).map { case (tag, fs) =>
        val dir = new HPath(root.resolve(s"${tag}_$octal").toUri)
        assert(fs.mkdirs(dir, perm))
        val file = new HPath(dir, "f")
        fs.create(file, perm, true, 4096, 1.toShort, 1L << 20, null).close()
        val chmodded = new HPath(dir, "g")
        fs.create(chmodded).close()
        fs.setPermission(chmodded, perm)
        Seq(dir, file, chmodded).map(p => mode(Path.of(p.toUri)))
      }
      assert(modes.head == modes(1), s"mode $octal: stock vs engine (dir, create, setPermission)")
    }
  }

  test("the sticky bit falls back to the stock path") {
    val engine = initialized(new GraftLocalFileSystem())
    val dir = Files.createTempDirectory("graft_fs_sticky_")
    engine.setPermission(new HPath(dir.toUri), new FsPermission("1777"))
    assert(mode(dir) == Integer.parseInt("1777", 8)) // NIO cannot set the sticky bit
  }

  test("a Spark write gets 0644 files, 0755 dirs and a .crc beside each data file") {
    import s.implicits._
    val out = Files.createTempDirectory("graft_fs_write_").resolve("t")
    Seq(("a", 1), ("b", 2)).toDF("k", "v").write.partitionBy("k").csv(out.toString)
    val all = Files.walk(out).iterator().asScala.toList
    val (dirs, files) = all.partition(Files.isDirectory(_))
    assert(dirs.size == 3) // t, k=a, k=b
    assert(dirs.forall(mode(_) == Integer.parseInt("755", 8)))
    assert(files.forall(mode(_) == Integer.parseInt("644", 8)))
    val data = files.filter(_.getFileName.toString.endsWith(".csv"))
    assert(data.size == 2)
    data.foreach(f => assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), f))
  }
}
