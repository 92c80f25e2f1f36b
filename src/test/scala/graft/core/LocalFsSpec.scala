package graft.core

import java.net.URI
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** [[LocalFs]] against Hadoop's stock `LocalFileSystem`: the same calls
  * under the same umask must leave the same paths, `.crc` siblings
  * included, with the same mode bits.
  */
class LocalFsSpec extends SparkSpec {

  private def open(fs: FileSystem, umask: Option[String]): FileSystem = {
    val conf = new Configuration()
    umask.foreach(conf.set("fs.permissions.umask-mode", _))
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** Relative path -> full mode bits (setuid/setgid/sticky included). */
  private def modes(root: NioPath): Map[String, Int] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.map { p =>
      root.relativize(p).toString -> (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
    }.toMap
    finally walk.close()
  }

  private def write(fs: FileSystem, p: Path): Unit = {
    val out = fs.create(p)
    try out.write(Array[Byte](1, 2, 3))
    finally out.close()
  }

  /** Runs `ops` through the stock and the in-process file system, each
    * under its own root, and returns both trees' modes.
    */
  private def both(umask: Option[String], prepare: NioPath => Unit = _ => ())(
      ops: (FileSystem, Path) => Unit): (Map[String, Int], Map[String, Int]) =
    withTempDir { dir =>
      Seq(new LocalFileSystem() -> "stock", new LocalFs -> "fast").map { case (fs, name) =>
        val root = new java.io.File(dir, name).toPath
        Files.createDirectory(root)
        prepare(root)
        val hfs = open(fs, umask)
        try ops(hfs, new Path(root.toUri))
        finally hfs.close()
        modes(root)
      } match { case Seq(stock, fast) => (stock, fast) }
    }

  private val creates: (FileSystem, Path) => Unit = { (fs, root) =>
    assert(fs.mkdirs(new Path(root, "a/b/c")))
    write(fs, new Path(root, "a/b/c/f1"))
    write(fs, new Path(root, "x/y/f2")) // parents made by the create
    assert(fs.mkdirs(new Path(root, "m"), new FsPermission("750")))
    fs.create(new Path(root, "m/f3"), new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null).close()
    fs.setPermission(new Path(root, "a/b/c/f1"), new FsPermission("600"))
  }

  Seq(None -> "the default umask", Some("077") -> "umask 077").foreach { case (umask, label) =>
    test(s"LocalFs leaves the stock LocalFileSystem's modes on every path, .crc included, under $label") {
      val (stock, fast) = both(umask)(creates)
      assert(stock.keySet.contains("a/b/c/.f1.crc") && stock.keySet.contains("m/.f3.crc"), stock)
      assert(fast === stock)
      // the umask really reached both: group/other bits are all clear under 077
      assert(umask.isEmpty || (stock - "").values.forall(m => (m & 0x3f) == 0), stock)
    }
  }

  // the in-process chmod takes the sticky bit as given, as the forked
  // `chmod 1777` does
  test("an explicit 01777 mode leaves the stock file system's mode, sticky bit included") {
    val (stock, fast) = both(None) { (fs, root) =>
      val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
      // mkdirs applies the umask, which drops the sticky bit; setPermission
      // applies the mode as given
      assert(fs.mkdirs(new Path(root, "t"), sticky))
      write(fs, new Path(root, "t/f"))
      fs.setPermission(new Path(root, "t"), sticky)
      fs.setPermission(new Path(root, "t/f"), sticky)
    }
    assert(fast === stock)
    assert(Seq("t", "t/f", "t/.f.crc").forall(p => fast(p) == Integer.parseInt("1777", 8)), fast)
  }

  test("directories under a setgid parent keep the setgid bit, as the forked chmod keeps it") {
    val setgid = (root: NioPath) => {
      Files.setAttribute(root, "unix:mode", Int.box(Integer.parseInt("2755", 8))): Unit
    }
    val (stock, fast) = both(None, setgid) { (fs, root) =>
      assert(fs.mkdirs(new Path(root, "a/b")))
      write(fs, new Path(root, "a/b/f"))
    }
    assert(fast === stock)
    assert((stock("a/b") & 0x400) != 0, stock)
  }
}
