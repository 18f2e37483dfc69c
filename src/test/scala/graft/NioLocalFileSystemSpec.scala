package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.streaming.NioLocalFileSystem
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free `file:` filesystem the streaming sink writes through
  * must be indistinguishable from the stock LocalFileSystem: same mode
  * bits, same rename semantics, same link statuses.
  */
class NioLocalFileSystemSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def init(fs: FileSystem): FileSystem = { fs.initialize(URI.create("file:///"), conf); fs }
  private def stock: FileSystem = init(new LocalFileSystem())
  private def nio: FileSystem = init(new NioLocalFileSystem())

  /** Runs `ops` on each filesystem in its own fresh directory. */
  private def onBoth[A](ops: (FileSystem, Path) => A): (A, A) = {
    def run(fs: FileSystem) = {
      val dir = Files.createTempDirectory("graft_nio_fs_")
      try ops(fs, new Path(dir.toUri)) finally fs.close()
    }
    (run(stock), run(nio))
  }

  /** Every entry below `root` (relative path → mode bits, or contents
    * for regular files), checksum sidecars included.
    */
  private def tree(root: Path, withContents: Boolean = false): Map[String, String] = {
    val r = new File(root.toUri).toPath
    Files.walk(r).iterator().asScala.filter(_ != r).map { p =>
      val perms = java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      val body = if (withContents && Files.isRegularFile(p)) new String(Files.readAllBytes(p)) else ""
      r.relativize(p).toString -> s"$perms $body"
    }.toMap
  }

  private def write(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true); out.write(s.getBytes); out.close()
  }

  private def fields(s: FileStatus) = (s.getPath, s.getLen, s.isDirectory, s.isSymlink,
    s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)

  test("created files and directories get the stock mode bits") {
    val (a, b) = onBoth { (fs, d) =>
      fs.mkdirs(new Path(d, "plain/nested"))
      fs.mkdirs(new Path(d, "private"), new FsPermission("700"))
      write(fs, new Path(d, "plain/nested/f"), "x")
      fs.create(new Path(d, "g"), new FsPermission("640"), true, 4096, 1.toShort,
        fs.getDefaultBlockSize(d), null).close()
      write(fs, new Path(d, "h"), "y")
      fs.setPermission(new Path(d, "h"), new FsPermission("604"))
      fs.setPermission(new Path(d, "private"), new FsPermission("1750")) // sticky: stock path
      tree(d)
    }
    assert(a.size === 9 && a("private").startsWith("rwxr-x---"))
    assert(b === a)
  }

  test("rename onto an existing target behaves like the stock filesystem") {
    val (a, b) = onBoth { (fs, d) =>
      def p(s: String) = new Path(d, s)
      write(fs, p("src1"), "one"); write(fs, p("dst1"), "old")
      write(fs, p("src2"), "two"); fs.mkdirs(p("dstDir"))
      fs.mkdirs(p("srcDir/inner")); write(fs, p("srcDir/inner/f"), "three")
      fs.mkdirs(p("emptyDir")); fs.mkdirs(p("fullDir")); write(fs, p("fullDir/keep"), "four")
      fs.mkdirs(p("srcDir2")); write(fs, p("srcDir2/g"), "five")
      val results = Seq(
        "file onto file" -> Try(fs.rename(p("src1"), p("dst1"))),
        "file onto dir" -> Try(fs.rename(p("src2"), p("dstDir"))),
        "dir onto empty dir" -> Try(fs.rename(p("srcDir"), p("emptyDir"))),
        "dir onto full dir" -> Try(fs.rename(p("srcDir2"), p("fullDir"))))
        .map { case (k, t) => k -> t.map(_.toString).recover { case e => e.getClass.getName }.get }
      (results, tree(d, withContents = true))
    }
    assert(a._2("dst1").endsWith(" one"))
    assert(b === a)
  }

  test("getFileLinkStatus on a regular file or directory equals getFileStatus") {
    val fs = nio
    val d = new Path(Files.createTempDirectory("graft_nio_fs_").toUri)
    val f = new Path(d, "f")
    write(fs, f, "data")
    for (p <- Seq(f, d)) {
      assert(!fs.getFileLinkStatus(p).isSymlink)
      assert(fields(fs.getFileLinkStatus(p)) === fields(fs.getFileStatus(p)))
      assert(fields(fs.getFileLinkStatus(p)) === fields(stock.getFileLinkStatus(p)))
    }
    intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(d, "missing")))
    intercept[FileNotFoundException](stock.getFileLinkStatus(new Path(d, "missing")))
  }

  test("a real symlink is still reported as a link") {
    val d = Files.createTempDirectory("graft_nio_fs_")
    val target: JPath = Files.write(d.resolve("target"), "t".getBytes)
    val link = Files.createSymbolicLink(d.resolve("link"), target)
    // unqualified: without libhadoop the stock lookup shells out to
    // `readlink` on the path's string form, which must not carry `file:`
    val p = new Path(link.toString)
    val got = nio.getFileLinkStatus(p)
    val want = stock.getFileLinkStatus(p)
    assert(got.isSymlink && want.isSymlink)
    assert(got.getSymlink === want.getSymlink)
    assert(fields(got) === fields(want))
  }

  test("the write options bind file: paths to the fork-free filesystem, uncached") {
    val bound = new Configuration()
    NioLocalFileSystem.writeOptions.foreach { case (k, v) => bound.set(k, v) }
    val uri = URI.create("file:///")
    assert(FileSystem.get(uri, bound).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.get(uri, bound) ne FileSystem.get(uri, bound))
    assert(!FileSystem.get(uri, new Configuration()).isInstanceOf[NioLocalFileSystem])
  }
}
