package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import graft.fs.{NioLocalFileSystem, NioLocalFs}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileAlreadyExistsException, FileContext, FileSystem, FsConstants, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The java.nio local filesystem (`graft.fs`) against the stock Hadoop one:
  * the same mode bits, link statuses and FileContext rename outcomes, and
  * no process spawned where the stock class forks `chmod`/`readlink`.
  * Every filesystem here is an uncached instance: `FileSystem.CACHE` is
  * JVM-wide, and the forked test JVM shares it across suites. */
class LocalFsSpec extends AnyFunSuite {

  /** one side of the comparison: a FileSystem and a FileContext */
  private case class Side(name: String, fs: FileSystem, fc: FileContext)

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set(FsPermission.UMASK_LABEL, umask)
    c
  }

  private def stock(umask: String): Side = {
    val c = conf(umask)
    val fs = new LocalFileSystem()
    fs.initialize(new URI("file:///"), c)
    Side("stock", fs, FileContext.getFileContext(AbstractFileSystem.get(FsConstants.LOCAL_FS_URI, c), c))
  }

  private def nio(umask: String): Side = {
    val c = conf(umask)
    val fs = new NioLocalFileSystem()
    fs.initialize(new URI("file:///"), c)
    Side("nio", fs, FileContext.getFileContext(new NioLocalFs(FsConstants.LOCAL_FS_URI, c), c))
  }

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** permission, setuid/setgid and sticky bits of a path (not following a link) */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode", java.nio.file.LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int] & 0xfff

  /** relative path → mode of everything under `root`, .crc sidecars included */
  private def modes(root: String): Map[String, String] = {
    val r = Paths.get(root)
    val s = Files.walk(r)
    try s.iterator.asScala.filter(_ != r)
      .map(p => r.relativize(p).toString -> f"${mode(p)}%04o").toMap
    finally s.close()
  }

  private def write(side: Side, p: Path, bytes: String): Unit = {
    val out = side.fs.create(p)
    try out.write(bytes.getBytes("UTF-8")) finally out.close()
  }

  private def fcWrite(side: Side, p: Path, bytes: String): Unit = {
    val out = side.fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(bytes.getBytes("UTF-8")) finally out.close()
  }

  /** the operations every writer in the engine performs: mkdirs, creates
    * with and without a permission, setPermission, link-status reads of a
    * file and a directory, and FileContext renames with both options */
  private def common(side: Side, root: String): Unit = {
    val fs = side.fs
    fs.mkdirs(new Path(s"$root/a"))
    fs.mkdirs(new Path(s"$root/b/c"), new FsPermission("750"))
    write(side, new Path(s"$root/a/f"), "file f")
    fs.create(new Path(s"$root/a/g"), new FsPermission("640"),
      true, 4096, 1.toShort, 1L << 20, null).close()
    fs.setPermission(new Path(s"$root/a/f"), new FsPermission("600"))
    fs.setPermission(new Path(s"$root/b"), new FsPermission("700"))
    for (p <- Seq(s"$root/a/f", s"$root/a", s"file:$root/a/f", s"file:$root/a")) {
      fs.getFileLinkStatus(new Path(p))
      side.fc.getFileLinkStatus(new Path(p))
    }
    fcWrite(side, new Path(s"file:$root/log/1.tmp"), "one")
    fcWrite(side, new Path(s"file:$root/log/2.tmp"), "two")
    side.fc.rename(new Path(s"file:$root/log/1.tmp"), new Path(s"file:$root/log/1"), Options.Rename.NONE)
    side.fc.rename(new Path(s"file:$root/log/2.tmp"), new Path(s"file:$root/log/1"), Options.Rename.OVERWRITE)
  }

  /** the cases the nio class hands to the stock code: a sticky bit, a
    * directory carrying setgid, and real symlinks */
  private def deferred(side: Side, root: String): Unit = {
    val fs = side.fs
    fs.mkdirs(new Path(s"$root/sticky"))
    fs.setPermission(new Path(s"$root/sticky"), new FsPermission("1777"))
    fs.mkdirs(new Path(s"$root/sticky/sub"))
    write(side, new Path(s"$root/sticky/f"), "in sticky")
    Files.createDirectory(Paths.get(s"$root/sgid"))
    assert(new ProcessBuilder("chmod", "2755", s"$root/sgid").start().waitFor() == 0)
    fs.mkdirs(new Path(s"$root/sgid/inherits"))
    fs.mkdirs(new Path(s"$root/sgid/set"))
    fs.setPermission(new Path(s"$root/sgid/set"), new FsPermission("750"))
    write(side, new Path(s"$root/sgid/f"), "in setgid")
  }

  test("mode bits agree with the stock filesystem under the same umask") {
    for (umask <- Seq("022", "027")) {
      val got = Seq(stock(umask), nio(umask)).map { side =>
        val root = tmp(s"graft_localfs_${side.name}")
        common(side, root)
        deferred(side, root)
        modes(root)
      }
      assert(got(0).size >= 15, got(0))
      assert(got(1) == got(0), s"umask $umask")
      // the stock outcome, spelled out for the setgid and sticky cases
      val expect = if (umask == "022") "2755" else "2750"
      assert(got(0)("sgid/inherits") == expect && got(0)("sgid/set") == "2750", got(0))
      assert(got(0)("sticky") == "1777", got(0))
    }
  }

  test("getFileLinkStatus agrees for a file, a directory, a symlink and a dangling symlink") {
    def view(side: Side, p: Path, fc: Boolean): Either[String, Seq[Any]] =
      try {
        val s = if (fc) side.fc.getFileLinkStatus(p) else side.fs.getFileLinkStatus(p)
        Right(Seq(s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getPermission,
          s.getModificationTime, s.getOwner, s.getGroup, s.getPath.toUri.getPath,
          if (s.isSymlink) s.getSymlink.toUri.getPath else ""))
      } catch { case e: java.io.IOException => Left(e.getClass.getName) }
    val root = tmp("graft_localfs_links")
    Files.write(Paths.get(s"$root/file"), "x".getBytes("UTF-8"))
    Files.createDirectory(Paths.get(s"$root/dir"))
    Files.createSymbolicLink(Paths.get(s"$root/link"), Paths.get(s"$root/file"))
    Files.createSymbolicLink(Paths.get(s"$root/dangling"), Paths.get(s"$root/gone"))
    val (s, n) = (stock("022"), nio("022"))
    for (name <- Seq("file", "dir", "link", "dangling", "missing");
         p <- Seq(new Path(s"$root/$name"), new Path(s"file:$root/$name"));
         fc <- Seq(false, true)) {
      val a = view(s, p, fc)
      assert(view(n, p, fc) == a, s"$p via ${if (fc) "FileContext" else "FileSystem"}")
      if (name == "missing") assert(a.isLeft)
    }
    assert(view(s, new Path(s"$root/link"), fc = false).exists(_(2) == true))
  }

  test("FileContext rename: NONE onto an existing target throws, OVERWRITE replaces") {
    def run(side: Side): (String, String, Map[String, String]) = {
      val root = tmp(s"graft_localfs_rename_${side.name}")
      fcWrite(side, new Path(s"file:$root/src"), "source")
      fcWrite(side, new Path(s"file:$root/dst"), "target")
      val none =
        try { side.fc.rename(new Path(s"file:$root/src"), new Path(s"file:$root/dst"), Options.Rename.NONE); "renamed" }
        catch { case e: java.io.IOException => e.getClass.getName }
      side.fc.rename(new Path(s"file:$root/src"), new Path(s"file:$root/dst"), Options.Rename.OVERWRITE)
      (none, new String(Files.readAllBytes(Paths.get(s"$root/dst")), "UTF-8"), modes(root))
    }
    val a = run(stock("022"))
    assert(a._1 == classOf[FileAlreadyExistsException].getName)
    assert(a._2 == "source")
    assert(a._3.keySet == Set("dst", ".dst.crc"), a._3)
    assert(run(nio("022")) == a)
  }

  test("the common operations spawn no process on the nio filesystem; the stock one forks") {
    def spawns(side: Side): Int = {
      val root = tmp(s"graft_localfs_spawn_${side.name}")
      val rec = new jdk.jfr.Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      try common(side, root) finally rec.stop()
      val out = Files.createTempFile("graft_localfs", ".jfr")
      try {
        rec.dump(out)
        val me = Thread.currentThread.getId
        jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala
          .count(e => e.getEventType.getName == "jdk.ProcessStart" &&
            e.getThread != null && e.getThread.getJavaThreadId == me)
      } finally { rec.close(); Files.deleteIfExists(out) }
    }
    // the stock count proves the counter is live
    assert(spawns(stock("022")) > 0)
    assert(spawns(nio("022")) == 0)
  }
}
