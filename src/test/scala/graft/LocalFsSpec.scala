package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem,
  Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import graft.io.{NioLocalFileSystem, NioLocalFs}
import graft.jobs.Jobs

/** The engine's `file:` implementations (graft.io.LocalFs.scala) behave
  * as stock Hadoop's local file system does, minus the process
  * launches: same permission bits, same rename and symlink answers,
  * and every session built from `Jobs.localFsConf` resolves to them.
  */
class LocalFsSpec extends SparkSpec {
  private val root = URI.create("file:///")

  /** A Hadoop conf from the engine's settings, or stock when `nio` is off. */
  private def conf(umask: String, nio: Boolean = true): Configuration = {
    val c = new Configuration()
    if (nio) Jobs.localFsConf.foreach { case (k, v) =>
      c.set(k.stripPrefix("spark.hadoop."), v)
    }
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def stockFs(c: Configuration): FileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(root, c)
    fs
  }

  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)

  private def perms(p: Path): String =
    PosixFilePermissions.toString(
      Files.getPosixFilePermissions(Paths.get(p.toUri)))

  test("created files and dirs get stock LocalFileSystem's permission bits") {
    for ((umask, file, dir) <- Seq(("022", "rw-r--r--", "rwxr-xr-x"),
                                   ("077", "rw-------", "rwx------"))) {
      val nio = FileSystem.newInstance(root, conf(umask))
      assert(nio.getClass == classOf[NioLocalFileSystem])
      val got = Seq(nio, stockFs(conf(umask, nio = false))).map { fs =>
        val base = new Path(Files.createTempDirectory("graft_fs").toUri)
        fs.create(new Path(base, "f")).close()
        fs.mkdirs(new Path(base, "d/e"))
        val explicit = new Path(base, "g")
        fs.create(explicit).close()
        fs.setPermission(explicit, octal("604"))
        Seq("f", ".f.crc", "d", "d/e", "g").map(n => perms(new Path(base, n)))
      }
      assert(got(0) == got(1), s"umask $umask")
      assert(got(0).take(4) == Seq(file, file, dir, dir), s"umask $umask")
      assert(got(0)(4) == "rw----r--")
      nio.close()
    }
  }

  test("a sticky bit still reaches the file through the stock path") {
    val fs = FileSystem.newInstance(root, conf("022"))
    val d = Files.createTempDirectory("graft_fs")
    fs.setPermission(new Path(d.toUri), octal("1755"))
    assert((Files.getAttribute(d, "unix:mode").asInstanceOf[Int] & 0xfff) ==
      Integer.parseInt("1755", 8))
    fs.close()
  }

  test("FileContext rename with OVERWRITE replaces the target and its checksum") {
    val fc = FileContext.getFileContext(root, conf("022"))
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val base = new Path(Files.createTempDirectory("graft_fc").toUri)
    def write(p: Path, s: String): Unit = {
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(s.getBytes(UTF_8)) finally out.close()
    }
    val (src, dst) = (new Path(base, "src"), new Path(base, "dst"))
    write(src, "new contents")
    write(dst, "old")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!fc.util.exists(src) && !fc.util.exists(new Path(base, ".src.crc")))
    val in = fc.open(dst) // reads through the checksum, so a stale .crc fails
    try assert(new String(in.readAllBytes(), UTF_8) == "new contents")
    finally in.close()
  }

  test("symlinks keep their link status; plain files answer as getFileStatus") {
    val base = Files.createTempDirectory("graft_ln")
    val target = Files.write(base.resolve("target"), "x".getBytes(UTF_8))
    val link = Files.createSymbolicLink(base.resolve("link"), target)
    val (linkP, fileP) = (new Path(link.toString), new Path(target.toString))
    val nio = FileSystem.newInstance(root, conf("022"))
    val stock = stockFs(conf("022", nio = false))
    def view(s: org.apache.hadoop.fs.FileStatus) =
      (s.getPath, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
        s.isFile, s.getLen)
    for (p <- Seq(linkP, fileP, new Path(link.toUri), new Path(target.toUri)))
      assert(view(nio.getFileLinkStatus(p)) == view(stock.getFileLinkStatus(p)), p)
    val st = nio.getFileLinkStatus(linkP)
    assert(st.isSymlink && st.getSymlink.toUri.getPath == target.toString)
    assert(!nio.getFileLinkStatus(fileP).isSymlink)

    val fcNio = FileContext.getFileContext(root, conf("022"))
    val fcStock = FileContext.getFileContext(root, conf("022", nio = false))
    assert(fcStock.getDefaultFileSystem.isInstanceOf[LocalFs])
    for (p <- Seq(linkP, fileP))
      assert(view(fcNio.getFileLinkStatus(p)) == view(fcStock.getFileLinkStatus(p)), p)
    nio.close()
  }

  test("sessions from Jobs.localFsConf resolve file:/// to the engine's classes") {
    // Hadoop caches the first file: FileSystem per JVM (the session's,
    // forced first here), and the getLocal cast to LocalFileSystem must
    // still hold for it
    val hc = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(root, hc).getClass == classOf[NioLocalFileSystem])
    val c = conf("022")
    assert(FileSystem.getLocal(c).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.newInstanceLocal(c).isInstanceOf[NioLocalFileSystem])
    assert(new Path("/tmp").getFileSystem(hc).getClass == classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(root, hc).getDefaultFileSystem
      .isInstanceOf[NioLocalFs])
  }
}
