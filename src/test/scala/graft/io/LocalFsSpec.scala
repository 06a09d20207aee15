package graft.io

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, LinkOption}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{ChecksumFs, CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec
import graft.streaming.TempDirs

/** The fork-free local filesystem is wired into every graft session and
  * behaves like Hadoop's stock local filesystem: same mode bits on
  * files, `.crc` sidecars and directories, same link statuses.
  */
class LocalFsSpec extends SparkSpec {
  private val root = URI.create("file:///")

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def fileSystem(fs: FileSystem): FileSystem = {
    fs.initialize(root, spark.sessionState.newHadoopConf())
    fs
  }

  private def fileContext(abstractFsImpl: String): FileContext = {
    val conf = spark.sessionState.newHadoopConf()
    conf.set("fs.AbstractFileSystem.file.impl", abstractFsImpl)
    FileContext.getFileContext(root, conf)
  }

  private def scratch(tag: String): File = {
    val d = TempDirs.scratch(s"graft_localfs_${tag}_${System.nanoTime()}")
    assert(d.mkdirs())
    d
  }

  /** Every entry under `dir` (relative path) → its full unix mode, sticky bit included. */
  private def modes(dir: File): Map[String, Int] = {
    val base = dir.toPath
    Files.walk(base).iterator().asScala.filter(_ != base).map { p =>
      base.relativize(p).toString ->
        (Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff)
    }.toMap
  }

  test("a graft session resolves file:/// to the fork-free classes through both Hadoop APIs") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(root, conf)
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem], fs.getClass.getName)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    val afs = FileContext.getFileContext(root, conf).getDefaultFileSystem
    assert(afs.isInstanceOf[ForkFreeLocalFs], afs.getClass.getName)
    assert(afs.asInstanceOf[ChecksumFs].getRawFs.isInstanceOf[ForkFreeRawLocalFs])
  }

  test("files, .crc sidecars and directories get the stock mode bits") {
    def populate(fs: FileSystem, fc: FileContext, dir: File): Unit = {
      val d = new Path(dir.getAbsolutePath)
      fs.create(new Path(d, "umask/plain"), true).close()
      fs.create(new Path(d, "explicit/f640"), perm("640"), true, 4096, 1.toShort, 1L << 20, null).close()
      assert(fs.mkdirs(new Path(d, "d750"), perm("750")))
      // mkdirs applies the umask, which drops the sticky bit; set it explicitly
      assert(fs.mkdirs(new Path(d, "sticky")))
      fs.setPermission(new Path(d, "sticky"), perm("1777"))
      val dst = new Path(d, "ctx/offsets/0")
      for (name <- Seq("0.first", ".0.tmp")) {
        val out = fc.create(new Path(d, s"ctx/offsets/$name"),
          EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE), Options.CreateOpts.createParent())
        out.write(name.getBytes("UTF-8"))
        out.close()
      }
      fc.rename(new Path(d, "ctx/offsets/0.first"), dst)
      fc.rename(new Path(d, "ctx/offsets/.0.tmp"), dst, Options.Rename.OVERWRITE)
    }
    val stockDir = scratch("stock")
    val graftDir = scratch("graft")
    populate(fileSystem(new LocalFileSystem), fileContext("org.apache.hadoop.fs.local.LocalFs"), stockDir)
    populate(fileSystem(new ForkFreeLocalFileSystem), fileContext(classOf[ForkFreeLocalFs].getName), graftDir)

    val stock = modes(stockDir)
    val graft = modes(graftDir)
    assert(graft == stock)
    for (crc <- Seq("umask/.plain.crc", "explicit/.f640.crc", "ctx/offsets/.0.crc"))
      assert(graft.contains(crc), s"missing checksum sidecar $crc in ${graft.keys}")
    assert(graft("explicit/f640") == Integer.parseInt("640", 8))
    assert(graft("d750") == Integer.parseInt("750", 8))
    assert(graft("sticky") == Integer.parseInt("1777", 8))
    assert(new String(Files.readAllBytes(new File(graftDir, "ctx/offsets/0").toPath), "UTF-8") == ".0.tmp")
  }

  test("getFileLinkStatus matches the stock class for files, symlinks, dangling symlinks and missing paths") {
    val dir = scratch("links")
    val file = new File(dir, "file")
    Files.write(file.toPath, "x".getBytes("UTF-8"))
    val link = Files.createSymbolicLink(new File(dir, "link").toPath, file.toPath).toFile
    val dangling = Files.createSymbolicLink(new File(dir, "dangling").toPath,
      new File(dir, "nowhere").toPath).toFile
    val stock = fileSystem(new LocalFileSystem)
    val graft = fileSystem(new ForkFreeLocalFileSystem)
    def status(fs: FileSystem, f: File) = {
      val s = fs.getFileLinkStatus(new Path(f.getAbsolutePath))
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) Some(s.getSymlink) else None, s.getLen)
    }
    for (f <- Seq(file, link, dangling, dir))
      assert(status(graft, f) == status(stock, f), f.getName)
    assert(status(graft, link)._4 && status(graft, dangling)._4)
    assert(!status(graft, file)._4)
    val missing = new File(dir, "missing")
    intercept[FileNotFoundException](status(stock, missing))
    intercept[FileNotFoundException](status(graft, missing))
  }
}
