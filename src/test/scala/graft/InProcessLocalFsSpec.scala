package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.graft.{InProcessLocalFileSystem, InProcessLocalFs}

/** The in-process local file system against Hadoop's stock one, on a temp
  * dir: the same permission bits, link statuses and checksummed renames,
  * and no `chmod`/`readlink` child process. Every instance is built
  * directly, never through Hadoop's JVM-wide `FileSystem` cache, so what
  * earlier suites cached cannot decide which class runs. */
class InProcessLocalFsSpec extends SparkSpec {

  private val Root = URI.create("file:///")

  private def conf(umask: String): Configuration = {
    val c = new Configuration(false)
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def fileSystem(inProcess: Boolean, c: Configuration): FileSystem = {
    val fs = if (inProcess) new InProcessLocalFileSystem else new LocalFileSystem
    fs.initialize(Root, c)
    fs
  }

  private def fileContext(inProcess: Boolean, c: Configuration): FileContext = {
    val cc = new Configuration(c)
    cc.set("fs.AbstractFileSystem.file.impl",
      (if (inProcess) classOf[InProcessLocalFs] else classOf[LocalFs]).getName)
    val afs = AbstractFileSystem.createFileSystem(Root, cc)
    assert(afs.getClass.getName == cc.get("fs.AbstractFileSystem.file.impl"))
    FileContext.getFileContext(afs, cc)
  }

  private def tempDir(tag: String): java.nio.file.Path =
    Files.createTempDirectory(s"graft_localfs_$tag")

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  /** A path's permission bits with the sticky bit (`unix:mode` without the
    * file type). */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & oct("7777")

  /** Names and modes of every entry under `dir`, relative to it. */
  private def tree(dir: java.nio.file.Path): Map[String, Int] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(_ != dir)
      .map(p => dir.relativize(p).toString -> mode(p)).toMap
    finally s.close()
  }

  /** `chmod`/`readlink` child processes this thread starts while `body`
    * runs, from a JFR recording of `jdk.ProcessStart`. */
  private def forks[T](body: => T): (T, Int) = {
    val r = new Recording()
    r.enable("jdk.ProcessStart")
    val me = Thread.currentThread.getId
    r.start()
    val out = try body finally r.stop()
    val file = Files.createTempFile("graft_localfs", ".jfr")
    try {
      r.dump(file)
      val n = RecordingFile.readAllEvents(file).asScala.count { e =>
        val cmd = e.getString("command").split(' ').head
        e.getThread != null && e.getThread.getJavaThreadId == me &&
          Seq("chmod", "readlink").contains(Paths.get(cmd).getFileName.toString)
      }
      (out, n)
    } finally {
      r.close()
      Files.deleteIfExists(file)
    }
  }

  /** Creates a file and nested dirs through the checksummed FileSystem. */
  private def createAndMkdirs(fs: FileSystem, dir: java.nio.file.Path): Unit = {
    val out = fs.create(new Path(dir.toUri.toString, "data.bin"))
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    assert(fs.mkdirs(new Path(dir.toUri.toString, "a/b")))
  }

  Seq("022", "077").foreach { umask =>
    test(s"create and mkdirs give the stock modes under umask $umask, without forks") {
      val stock = tempDir("stock")
      val mine = tempDir("mine")
      val (_, stockForks) = forks(createAndMkdirs(fileSystem(inProcess = false, conf(umask)), stock))
      val (_, myForks) = forks(createAndMkdirs(fileSystem(inProcess = true, conf(umask)), mine))
      val want = tree(stock)
      assert(want.keySet == Set("data.bin", ".data.bin.crc", "a", "a/b"))
      assert(tree(mine) == want)
      val fileMode = oct(if (umask == "022") "644" else "600")
      assert(want("data.bin") == fileMode && want(".data.bin.crc") == fileMode)
      assert(myForks == 0, s"in-process FS forked $myForks times")
      assert(stockForks > 0, "the counter saw no stock fork")
    }
  }

  test("setPermission with the sticky bit falls back to chmod and sets it") {
    val sticky = new FsPermission(oct("1755").toShort)
    val modes = Seq(false, true).map { inProcess =>
      val d = tempDir("sticky")
      val fs = fileSystem(inProcess, conf("022")).asInstanceOf[LocalFileSystem].getRaw
      val (_, n) = forks(fs.setPermission(new Path(d.toUri.toString), sticky))
      assert(n == 1, s"inProcess=$inProcess: $n forks")
      mode(d)
    }
    assert(modes == Seq(oct("1755"), oct("1755")))
    // without the sticky bit the in-process FS sets the same bits itself
    val d = tempDir("plain")
    val raw = fileSystem(inProcess = true, conf("022")).asInstanceOf[LocalFileSystem].getRaw
    val (_, n) = forks(raw.setPermission(new Path(d.toUri.toString), new FsPermission(oct("705").toShort)))
    assert(n == 0 && mode(d) == oct("705"))
  }

  test("getFileLinkStatus matches the stock status on a file, dir, symlink, " +
      "dangling symlink and missing path") {
    val d = tempDir("links")
    Files.write(d.resolve("f"), Array[Byte](1, 2, 3, 4))
    Files.createDirectory(d.resolve("dir"))
    Files.createSymbolicLink(d.resolve("link"), d.resolve("f"))
    Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    def view(fs: FileSystem, p: Path) =
      try {
        val s = fs.getFileLinkStatus(p)
        Right((s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getModificationTime,
          s.getPermission, s.getOwner, if (s.isSymlink) s.getSymlink else null))
      } catch { case e: FileNotFoundException => Left(e.getClass) }
    val stock = fileSystem(inProcess = false, conf("022"))
    val mine = fileSystem(inProcess = true, conf("022"))
    // stock Hadoop reads a link through `new File(path.toString)`, so only
    // a scheme-less path is ever seen as a symlink: check both forms
    for (name <- Seq("f", "dir", "link", "dangling", "missing");
         p <- Seq(new Path(d.resolve(name).toString), new Path(d.resolve(name).toUri.toString))) {
      val (got, myForks) = forks(view(mine, p))
      assert(got == view(stock, p), p)
      // a symlink takes the stock path, which runs readlink
      assert(myForks == (if (Files.isSymbolicLink(d.resolve(name))) 1 else 0), p)
    }
    Seq("link", "dangling").foreach { name =>
      assert(view(mine, new Path(d.resolve(name).toString)).exists(_._4), name)
    }
    assert(view(mine, new Path(d.resolve("missing").toString)) ==
      Left(classOf[FileNotFoundException]))
  }

  test("FileContext.rename with OVERWRITE moves the data file and its .crc, without forks") {
    def renameOver(inProcess: Boolean): (Map[String, Int], Seq[Byte], Int) = {
      val d = tempDir("rename")
      val fc = fileContext(inProcess, conf("022"))
      def write(name: String, bytes: Array[Byte]): Path = {
        val p = new Path(d.toUri.toString, name)
        val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        try out.write(bytes) finally out.close()
        p
      }
      val (_, n) = forks {
        val src = write("src", Array[Byte](7, 8, 9))
        val dst = write("dst", Array[Byte](1))
        fc.rename(src, dst, Options.Rename.OVERWRITE)
      }
      val in = fc.open(new Path(d.toUri.toString, "dst"))
      val back = try Iterator.continually(in.read()).takeWhile(_ >= 0).map(_.toByte).toSeq
        finally in.close()
      (tree(d), back, n)
    }
    val (stockTree, stockBytes, stockForks) = renameOver(inProcess = false)
    val (myTree, myBytes, myForks) = renameOver(inProcess = true)
    assert(stockTree.keySet == Set("dst", ".dst.crc"))
    assert(myTree == stockTree)
    assert(myBytes == Seq[Byte](7, 8, 9) && stockBytes == myBytes)
    assert(myForks == 0, s"in-process FileContext forked $myForks times")
    assert(stockForks > 0, "the counter saw no stock fork")
  }

  test("install sets both keys on a fresh conf and leaves a user's choice alone") {
    val fresh = new Configuration()
    InProcessLocalFs.install(fresh)
    assert(fresh.get("fs.file.impl") == classOf[InProcessLocalFileSystem].getName)
    assert(fresh.get("fs.AbstractFileSystem.file.impl") == classOf[InProcessLocalFs].getName)

    val user = new Configuration()
    user.set("fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    user.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.RawLocalFs")
    InProcessLocalFs.install(user)
    assert(user.get("fs.file.impl") == "org.apache.hadoop.fs.RawLocalFileSystem")
    assert(user.get("fs.AbstractFileSystem.file.impl") == "org.apache.hadoop.fs.local.RawLocalFs")
  }

  test("the shared session's Hadoop conf names the in-process classes") {
    Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf()).foreach { c =>
      assert(c.get("fs.file.impl") == classOf[InProcessLocalFileSystem].getName)
      assert(c.get("fs.AbstractFileSystem.file.impl") == classOf[InProcessLocalFs].getName)
    }
    // FileContext builds its file system per call: Spark's checkpoint
    // manager gets the in-process one
    val fc = FileContext.getFileContext(Root, spark.sessionState.newHadoopConf())
    assert(fc.getDefaultFileSystem.isInstanceOf[InProcessLocalFs])
  }
}
