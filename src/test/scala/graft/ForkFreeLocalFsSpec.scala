package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

class ForkFreeLocalFsSpec extends SparkSpec {
  private val Local = new URI("file:///")
  private val Modes = Seq(Integer.parseInt("600", 8), Integer.parseInt("644", 8),
    Integer.parseInt("755", 8))

  private def conf = spark.sparkContext.hadoopConfiguration

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(Local, conf); fs
  }

  private def mode(p: java.nio.file.Path): String =
    java.nio.file.attribute.PosixFilePermissions.toString(
      Files.getPosixFilePermissions(p))

  /** Process starts on this thread while `body` runs. */
  private def processStarts(body: => Unit): Int = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    val dump = Files.createTempFile("forkfree", ".jfr")
    try {
      rec.start()
      body
      rec.stop()
      rec.dump(dump)
      val me = Thread.currentThread.getId
      RecordingFile.readAllEvents(dump).asScala.count(e =>
        e.getEventType.getName == "jdk.ProcessStart" &&
          e.getThread != null && e.getThread.getJavaThreadId == me)
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  test("the session's file: FileSystem and AbstractFileSystem are the fork-free classes") {
    assert(FileSystem.get(Local, conf).isInstanceOf[ForkFreeLocalFileSystem])
    assert(new Path("file:///tmp").getFileSystem(spark.sessionState.newHadoopConf())
      .isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    assert(AbstractFileSystem.get(Local, conf).isInstanceOf[ForkFreeLocalFs])
    assert(FileContext.getFileContext(Local, conf).getDefaultFileSystem
      .isInstanceOf[ForkFreeLocalFs])
  }

  test("create, mkdirs and setPermission leave the same mode bits as stock") {
    val dir = Files.createTempDirectory("forkfree-perm")
    val stock = raw(new RawLocalFileSystem)
    val ours = raw(new ForkFreeRawLocalFileSystem)
    for (m <- Modes; (name, fs) <- Seq("stock" -> stock, "ours" -> ours)) {
      val perm = new FsPermission(m.toShort)
      val base = dir.resolve(s"$name-${Integer.toOctalString(m)}")
      fs.create(new Path(s"$base.created"), perm, true, 4096, 1.toShort,
        1L << 20, null).close()
      assert(fs.mkdirs(new Path(s"$base.dir"), perm))
      fs.create(new Path(s"$base.set")).close()
      fs.setPermission(new Path(s"$base.set"), perm)
    }
    for (m <- Modes; kind <- Seq("created", "dir", "set")) {
      val o = Integer.toOctalString(m)
      assert(mode(dir.resolve(s"ours-$o.$kind")) == mode(dir.resolve(s"stock-$o.$kind")),
        s"$kind $o")
    }
    assert(mode(dir.resolve("ours-644.set")) == "rw-r--r--")
  }

  test("getFileLinkStatus matches stock on a symlink, a file and a missing path") {
    val dir = Files.createTempDirectory("forkfree-link")
    val file = Files.write(dir.resolve("file"), "abc".getBytes(UTF_8))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val stock = raw(new RawLocalFileSystem)
    val ours = raw(new ForkFreeRawLocalFileSystem)
    def view(s: FileStatus) = (s.getPath, s.isSymlink, s.isFile, s.isDirectory,
      s.getLen, s.getModificationTime, if (s.isSymlink) s.getSymlink else null)
    for (p <- Seq(link, file, dir); q <- Seq(p.toString, p.toUri.toString)) {
      val path = new Path(q)
      assert(view(ours.getFileLinkStatus(path)) == view(stock.getFileLinkStatus(path)), q)
    }
    assert(ours.getFileLinkStatus(new Path(link.toString)).isSymlink)
    val missing = new Path(dir.resolve("missing").toString)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
  }

  test("no process starts for create, mkdirs, setPermission, link status and FileContext rename") {
    val dir = Files.createTempDirectory("forkfree-jfr")
    val fs = FileSystem.get(Local, conf)
    val fc = FileContext.getFileContext(Local, conf)
    val src = new Path(dir.resolve("src").toUri)
    val dst = new Path(dir.resolve("dst").toUri)
    def write(p: Path, s: String): Unit = {
      val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(s.getBytes(UTF_8)) finally out.close()
    }
    val starts = processStarts {
      fs.mkdirs(new Path(dir.resolve("a/b").toUri), new FsPermission(Modes(2).toShort))
      fs.create(new Path(dir.resolve("a/b/f").toUri), true).close()
      fs.setPermission(new Path(dir.resolve("a/b/f").toUri), new FsPermission(Modes(0).toShort))
      fs.getFileLinkStatus(new Path(dir.resolve("a/b/f").toUri))
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(dir.resolve("none").toUri)))
      write(src, "new")
      write(dst, "old")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
    }
    assert(starts == 0)
    assert(new String(Files.readAllBytes(Paths.get(dst.toUri)), UTF_8) == "new")
    assert(!Files.exists(Paths.get(src.toUri)))
    // the checksum files are still written and follow the rename
    assert(Files.exists(dir.resolve(".dst.crc")) && Files.exists(dir.resolve("a/b/.f.crc")))
    assert(mode(dir.resolve("a/b/f")) == "rw-------")
    // the recording does see a fork: stock chmod without libhadoop
    if (!NativeIO.isAvailable()) {
      val stock = raw(new RawLocalFileSystem)
      assert(processStarts(stock.setPermission(new Path(dir.resolve("a/b/f").toString),
        new FsPermission(Modes(1).toShort))) >= 1)
    }
  }
}
