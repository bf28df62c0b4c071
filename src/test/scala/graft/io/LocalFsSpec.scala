package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem,
  Options, Path}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.NativeCodeLoader
import org.scalatest.funsuite.AnyFunSuite

/** Parity of the fork-free `file:` filesystem with stock Hadoop
  * (`LocalFileSystem` / `LocalFs`): each case runs the same calls through
  * both on sibling temp dirs and compares the resulting trees (names and
  * full mode bits) or statuses. Neither side goes through Hadoop's
  * `FileSystem` cache, so this suite binds nothing for later suites. */
class LocalFsSpec extends AnyFunSuite {
  import LocalFsSpec._

  private val conf = new Configuration()
  private val root = URI.create("file:///")

  /** Stock `LocalFileSystem`, then the fork-free one. */
  private def fileSystems: Seq[FileSystem] = Seq(new LocalFileSystem, new ForkFreeLocalFileSystem)
    .map { fs => fs.initialize(root, conf); fs }
  /** Plus the classpath's own `file:` default (Hive's `ProxyLocalFileSystem`
    * when the Hive jars are present), which an unbound session gets. */
  private def fileSystemsAndDefault: Seq[FileSystem] = FileSystem.newInstance(root, conf) +: fileSystems
  private def fileContexts: Seq[FileContext] = {
    val bound = new Configuration(conf)
    bound.set("fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
    Seq(conf, bound).map(FileContext.getLocalFSFileContext)
  }

  /** Relative path → octal mode (sticky bit included) of every entry under `dir`. */
  private def tree(dir: JPath): Map[String, String] =
    Files.walk(dir).iterator.asScala.filter(_ != dir).map { p =>
      val mode = Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int]
      dir.relativize(p).toString -> Integer.toOctalString(mode & 0xfff)
    }.toMap

  /** Runs `body` once per side on its own temp dir; every side's tree must
    * equal the first (stock) side's. */
  private def parity[A](sides: Seq[A])(body: (A, Path) => Unit): Map[String, String] = {
    val trees = sides.map { side =>
      val dir = Files.createTempDirectory("graft_localfs")
      body(side, new Path(dir.toUri))
      tree(dir)
    }
    assert(trees.head.nonEmpty)
    trees.zip(sides).tail.foreach { case (t, side) =>
      assert(t == trees.head, s"${side.getClass.getName}'s tree differs from stock Hadoop's")
    }
    trees.head
  }

  private def summary(s: FileStatus) =
    (s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getModificationTime)

  test("FileSystem create/mkdirs leave the same modes as stock (umask, 0600, 0755)") {
    val got = parity(fileSystemsAndDefault) { (fs, dir) =>
      fs.create(new Path(dir, "default.bin")).close()
      fs.create(new Path(dir, "p600.bin"), new FsPermission("600"), true, 4096,
        1.toShort, 1L << 25, null).close()
      fs.mkdirs(new Path(dir, "d_default/nested"))
      fs.mkdirs(new Path(dir, "d755/nested"), new FsPermission("755"))
      fs.setPermission(new Path(dir, "d_default"), new FsPermission("700"))
    }
    assert(got("p600.bin") == "600" && got("default.bin") == "644" && got.contains(".p600.bin.crc"))
    assert(got("d_default") == "700" && got("d755/nested") == "755")
  }

  test("FileContext create/mkdir leave the same modes as stock (umask, 0600, 0755)") {
    assert(fileContexts.map(_.getDefaultFileSystem.getClass) == Seq(classOf[LocalFs], classOf[ForkFreeLocalFs]))
    val got = parity(fileContexts) { (fc, dir) =>
      fc.create(new Path(dir, "default.bin"), EnumSet.of(CreateFlag.CREATE)).close()
      fc.create(new Path(dir, "p600.bin"), EnumSet.of(CreateFlag.CREATE),
        CreateOpts.perms(new FsPermission("600"))).close()
      fc.mkdir(new Path(dir, "d_default/nested"), FsPermission.getDirDefault, true)
      fc.mkdir(new Path(dir, "d755"), new FsPermission("755"), false)
    }
    assert(got("p600.bin") == "600" && got("d755") == "755" && got("d_default/nested") == "755")
  }

  test("a sticky-bit mode takes Hadoop's own path and lands identically") {
    val got = parity(fileSystemsAndDefault) { (fs, dir) =>
      val d = new Path(dir, "shared")
      fs.mkdirs(d)
      fs.setPermission(d, new FsPermission("1777"))
    }
    assert(got("shared") == "1777")
  }

  test("getFileLinkStatus matches stock on a file, a directory and a missing path") {
    val dir = Files.createTempDirectory("graft_linkstatus")
    Files.write(dir.resolve("f.txt"), "abc".getBytes(UTF_8))
    Files.createDirectory(dir.resolve("sub"))
    val paths = Seq("f.txt", "sub").map(n => new Path(dir.resolve(n).toUri))
    val missing = new Path(dir.resolve("missing").toUri)
    val fss = fileSystemsAndDefault
    val raws = fileSystems.map(_.asInstanceOf[LocalFileSystem].getRaw)
    for ((stock, forkFree) <- Seq(fss(0) -> fss(2), fss(1) -> fss(2), raws(0) -> raws(1))) {
      paths.foreach { p =>
        assert(summary(forkFree.getFileLinkStatus(p)) == summary(stock.getFileLinkStatus(p)))
      }
      intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
      intercept[FileNotFoundException](forkFree.getFileLinkStatus(missing))
    }
    val fcs = fileContexts
    paths.foreach { p =>
      assert(summary(fcs(1).getFileLinkStatus(p)) == summary(fcs(0).getFileLinkStatus(p)))
    }
    intercept[FileNotFoundException](fcs(0).getFileLinkStatus(missing))
    intercept[FileNotFoundException](fcs(1).getFileLinkStatus(missing))
    assert(spawns(paths.foreach(fcs(1).getFileLinkStatus)).isEmpty)
  }

  test("a real symlink resolves as stock does, qualified or scheme-less") {
    val dir = Files.createTempDirectory("graft_symlink")
    Files.write(dir.resolve("target.txt"), "abcdef".getBytes(UTF_8))
    val link = Files.createSymbolicLink(dir.resolve("link"), dir.resolve("target.txt"))
    val Seq(stock, forkFree) = fileSystems.map(_.asInstanceOf[LocalFileSystem].getRaw)
    for (p <- Seq(new Path(link.toUri), new Path(link.toString))) {
      val (s, f) = (stock.getFileLinkStatus(p), forkFree.getFileLinkStatus(p))
      assert(summary(f) == summary(s))
      assert(f.isSymlink == s.isSymlink && (!s.isSymlink || f.getSymlink == s.getSymlink))
    }
  }

  test("FileContext rename(OVERWRITE) onto an existing file moves the .crc too") {
    val got = parity(fileContexts) { (fc, dir) =>
      def write(name: String, text: String): Unit = {
        val out = fc.create(new Path(dir, name), EnumSet.of(CreateFlag.CREATE))
        try out.write(text.getBytes(UTF_8)) finally out.close()
      }
      write("src", "new contents")
      write("dst", "old")
      fc.rename(new Path(dir, "src"), new Path(dir, "dst"), Options.Rename.OVERWRITE)
      // a checksummed read: a stale .crc would raise ChecksumException
      val in = fc.open(new Path(dir, "dst"))
      try assert(new String(in.readAllBytes(), UTF_8) == "new contents") finally in.close()
    }
    assert(got.keySet == Set("dst", ".dst.crc"))
  }

  test("create and mkdirs spawn no process; stock Hadoop does") {
    val dir = new Path(Files.createTempDirectory("graft_spawns").toUri)
    val Seq(stock, forkFree) = fileSystems
    def work(fs: FileSystem, tag: String): Unit = {
      fs.create(new Path(dir, s"$tag.bin")).close()
      fs.mkdirs(new Path(dir, s"$tag/d"), new FsPermission("750"))
    }
    val forked = spawns(work(forkFree, "ff"))
    assert(forked.isEmpty, forked.mkString("\n"))
    // without the native library stock Hadoop forks chmod: proof the count sees spawns
    if (!NativeCodeLoader.isNativeCodeLoaded) assert(spawns(work(stock, "stock")).nonEmpty)
  }
}

object LocalFsSpec {
  /** Spark's own background spawns, off any query's path: the JDK Cleaner
    * runs `rm -rf` for each garbage-collected session's artifact dir, and the
    * executor-metrics poll runs `getconf PAGESIZE` once per JVM. */
  private val background = Seq("org.apache.spark.sql.artifact.ArtifactManager",
    "org.apache.spark.executor.ProcfsMetricsGetter")

  /** Process spawns (`jdk.ProcessStart`, JVM-wide) while `body` runs, minus
    * [[background]], each as "command [thread] <- top frames". */
  def spawns(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val file = Files.createTempFile("graft_spawns", ".jfr")
    try {
      val t0 = java.time.Instant.now()
      rec.start()
      try body finally rec.stop()
      rec.dump(file)
      jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(e => e.getEventType.getName == "jdk.ProcessStart" && !e.getStartTime.isBefore(t0))
        .map { e =>
          val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
            .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
          (e.getString("command"), Option(e.getThread).map(_.getJavaName).orNull, frames)
        }
        .filterNot { case (_, _, frames) => frames.exists(f => background.exists(f.startsWith)) }
        .map { case (cmd, thread, frames) =>
          s"$cmd [$thread] <- ${frames.filterNot(_.startsWith("java.")).take(6).mkString(" <- ")}" }
    } finally { rec.close(); Files.deleteIfExists(file) }
  }
}
