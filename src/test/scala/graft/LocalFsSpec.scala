package graft

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.PrivilegedExceptionAction

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext,
  FileStatus, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.security.UserGroupInformation
import org.apache.spark.SparkConf

import graft.engine.{Engine, LocalFs}

/** The engine's `file://` classes ([[LocalFs]]) against Hadoop's stock
  * `LocalFileSystem` and `local.LocalFs`: the same calls on two copies of
  * one temp tree must leave the same tree (names, `.crc` sidecars, mode
  * bits, sizes) and raise the same exceptions. */
class LocalFsSpec extends SparkSpec {

  private val FileUri = URI.create("file:///")

  /** One side of the comparison: a `FileSystem` and a `FileContext`
    * rooted at a directory of its own. */
  private case class Side(root: String, fs: FileSystem, fc: FileContext) {
    def p(rel: String): Path = new Path(s"$root/$rel")
  }

  private def side(engine: Boolean, umask: String): Side = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    if (engine) LocalFs.Confs.foreach { case (k, v) =>
      conf.set(k.stripPrefix("spark.hadoop."), v) }
    val fs =
      if (engine) new LocalFs.FileSystem
      else new org.apache.hadoop.fs.LocalFileSystem
    fs.initialize(FileUri, conf)
    val fc = FileContext.getFileContext(FileUri, conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[LocalFs.Fs] == engine)
    Side(Files.createTempDirectory("graft_localfs").toString, fs, fc)
  }

  /** Runs `ops` on a stock and an engine side; returns both observations. */
  private def both[A](umask: String = "022")(ops: Side => A): (A, A) = {
    val stock = side(engine = false, umask)
    val engine = side(engine = true, umask)
    (ops(stock), ops(engine))
  }

  /** Every entry under the side's root: relative name -> (kind, mode
    * bits including sticky, size of a file). */
  private def tree(s: Side): Map[String, (String, Int, Long)] = {
    val root = Paths.get(s.root)
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_ != root).map { f =>
      val mode = Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & 0xfff
      val kind = if (Files.isDirectory(f)) "dir" else "file"
      root.relativize(f).toString ->
        (kind, mode, if (kind == "file") Files.size(f) else 0L)
    }.toMap
    finally walk.close()
  }

  private def write(s: Side, rel: String, text: String): Unit = {
    val out = s.fs.create(s.p(rel), true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def writeFc(s: Side, rel: String, text: String): Unit = {
    val out = s.fc.create(s.p(rel),
      java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** The exception class or the status fields a caller can see, with the
    * side's root taken out of paths. */
  private def status(s: Side)(get: => FileStatus): String =
    Try(get).fold(e => e.getClass.getName, st =>
      Seq(st.isSymlink, st.isDirectory, st.getLen, st.getPath,
        if (st.isSymlink) st.getSymlink else "")
        .mkString("|").replace(s.root, "<root>"))

  for (umask <- Seq("022", "077")) {
    test(s"file and directory permission bits match Hadoop's (umask $umask)") {
      val (stock, engine) = both(umask) { s =>
        s.fs.mkdirs(s.p("a/b"))
        s.fs.mkdirs(s.p("c"), new FsPermission("750"))
        write(s, "a/f1", "one")
        FileSystem.create(s.fs, s.p("g"), new FsPermission("640")).close()
        s.fs.setPermission(s.p("a/f1"), new FsPermission("604"))
        s.fs.setPermission(s.p("c"), new FsPermission("1755")) // sticky
        s.fc.mkdir(s.p("fc/d"), FsPermission.getDirDefault, true)
        writeFc(s, "fc/f2", "two")
        s.fc.setPermission(s.p("fc/f2"), new FsPermission("660"))
        tree(s)
      }
      assert(engine == stock)
      assert(stock("a/.f1.crc")._1 == "file")
      assert(stock("c")._2 == Integer.parseInt("1755", 8))
    }
  }

  test("FileContext.rename with and without OVERWRITE moves the .crc too") {
    val (stock, engine) = both() { s =>
      writeFc(s, "r/src", "first")
      s.fc.rename(s.p("r/src"), s.p("r/dst"))
      writeFc(s, "r/src2", "second!")
      val refused = Try(s.fc.rename(s.p("r/src2"), s.p("r/dst")))
        .failed.map(_.getClass.getName).getOrElse("renamed")
      s.fc.rename(s.p("r/src2"), s.p("r/dst"), Options.Rename.OVERWRITE)
      val in = s.fc.open(s.p("r/dst"))
      val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      (refused, text, tree(s))
    }
    assert(engine == stock)
    val (refused, text, files) = engine
    assert(refused == classOf[org.apache.hadoop.fs.FileAlreadyExistsException]
      .getName)
    assert(text == "second!")
    assert(files.keySet == Set("r", "r/dst", "r/.dst.crc"))
  }

  test("a corrupted byte: the same ChecksumException, the same reads") {
    val (stock, engine) = both() { s =>
      writeFc(s, "ck/data", "x" * 2000)
      val raf = new RandomAccessFile(s"${s.root}/ck/data", "rw")
      try { raf.seek(700); raf.write('y') } finally raf.close()
      def read(open: => java.io.InputStream): String = {
        val in = open
        try Try(in.readAllBytes()).fold(_.getClass.getName, _ => "read")
        finally in.close()
      }
      (read(s.fs.open(s.p("ck/data"))), read(s.fc.open(s.p("ck/data"))))
    }
    assert(engine == stock)
    // Hadoop's FileContext side (ChecksumFs) reads the corrupted file
    // without complaint, with either class below it.
    assert(engine._1 == classOf[ChecksumException].getName)
  }

  test("getFileLinkStatus of a symlink and of a dangling symlink") {
    val (stock, engine) = both() { s =>
      write(s, "l/target", "abc")
      Files.createSymbolicLink(Paths.get(s"${s.root}/l/link"),
        Paths.get(s"${s.root}/l/target"))
      Files.createSymbolicLink(Paths.get(s"${s.root}/l/dangling"),
        Paths.get(s"${s.root}/l/gone"))
      Seq("l/target", "l/link", "l/dangling").flatMap { rel =>
        Seq(status(s)(s.fs.getFileLinkStatus(s.p(rel))),
          status(s)(s.fc.getFileLinkStatus(s.p(rel))))
      }
    }
    assert(engine == stock)
    assert(engine.exists(_.startsWith("true|")), engine) // a link is seen
  }

  test("a missing path raises FileNotFoundException") {
    val (stock, engine) = both() { s =>
      val missing = s.p("nope/x")
      Seq(status(s)(s.fs.getFileStatus(missing)),
        status(s)(s.fs.getFileLinkStatus(missing)),
        status(s)(s.fc.getFileStatus(missing)),
        status(s)(s.fc.getFileLinkStatus(missing)),
        Try(s.fs.open(missing)).fold(_.getClass.getName, _ => "opened"))
    }
    assert(engine == stock)
    assert(engine.forall(_ == classOf[FileNotFoundException].getName), engine)
  }

  test("a local Engine.session installs the engine's file:// classes") {
    val conf = spark.sparkContext.hadoopConfiguration
    // The JVM-wide FileSystem cache may hold an instance a suite made
    // before any session existed; a user of its own gets a new one.
    val ugi = UserGroupInformation.createRemoteUser("graft-localfs-spec")
    val fs = ugi.doAs(new PrivilegedExceptionAction[FileSystem] {
      def run(): FileSystem = FileSystem.get(FileUri, conf)
    })
    try assert(fs.isInstanceOf[LocalFs.FileSystem], fs.getClass)
    finally FileSystem.closeAllForUGI(ugi)
    val fc = FileContext.getFileContext(conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[LocalFs.Fs],
      fc.getDefaultFileSystem.getClass)
  }

  test("only a local master gets the engine's file:// classes") {
    val none = new SparkConf(false)
    assert(Engine.localFsConfs(Some("local[4]"), none) == LocalFs.Confs)
    assert(Engine.localFsConfs(Some("local"), none) == LocalFs.Confs)
    assert(Engine.localFsConfs(Some("spark://h:7077"), none).isEmpty)
    assert(Engine.localFsConfs(Some("yarn"), none).isEmpty)
    assert(Engine.localFsConfs(None, none).isEmpty)
    // spark-submit --master local[*] passes no master, only spark.master
    assert(Engine.localFsConfs(None,
      new SparkConf(false).set("spark.master", "local[*]")) == LocalFs.Confs)
    assert(Engine.localFsConfs(None,
      new SparkConf(false).set("spark.master", "k8s://h:443")).isEmpty)
  }
}
