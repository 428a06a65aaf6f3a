package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import graft.sources.LocalFs

/** [[LocalFs]] answers every call it overrides as Hadoop's
  * `RawLocalFileSystem` does, and the library's local file work starts no
  * `chmod` / `ls` / `readlink` / `stat` process.
  */
class LocalFsSpec extends SparkTestBase {

  private def fresh(fs: RawLocalFileSystem, umask: String = "022"): RawLocalFileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def fields(s: FileStatus) =
    (s.getPath.toString, s.getLen, s.isDirectory, s.getModificationTime,
      s.getPermission.toShort, s.getOwner, s.getGroup, s.isSymlink,
      if (s.isSymlink) s.getSymlink.toString else "")

  /** The call's fields, or the class of what it threw. */
  private def outcome(call: => Seq[FileStatus]): Either[Class[_], Seq[Any]] =
    Try(call.map(fields).sortBy(_._1)).toEither.left.map(_.getClass)

  /** A dir holding a file, a subdir, a relative and an absolute symlink to
    * the file (the shape of `Tables.fileStream`'s landing dir) and a
    * dangling link.
    */
  private def tree(): java.nio.file.Path = {
    val root = Files.createTempDirectory("graft-localfs")
    Files.write(root.resolve("data.parquet"), Array.fill[Byte](1234)(7))
    Files.createDirectory(root.resolve("sub"))
    Files.write(root.resolve("sub/part-0"), Array[Byte](1, 2, 3))
    Files.createSymbolicLink(root.resolve("link"), Paths.get("data.parquet"))
    Files.createSymbolicLink(root.resolve("abslink"), root.resolve("data.parquet"))
    Files.createSymbolicLink(root.resolve("dangling"), Paths.get("missing.parquet"))
    root
  }

  test("getFileStatus / listStatus / getFileLinkStatus / getLinkTarget match RawLocalFileSystem") {
    val stock = fresh(new RawLocalFileSystem)
    val ours = fresh(new LocalFs)
    val root = tree()
    try parity(stock, ours, root)
    finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  private def parity(stock: RawLocalFileSystem, ours: RawLocalFileSystem, root: java.nio.file.Path): Unit = {
    val names = Seq("", "data.parquet", "sub", "sub/part-0", "link", "abslink", "dangling", "absent")
    for (name <- names; form <- Seq("", "file:")) {
      val p = new Path(form + root.resolve(name).toString)
      assert(outcome(Seq(ours.getFileStatus(p))) == outcome(Seq(stock.getFileStatus(p))), s"getFileStatus $p")
      assert(outcome(ours.listStatus(p).toSeq) == outcome(stock.listStatus(p).toSeq), s"listStatus $p")
      assert(outcome(Seq(ours.getFileLinkStatus(p))) == outcome(Seq(stock.getFileLinkStatus(p))),
        s"getFileLinkStatus $p")
    }
    val link = new Path(root.resolve("link").toString)
    assert(ours.getFileLinkStatus(link).getSymlink == new Path("file:" + root.resolve("data.parquet")))
    assert(ours.getFileLinkStatus(new Path(root.resolve("dangling").toString)).isSymlink)
    assert(ours.getLinkTarget(link) == stock.getLinkTarget(link))
    assert(ours.listStatus(new Path(root.toString)).length == 4, "the dangling link is not listed")
    intercept[FileNotFoundException](ours.getFileStatus(new Path(root.resolve("absent").toString)))
    intercept[FileNotFoundException](ours.listStatus(new Path(root.resolve("dangling").toString)))
  }

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  test("create / mkdirs / setPermission leave the permissions RawLocalFileSystem leaves") {
    val root = Files.createTempDirectory("graft-localfs-perm")
    def build(fs: RawLocalFileSystem, sub: String): Seq[Path] = {
      val base = new Path(root.resolve(sub).toString)
      val made = Seq("d/e", "d/e/f.bin", "g", "g/h.bin", "i", "j.bin").map(new Path(base, _))
      fs.mkdirs(made(0))
      fs.create(made(1)).close()
      fs.mkdirs(made(2), perm("750"))
      fs.create(made(3), perm("600"), true, 4096,
        1.toShort, 1L << 25, null).close()
      fs.mkdirs(made(4))
      fs.setPermission(made(4), perm("1777"))
      fs.create(made(5)).close()
      fs.setPermission(made(5), perm("640"))
      new Path(base, "d") +: made
    }
    val stock = fresh(new RawLocalFileSystem, umask = "027")
    val ours = fresh(new LocalFs, umask = "027")
    try {
      val mode = build(stock, "a").map(stock.getFileStatus(_).getPermission.toShort)
      assert(build(ours, "b").map(stock.getFileStatus(_).getPermission.toShort) == mode)
      assert(mode.map(m => Integer.toOctalString(m.toInt)) ==
        Seq("750", "750", "640", "750", "600", "1777", "640"))
      intercept[FileNotFoundException](
        ours.setPermission(new Path(root.resolve("absent").toString), FsPermission.getFileDefault))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("install points only Hadoop-default keys at graft's classes") {
    val conf = new Configuration()
    LocalFs.install(conf.get, conf.set)
    assert(conf.get("fs.file.impl") == classOf[LocalFs.FileSystemImpl].getName)
    assert(conf.get("fs.AbstractFileSystem.file.impl") == classOf[LocalFs.FileContextImpl].getName)
    val custom = new Configuration()
    custom.set("fs.file.impl", classOf[NoSetTimesFileSystem].getName)
    LocalFs.install(custom.get, custom.set)
    assert(custom.get("fs.file.impl") == classOf[NoSetTimesFileSystem].getName)
    assert(custom.get("fs.AbstractFileSystem.file.impl") == classOf[LocalFs.FileContextImpl].getName)
  }

  /** The command line of every process the JVM started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft-spawns", ".jfr")
    try {
      rec.dump(file)
      jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.delete(file) }
  }

  test("table loads, a warm artifact serve and a warm stream drain fork no chmod/ls/readlink/stat") {
    def run(name: String): Unit = SparkEntry.queries(name)(spark, sf).collect()
    Seq("q_curation_manifest", "q_stream_anomaly").foreach(run)
    val started = processStarts {
      Tables.names.foreach(Tables.t(spark, sf, _))
      run("q_curation_manifest")
      run("q_stream_anomaly")
    }
    val forked = started.filter { c =>
      Set("chmod", "ls", "readlink", "stat")(Paths.get(c.split(" ").head).getFileName.toString)
    }
    assert(forked.isEmpty, s"${forked.size} forks: ${forked.take(5).mkString("; ")}")
  }
}
