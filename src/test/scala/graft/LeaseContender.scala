package graft

/** A REAL second JVM for the cross-JVM lease integration test
  * (ConcurrencySpec spawns it via ProcessBuilder): contends for the same
  * registry artifact as the test JVM through the public
  * [[graft.queries.ArtifactCache.dir]] path — its own SparkSession, its
  * own FileSystem objects, nothing shared but the registry directory.
  * Closes the last simulation gap of the r18 lease hardening: the prior
  * tests faked the foreign JVM by writing lease files by hand.
  *
  * args: mode(build|crash|watch) registryRoot sfDir tag leaseMs
  *  - `build`: normal contender — its build appends one line to
  *    `<root>/builders.log`, sleeps 4 s (long enough for the test JVM to
  *    observe the live lease), commits the marker, prints `SERVED <dir>`.
  *  - `crash`: acquires the lease, appends its log line, writes
  *    `<root>/started`, then holds the lease (heartbeating) until the
  *    parent destroyForcibly()s it — the crashed-builder fixture for the
  *    TTL steal.
  *  - `watch`: the CURRENT-pointer reader for the cross-process flip
  *    test — spins on `ArtifactCache.readCurrent(<root>/<tag>)` for ~5 s
  *    while the parent JVM flips the pointer, recording every DISTINCT
  *    value seen (and `NONE` if a read ever finds no pointer) to
  *    `<root>/watch.out`; the parent asserts only whole version names
  *    were ever visible.
  */
object LeaseContender {
  def main(args: Array[String]): Unit = {
    val Array(mode, root, sfDir, tag, leaseMs) = args
    val spark = graft.engine.GraftSession.local("2")
    spark.conf.set("spark.graft.artifacts.root", root)
    spark.conf.set("spark.graft.artifacts.leaseMs", leaseMs)
    if (mode == "watch") {
      val dir = s"$root/$tag"
      val seen = new scala.collection.mutable.LinkedHashSet[String]()
      var reads = 0
      val deadline = System.currentTimeMillis() + 5000L
      while (System.currentTimeMillis() < deadline) {
        seen += graft.queries.ArtifactCache.readCurrent(spark, dir)
          .getOrElse("NONE")
        reads += 1
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root, "watch.out"),
        (s"READS $reads" +: seen.toSeq).mkString("\n").getBytes("UTF-8"))
      spark.stop()
      return
    }
    def build(dir: String): Unit = {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root, "builders.log"),
        s"$mode:${ProcessHandle.current.pid}\n".getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      if (mode == "crash") {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(root, "started"), "x".getBytes("UTF-8"))
        Thread.sleep(3600000L) // hold the lease until the parent kills us
      }
      Thread.sleep(4000L)
      assert(new java.io.File(dir).mkdirs() || new java.io.File(dir).isDirectory)
      assert(new java.io.File(dir, "_SUCCESS").createNewFile())
    }
    val d = graft.queries.ArtifactCache.dir(
      spark, sfDir, "documents", tag, Seq("_SUCCESS"))(build)
    println(s"SERVED $d")
    spark.stop()
  }
}
