package graft

/** Starts a test-scope main in a second JVM on this JVM's classpath, with
  * the module opens Spark needs on JDK 17 (those `build.sbt` gives the
  * test JVM), a 1 GB heap, no UI and a UTC session time zone. Its stdout
  * and stderr go to `log`.
  */
object SecondJvm {
  def start(log: java.io.File, mainClass: String, args: String*): Process = {
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(
      s"${sys.props("java.home")}/bin/java") ++ addOpens ++ Seq(
      "-Xmx1g", "-Dspark.ui.enabled=false",
      "-Dspark.sql.session.timeZone=UTC",
      "-cp", sys.props("java.class.path"), mainClass) ++ args
    new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(log)
      .start()
  }

  /** Runs `mainClass` to its end (killed after `timeoutS` seconds) and
    * returns its output lines, failing with the output's tail unless it
    * exits cleanly.
    */
  def run(timeoutS: Long, mainClass: String, args: String*): Seq[String] = {
    val log = java.io.File.createTempFile("second-jvm", ".log")
    try {
      val child = start(log, mainClass, args: _*)
      val done = child.waitFor(timeoutS, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) child.destroyForcibly().waitFor(): Unit
      val lines = java.nio.file.Files.readAllLines(log.toPath).toArray(Array.empty[String]).toSeq
      if (!done || child.exitValue() != 0)
        throw new AssertionError(s"$mainClass ${args.mkString(" ")} did not exit cleanly:\n" +
          lines.takeRight(40).mkString("\n"))
      lines
    } finally log.delete(): Unit
  }
}
