package graft

import org.apache.spark.sql.graft.{ArtifactBridge, CodegenCacheBridge, PlainSession}
import graft.engine.CompiledClasses

/** Each generated class is compiled once per JVM: a warm re-run of a
  * streaming drain and of more classes than Spark's default codegen cache
  * holds compiles nothing, and no task runs under a per-session
  * `ExecutorClassLoader`. Held for the factory session here and for a
  * session built elsewhere that calls `GraftFunctions.register`, in a
  * second JVM.
  */
class CodegenCacheSpec extends SparkTestBase {

  private val ExecutorLoader = "org.apache.spark.executor.ExecutorClassLoader"

  private def field(lines: Seq[String], name: String): Seq[String] =
    lines.find(_.startsWith(s"$name ")).getOrElse(fail(s"no $name line in:\n${lines.mkString("\n")}"))
      .split(" ").toSeq.tail

  test("factory session: a warm drain and a warm round of 120 classes compile nothing") {
    val salt = System.nanoTime() % 1000000L + 1000L
    val cold = CodegenProbe.roundCompiles(spark, sf, salt)
    assert(cold >= CodegenProbe.Projections, s"cold round compiled $cold classes")
    val warm = CodegenProbe.roundCompiles(spark, sf, salt)
    assert(warm == 0, s"warm round recompiled $warm classes")
  }

  test("factory session: batch and drain tasks run under the executor's one class loader") {
    val loaders = CodegenProbe.taskLoaders(spark)
    assert(loaders.size == 3 && !loaders.contains(ExecutorLoader), loaders)
    assert(loaders.distinct.size == 1, loaders)
  }

  test("register path, second JVM: a warm round compiles nothing, no ExecutorClassLoader") {
    val lines = SecondJvm.run(300, "graft.CodegenProbe", "register", sf)
    val Seq(cold, warm) = field(lines, "COMPILES").map(_.toLong)
    assert(cold >= CodegenProbe.Projections, s"cold round compiled $cold classes")
    assert(warm == 0, s"warm round recompiled $warm classes")
    val loaders = field(lines, "LOADERS")
    assert(loaders.size == 3 && !loaders.contains(ExecutorLoader), loaders)
    // register sets isolation on its session only: a newSession() of it
    // reads the context's conf, which graft did not build
    assert(field(lines, "ISOLATED") == Seq("false", "true"))
  }

  test("both keys are set on factory and register-only sessions, each only while unset") {
    val expected = Map(CompiledClasses.IsolationKey -> "false",
      CompiledClasses.CapacityKey -> CompiledClasses.Capacity.toString)
    expected.foreach { case (k, v) =>
      assert(spark.sparkContext.getConf.get(k) == v, k)
      assert(spark.newSession().conf.get(k) == v, k)
    }
    assert(ArtifactBridge.isolatedAs(spark.newSession()).isEmpty)
    assert(CodegenCacheBridge.capacity == CompiledClasses.Capacity)

    // a session whose conf carries neither key: register sets both
    val plain = PlainSession.on(spark)
    expected.keys.foreach(k => plain.sessionState.conf.unsetConf(k))
    graft.functions.GraftFunctions.register(plain)
    expected.foreach { case (k, v) => assert(plain.conf.get(k) == v, k) }
    assert(ArtifactBridge.isolatedAs(plain).isEmpty)

    val own = PlainSession.on(spark)
    own.sessionState.conf.setConfString(CompiledClasses.IsolationKey, "true")
    own.sessionState.conf.setConfString(CompiledClasses.CapacityKey, "7")
    graft.functions.GraftFunctions.register(own)
    assert(own.conf.get(CompiledClasses.IsolationKey) == "true")
    assert(own.conf.get(CompiledClasses.CapacityKey) == "7")
    assert(ArtifactBridge.isolatedAs(own).isDefined)
  }
}
