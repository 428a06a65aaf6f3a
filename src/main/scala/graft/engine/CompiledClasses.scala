package graft.engine

/** Keeps each class Spark generates for a plan for the life of the JVM.
  *
  * Spark compiles a plan's generated Java once and caches the class, keyed
  * on (the task thread's context class loader, the code), so the same plan
  * run again reuses it. Two Spark defaults throw that cache away:
  *  - per-session artifact isolation (`spark.sql.artifact.isolation
  *    .enabled`, on): every session, and so every streaming drain (a drain
  *    runs on a clone of its session), runs its tasks under a class loader
  *    of its own, an `ExecutorClassLoader`. Its classes are keyed apart,
  *    and each failed class lookup while compiling asks the driver for the
  *    class over RPC. graft adds no session artifacts (jars, files or REPL
  *    classes), so off every session runs its tasks under the executor's
  *    one loader;
  *  - the cache's capacity (`spark.sql.codegen.cache.maxEntries`, 100),
  *    a static conf that `CodeGenerator` reads from `SQLConf.get` when it
  *    first compiles in the JVM. [[Capacity]] holds the whole board.
  * With both defaults the `board_mix` benchmark's warm passes (7 queries
  * and a drain) kept recompiling: 406 compiles in one run, 295 of them in
  * its ≈27 s of warm passes. With both set: 141, none in the warm passes.
  */
object CompiledClasses {

  val IsolationKey = "spark.sql.artifact.isolation.enabled"
  val CapacityKey = "spark.sql.codegen.cache.maxEntries"

  /** The codegen cache's capacity. A full sf0.01 board run (`graft.Verify`,
    * 297 queries in one JVM) with an unbounded cache compiles 3,012
    * classes; a whole-stage class is compiled twice in local mode, once
    * under the driver's class loader and once under the executor's. Spark
    * splits the capacity over the cache's 4 segments and evicts per
    * segment, so the headroom to 4096 keeps an uneven segment from
    * evicting. Each cached class holds its generated classes' metaspace.
    */
  val Capacity = 4096

  /** Turns isolation off and sets the capacity, each only while `isSet`
    * says the key is unset, writing with `set`.
    */
  def install(isSet: String => Boolean, set: (String, String) => Unit): Unit =
    Seq(IsolationKey -> "false", CapacityKey -> Capacity.toString).foreach { case (k, v) =>
      if (!isSet(k)) set(k, v)
    }
}
