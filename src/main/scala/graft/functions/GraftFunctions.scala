package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.LongType

/** SQL registration for graft's custom Catalyst expressions, so the same
  * operators are reachable from `spark.sql` text as from the Column API —
  * the registry the reference's name-keyed function nodes implied but never
  * shipped (/root/reference/src/planner/logicalplan.rs:64-80).
  *
  * [[table]] is the one list of graft SQL functions. Both registration
  * paths read it: [[graft.engine.GraftExtensions]] injects it into every
  * session built with the extensions, and [[register]] adds it to a
  * session built without them.
  */
object GraftFunctions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  private def fn(name: String, usage: String, builder: Seq[Expression] => Expression):
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in"),
      builder)

  /** Every graft SQL function as (name, usage, builder), in the shape
    * `injectFunction` takes; the usage is what `DESCRIBE FUNCTION` prints.
    */
  val table: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("cosine_sim",
      "cosine_sim(a, b) - cosine similarity of two float/double arrays",
      exprs => CosineSimilarity(exprs(0), exprs(1))),
    fn("dot_product",
      "dot_product(a, b) - dot product of two float/double arrays",
      exprs => DotProduct(exprs(0), exprs(1))),
    fn("euclidean_dist",
      "euclidean_dist(a, b) - Euclidean (L2) distance of two float/double arrays",
      exprs => EuclideanDistance(exprs(0), exprs(1))),
    fn("hamming64",
      "hamming64(a, b) - hamming distance of two 64-bit hashes",
      exprs => HammingDistance64(Cast(exprs(0), LongType), Cast(exprs(1), LongType))),
    fn("unaccent",
      "unaccent(s) - s with accents folded (NFD, combining marks stripped)",
      exprs => Unaccent(exprs(0))),
    fn("fingerprint64",
      "fingerprint64(s) - 64-bit content fingerprint",
      exprs => Fingerprint64(exprs(0), 42L)),
    fn("simhash64",
      "simhash64(tokens) - 64-bit simhash over a token array",
      exprs => SimHash64(exprs(0), 42L)),
    fn("minhash_sig",
      "minhash_sig(tokens, k) - k-slot MinHash signature over a token array",
      exprs => MinHashSignature(exprs(0), intArg(exprs(1), "k"), 42L)),
    fn("explode_shingles",
      "explode_shingles(s, k) - one row per character k-gram of s",
      exprs => ExplodeShingles(exprs(0), intArg(exprs(1), "k"))),
    fn("winnow_fingerprints",
      "winnow_fingerprints(s, k, w) - sorted winnowed k-gram hashes, one minimum per window of w",
      exprs => WinnowFingerprints(exprs(0),
        intArg(exprs(1), "k"), intArg(exprs(2), "w"), 42L)),
    fn("char_entropy",
      "char_entropy(s) - Shannon entropy (bits) of the code-point distribution",
      exprs => CharEntropy(exprs(0))),
    fn("sorted_intersect_size",
      "sorted_intersect_size(a, b) - intersection size of two ascending long arrays",
      exprs => SortedIntersectSize(exprs(0), exprs(1))))

  /** Registers every [[table]] function and the planner additions of
    * [[installPlanner]] on `spark`. Idempotent; safe to call per-query on a
    * shared session.
    */
  def register(spark: SparkSession): Unit = {
    installPlanner(spark)
    val reg = spark.sessionState.functionRegistry
    table.foreach { case (id, info, builder) => reg.registerFunction(id, info, builder) }
  }

  /** Adds graft's planner additions to `spark`, each unless already there:
    *  - the fork-free local filesystem ([[graft.sources.LocalFs.install]])
    *    on the context's Hadoop conf, before anything here touches the
    *    session state: building the session state qualifies the warehouse
    *    path, which creates (and caches JVM-wide) the `file:` FileSystem;
    *  - one compile per generated class ([[graft.engine.CompiledClasses]]):
    *    artifact isolation off and the codegen cache's capacity, each as
    *    an entry of the session's conf unless the conf has the key. The
    *    session's artifact manager reads isolation at its first execution
    *    and a cloned session (a streaming drain's) copies the entry;
    *    Spark's codegen reads the capacity from the active session's conf
    *    when it first compiles in the JVM. A session that has already run
    *    a query keeps the isolation it started with, and a capacity set
    *    after the JVM's first compile is ignored;
    *  - the as-of planner strategy and its filter-pushdown rule, unless the
    *    session's planner has the strategy (also when the extensions
    *    injected it);
    *  - the size rule [[graft.plans.SmallInput]] and the strategy that
    *    plans its nodes, unless the session runs a size rule (of any
    *    threshold); the rule runs in the optimizer's user-provided batch.
    * The session factory, [[register]] and the as-of join all call this, so
    * every session plans with the same rules in the same batches.
    * Idempotent.
    */
  def installPlanner(spark: SparkSession): Unit = synchronized {
    val hadoop = spark.sparkContext.hadoopConfiguration
    graft.sources.LocalFs.install(hadoop.get, hadoop.set)
    val conf = spark.sessionState.conf
    graft.engine.CompiledClasses.install(conf.contains, conf.setConfString)
    val exp = spark.experimental
    if (!spark.sessionState.planner.strategies.contains(graft.plans.AsOfJoinStrategy)) {
      exp.extraStrategies = exp.extraStrategies :+ graft.plans.AsOfJoinStrategy
      exp.extraOptimizations = exp.extraOptimizations :+ graft.plans.PushFilterThroughAsOfJoin
    }
    if (!exp.extraOptimizations.exists(_.isInstanceOf[graft.plans.SmallInput])) {
      exp.extraStrategies = exp.extraStrategies :+ graft.plans.OnePartitionStrategy
      exp.extraOptimizations = exp.extraOptimizations :+ graft.plans.SmallInput.rule
    }
  }
}
