package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic

/** The uuid a session's jobs carry as their artifact state: `Some` when
  * its artifact manager isolates the session (its tasks then run under a
  * class loader of their own), `None` when it does not. Reading it fixes
  * the manager's lazily read isolation. `artifactManager` is private[sql].
  */
object ArtifactBridge {
  def isolatedAs(spark: SparkSession): Option[String] =
    Option(spark.asInstanceOf[classic.SparkSession].artifactManager.state).map(_.uuid)
}

/** The capacity of `CodeGenerator`'s class cache, as the cache was built
  * when the JVM first compiled: its private `cache` wraps a Guava cache
  * whose `maxWeight` is the capacity. Reflection on both sides, so a Spark or
  * Guava upgrade that moves either fails here by name.
  */
object CodegenCacheBridge {
  def capacity: Long = {
    val gen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val cache = gen.getClass.getDeclaredMethod("cache")
    cache.setAccessible(true)
    val guava = field(cache.invoke(gen), "cache")
    field(field(guava, "localCache"), "maxWeight").asInstanceOf[Long]
  }

  private def field(o: AnyRef, name: String): AnyRef = {
    val f = Iterator.iterate[Class[_]](o.getClass)(_.getSuperclass).takeWhile(_ != null)
      .flatMap(_.getDeclaredFields.find(_.getName == name)).nextOption()
      .getOrElse(throw new NoSuchFieldException(s"${o.getClass.getName}.$name"))
    f.setAccessible(true)
    f.get(o)
  }
}
