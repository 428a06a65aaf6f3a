package graft

/** Driver t1 analog: SparkEntry.entry must return rows on sf0.001. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.engine.GraftSession.local("8")
    val n = SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows=$n")
    assert(n > 0, "entry returned no rows")
  }
}
