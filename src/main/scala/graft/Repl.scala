package graft

import scala.io.StdIn
import org.apache.spark.sql.SparkSession
import graft.engine.{GraftSession, GraftSql}

/** Interactive SQL REPL — the reference's user surface
  * (/root/reference/src/main.rs:27-61: readline -> parse -> plan ->
  * print), completed: statements here are parsed, *planned and executed*,
  * and DDL persists in the session catalog instead of being printed and
  * dropped (the reference re-creates an empty catalog per line,
  * main.rs:41-42). `:explain` prints the optimized + physical plan —
  * the part of mura's output worth keeping. `:load file.sql` runs a
  * semicolon-separated script through the same dispatch, so the demo
  * surface (mura-form DDL + queries, SURVEY §3) is reproducible as one
  * file instead of retyped lines.
  *
  * Usage: sbt "runMain graft.Repl" — then e.g.
  *   CREATE EXTERNAL TABLE li (...) STORED AS PARQUET LOCATION '/root/testdata/sf0.001/lineitem.parquet'
  *   SELECT count(*) FROM li
  *   :explain SELECT l_returnflag, sum(l_quantity) FROM li GROUP BY 1
  *   :load demo.sql
  */
object Repl {

  /** Split a script into statements on semicolons OUTSIDE quoted
    * literals, dropping `--` line comments and blank statements. BOTH
    * quote forms are tracked: Spark SQL's default (non-ANSI) parser
    * treats double-quoted strings as literals too, so a `;` or `--`
    * inside "..." must survive the split exactly like inside '...'.
    * Quote state carries across lines (a multi-line string literal keeps
    * its embedded `;` and `--`).
    */
  private[graft] def splitStatements(script: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var quote: Char = 0 // 0 = outside; '\'' or '"' = inside that literal
    var i = 0
    while (i < script.length) {
      val c = script.charAt(i)
      if (quote != 0) {
        cur += c
        if (c == quote) quote = 0
        i += 1
      } else c match {
        case '\'' | '"' => cur += c; quote = c; i += 1
        case ';' => out += cur.result(); cur.clear(); i += 1
        case '-' if i + 1 < script.length && script.charAt(i + 1) == '-' =>
          while (i < script.length && script.charAt(i) != '\n') i += 1
        case _ => cur += c; i += 1
      }
    }
    out += cur.result()
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Dispatch one statement exactly the way the interactive loop does;
    * returns the one-line status the loop prints. SELECTs print their
    * first 20 rows as a side effect (the REPL's job); DDL registers and
    * reports the schema width.
    */
  private[graft] def execute(spark: SparkSession, stmt: String): String = {
    val trimmed = stmt.trim
    if (trimmed.startsWith(":explain")) {
      GraftSql.sql(spark, trimmed.stripPrefix(":explain").trim).explain("formatted")
      "explained"
    } else if (trimmed.toUpperCase.startsWith("CREATE ")) {
      val df = GraftSql.sql(spark, trimmed)
      s"registered (${df.schema.fields.length} columns)"
    } else {
      val df = GraftSql.sql(spark, trimmed)
      df.show(20, truncate = false)
      s"ok (${df.schema.fields.length} columns)"
    }
  }

  /** `:load` — run a script file statement by statement through
    * [[execute]]. A failing statement reports and the script CONTINUES
    * (the interactive contract: errors never kill the session). Returns
    * the per-statement statuses, "error: ..." entries included.
    */
  private[graft] def runScript(spark: SparkSession, path: String): Seq[String] = {
    val src = scala.io.Source.fromFile(path)
    val text = try src.mkString finally src.close()
    splitStatements(text).map { stmt =>
      val status =
        try execute(spark, stmt)
        catch { case e: Exception => s"error: ${e.getMessage}" }
      println(status)
      status
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("*")
    println("graft> SQL REPL (blank line or :quit to exit; :explain <sql> for plans; :load <file.sql> for scripts)")
    var line = ""
    while ({ print("graft> "); Console.flush(); line = StdIn.readLine(); line != null && line.trim.nonEmpty && line.trim != ":quit" }) {
      try {
        val trimmed = line.trim
        if (trimmed.startsWith(":load")) {
          runScript(spark, trimmed.stripPrefix(":load").trim): Unit
        } else {
          println(execute(spark, trimmed))
        }
      } catch {
        // errors report and the loop continues — unlike the reference,
        // which .unwrap()s the parse result and dies (main.rs:40)
        case e: Exception => println(s"error: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
