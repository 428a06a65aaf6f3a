package graft

import org.apache.spark.sql.types._
import graft.engine.{GraftSql, SparkSchemaCatalog}

class GraftSqlSpec extends SparkTestBase {

  test("CREATE EXTERNAL TABLE (mura form) registers a queryable view") {
    GraftSql.sql(spark,
      s"CREATE EXTERNAL TABLE region_sql (r_regionkey INT NOT NULL, r_name VARCHAR) " +
        s"STORED AS PARQUET LOCATION '$sf/region.parquet'")
    val n = spark.sql("SELECT count(*) AS n FROM region_sql").collect()(0).getLong(0)
    assert(n == 5)
    val cat = new SparkSchemaCatalog(spark)
    val schema = cat.fetchTableInfo("region_sql").get
    assert(schema("r_regionkey").dataType == IntegerType)
    // NOT NULL in the declared schema (queryplanner.rs:167) is accepted but
    // Spark normalizes file-source read schemas to nullable=true - a
    // deliberate divergence (file contents can't be trusted at plan time).
  }

  /** A stand-in for mura's sample `userdata1.parquet` (FIXTURES.md §2),
    * which the mura `CREATE EXTERNAL TABLE` doc-example targets
    * (mura's `src/parser/mod.rs:26-28`): the same 13 columns and
    * 1000 deterministic rows, salary null on every 13th row. Spark writes
    * `registration_dttm` as a microsecond TIMESTAMP (the sample's
    * timestamp[ns] has no Spark writer). Written under a fresh tmp dir that
    * is removed after `body`.
    */
  private def withUserdata[A](body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft_userdata_").toFile
    try {
      val path = s"$dir/userdata1.parquet"
      spark.range(1, 1001).selectExpr(
        "timestamp_seconds(1454284800 + id * 3607) AS registration_dttm",
        "CAST(id AS INT) AS id",
        "concat('First', id) AS first_name",
        "concat('Last', id) AS last_name",
        "concat('user', id, '@example.com') AS email",
        "IF(id % 2 = 0, 'Female', 'Male') AS gender",
        "concat('10.0.', id div 256, '.', id % 256) AS ip_address",
        "CAST(4000000000000000 + id * 7919 AS STRING) AS cc",
        "element_at(array('Portugal', 'China', 'Indonesia', 'Brazil', 'France'), " +
          "CAST(id % 5 + 1 AS INT)) AS country",
        "date_format(date_add(DATE'1960-01-01', CAST(id * 17 AS INT)), 'M/d/yyyy') AS birthdate",
        "IF(id % 13 = 0, CAST(NULL AS DOUBLE), 12000.0 + (id * 7919) % 275000) AS salary",
        "concat('Title ', id % 40) AS title",
        "IF(id % 11 = 0, '', concat('comment ', id)) AS comments")
        .coalesce(1).write.parquet(path)
      body(path)
    } finally new scala.reflect.io.Directory(dir).deleteRecursively(): Unit
  }

  test("round-trip on a sample parquet shaped like the reference's userdata1") {
    withUserdata { path =>
      val df = GraftSql.sql(spark,
        s"CREATE EXTERNAL TABLE userdata STORED AS PARQUET LOCATION '$path'")
      assert(df.columns.length == 13)
      assert(df.schema("registration_dttm").dataType == TimestampType)
      assert(df.schema("salary").dataType == DoubleType)
      assert(spark.sql("SELECT count(*) AS n FROM userdata").collect()(0).getLong(0) == 1000)
    }
  }

  test("unknown file format and unknown type raise, not panic") {
    intercept[IllegalArgumentException] {
      GraftSql.sql(spark, "CREATE EXTERNAL TABLE x (a INT) STORED AS XLS LOCATION '/tmp/x'")
    }
    intercept[IllegalArgumentException] {
      GraftSql.sql(spark, "CREATE EXTERNAL TABLE x (a FROB) STORED AS PARQUET LOCATION '/tmp/x'")
    }
  }

  test("unsigned types widen per SURVEY §1.2 (logicalplan.rs:171-177)") {
    // Spark has no unsigned types; each UInt widens to the next signed type
    // holding its full range, UInt64 to Decimal(20,0). Bit-count (Arrow)
    // and byte-count / DuckDB spellings both resolve.
    val widened = GraftSql.parseSchema(
      "a UINT8, b UINT16, c UINT32, d UINT64, e UTINYINT, f USMALLINT, g UINTEGER, h UBIGINT, i UINT1, j UINT2, k UINT4")
    val byName = widened.fields.map(f => f.name -> f.dataType).toMap
    assert(byName("a") == ShortType)
    assert(byName("b") == IntegerType)
    assert(byName("c") == LongType)
    assert(byName("d") == DecimalType(20, 0))
    assert(byName("e") == ShortType)
    assert(byName("f") == IntegerType)
    assert(byName("g") == LongType)
    assert(byName("h") == DecimalType(20, 0))
    assert(byName("i") == ShortType)
    assert(byName("j") == IntegerType)
    assert(byName("k") == LongType)
  }

  test("catalog miss is None, not a panic (vs catalog.rs:29-31)") {
    assert(new SparkSchemaCatalog(spark).fetchTableInfo("does_not_exist").isEmpty)
  }

  test("non-DDL statements delegate to Spark SQL") {
    val df = GraftSql.sql(spark, "SELECT 1 AS one")
    assert(df.collect()(0).getInt(0) == 1)
  }

  test("conformance: the reference's doc-example SQL drives the full declared surface") {
    // The one SQL interaction the reference documents for users
    // (/root/reference/src/parser/mod.rs:26-28): CREATE EXTERNAL TABLE over
    // its sample parquet, then queries on the registered table. The
    // reference's planner would accept the DDL and plan `SELECT ... FROM
    // userdata` as a bare Scan (queryplanner.rs:50-67); everything below —
    // projection, every comparison operator, AND/OR/NOT, IS [NOT] NULL,
    // CAST, ORDER BY, LIMIT — is the expression surface its logical plan
    // DECLARES (logicalplan.rs:27-149) executed end-to-end through
    // GraftSql.sql, over the userdata stand-in. Expected values
    // cross-checked against a direct spark.read.parquet of the same file
    // inside this test.
    withUserdata { path =>
      GraftSql.sql(spark,
        s"CREATE EXTERNAL TABLE userdata_conf STORED AS PARQUET LOCATION '$path'")
      val raw = spark.read.parquet(path)

      // bare scan (the shape the reference's SELECT planner emits)
      assert(GraftSql.sql(spark, "SELECT * FROM userdata_conf").count() == raw.count())

      // projection + all six comparisons + boolean composition
      val got = GraftSql.sql(spark,
        """SELECT id, first_name FROM userdata_conf
          |WHERE (salary > 50000.0 AND salary <= 100000.0 AND id >= 10 AND id < 900)
          |   OR (NOT (country <> 'Portugal') AND id = 7)""".stripMargin).count()
      val want = {
        import org.apache.spark.sql.functions._
        raw.filter((col("salary") > 50000.0 && col("salary") <= 100000.0 &&
            col("id") >= 10 && col("id") < 900) ||
          (!(col("country") =!= "Portugal") && col("id") === 7)).count()
      }
      assert(got == want && got > 0)

      // IS NULL / IS NOT NULL (salary has genuine nulls in the sample file)
      val nNull = GraftSql.sql(spark,
        "SELECT id FROM userdata_conf WHERE salary IS NULL").count()
      val nNotNull = GraftSql.sql(spark,
        "SELECT id FROM userdata_conf WHERE salary IS NOT NULL").count()
      assert(nNull > 0 && nNull + nNotNull == raw.count())

      // CAST + ORDER BY (multi-key, asc/desc) + LIMIT
      val top = GraftSql.sql(spark,
        """SELECT id, CAST(salary AS BIGINT) AS sal
          |FROM userdata_conf WHERE salary IS NOT NULL
          |ORDER BY sal DESC, id ASC LIMIT 3""".stripMargin).collect()
      assert(top.length == 3)
      assert(top.sliding(2).forall(p => p(0).getLong(1) >= p(1).getLong(1)))
    }
  }

  test("script splitter: semicolons in literals and -- comments survive correctly") {
    val script =
      """-- a leading comment; with a semicolon
        |CREATE EXTERNAL TABLE t1 (a INT) STORED AS PARQUET LOCATION '/x/y.parquet';
        |SELECT 'a;b' AS s, -- trailing comment; also with one
        |  1 AS n;
        |
        |SELECT 2""".stripMargin
    val stmts = Repl.splitStatements(script)
    assert(stmts.length == 3, s"got $stmts")
    assert(stmts(0).startsWith("CREATE EXTERNAL TABLE t1"))
    assert(stmts(1).contains("'a;b'"), s"literal semicolon lost: ${stmts(1)}")
    assert(!stmts(1).contains("trailing comment"))
    assert(stmts(2) == "SELECT 2")
  }

  test(":load runs a multi-statement script: DDL persists, errors report and continue") {
    val f = java.io.File.createTempFile("graft_repl_script", ".sql")
    try {
      val w = new java.io.PrintWriter(f)
      w.println("-- demo script: mura-form DDL + queries in one file")
      w.println(s"CREATE EXTERNAL TABLE repl_docs (doc_id BIGINT NOT NULL, source VARCHAR) STORED AS PARQUET LOCATION '$sf/documents.parquet';")
      w.println("SELECT source, count(*) AS n FROM repl_docs GROUP BY source ORDER BY source;")
      w.println("SELECT boom FROM no_such_table;")
      w.println("SELECT count(*) AS after_error FROM repl_docs")
      w.close()
      val statuses = Repl.runScript(spark, f.getAbsolutePath)
      assert(statuses.length == 4, s"got $statuses")
      assert(statuses(0) == "registered (2 columns)", statuses(0))
      assert(statuses(1).startsWith("ok"), statuses(1))
      assert(statuses(2).startsWith("error:"), "the bad statement must report, not throw")
      assert(statuses(3).startsWith("ok"), "the script must continue past an error")
      // the DDL registered a REAL catalog entry that outlives the script
      assert(spark.sql("SELECT count(*) FROM repl_docs").head().getLong(0) > 0)
    } finally { f.delete(); spark.catalog.dropTempView("repl_docs"): Unit }
  }
}
