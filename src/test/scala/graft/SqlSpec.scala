package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Sql

class SqlSpec extends AnyFunSuite {

  test("sanitize strips markdown fences") {
    assert(Sql.sanitize("```sql\nSELECT 1\n```") == Some("SELECT 1"))
    assert(Sql.sanitize("```SQL\nSELECT 1\n```") == Some("SELECT 1"))
    assert(Sql.sanitize("```\nSELECT 1\n```") == Some("SELECT 1"))
  }

  test("sanitize trims to the first WITH/SELECT and drops trailing semicolon") {
    assert(Sql.sanitize("Here is your query: SELECT a FROM t;") == Some("SELECT a FROM t"))
    assert(Sql.sanitize("Sure! WITH x AS (SELECT 1) SELECT * FROM x;\n")
      == Some("WITH x AS (SELECT 1) SELECT * FROM x"))
    // WITH/SELECT match as whole words, not inside "without"/"Withdrawn"
    assert(Sql.sanitize("Here is a query without joins: SELECT 1 AS x")
      == Some("SELECT 1 AS x"))
    assert(Sql.sanitize("Withdrawn orders: SELECT 3 AS z;") == Some("SELECT 3 AS z"))
  }

  test("sanitize returns None when no SELECT/WITH present") {
    assert(Sql.sanitize("DROP TABLE users").isEmpty)
    assert(Sql.sanitize("no query here at all").isEmpty)
    assert(Sql.sanitize("").isEmpty)
  }

  test("runSelect executes sanitized SQL") {
    val spark = TestSpark.spark
    val out = Sql.runSelect(spark, "```sql\nSELECT 1 AS one;\n```").get.collect()
    assert(out.length == 1 && out(0).getInt(0) == 1)
  }

  test("runSelect refuses a write before anything runs") {
    val spark = TestSpark.spark
    val dir = new java.io.File(TestSpark.tmpDir("sql-write"), "out")
    spark.range(3).createOrReplaceTempView("sql_write_src")
    val write = s"WITH a AS (SELECT id FROM sql_write_src) " +
      s"INSERT OVERWRITE DIRECTORY '${dir.getPath}' USING parquet SELECT * FROM a"
    assert(Sql.sanitize(write).isDefined)
    intercept[Sql.NotAQueryException](Sql.runSelect(spark, write))
    assert(!dir.exists(), s"runSelect wrote to $dir")
    // a TRANSFORM script is a query that runs a shell command: refused
    // at the top level, inside a CTE and inside a subquery
    val script = s"SELECT TRANSFORM(id) USING 'touch ${dir.getPath}' AS (x) FROM sql_write_src"
    Seq(script,
        s"WITH a AS ($script) SELECT * FROM a",
        s"SELECT 1 AS one WHERE EXISTS ($script)").foreach { q =>
      intercept[Sql.NotAQueryException](Sql.runSelect(spark, q).map(_.collect()))
    }
    assert(!dir.exists(), s"a TRANSFORM script ran and created $dir")
    // reflect, java_method and try_reflect call any static Java method:
    // refused in the same three places, before the property is ever set
    Seq("reflect", "java_method", "try_reflect").foreach { fn =>
      val call = s"SELECT $fn('java.lang.System', 'setProperty', 'graft.sql.probe', '$fn') AS p"
      Seq(call,
          s"WITH a AS ($call) SELECT * FROM a",
          s"SELECT 1 AS one WHERE EXISTS ($call)").foreach { q =>
        intercept[Sql.NotAQueryException](Sql.runSelect(spark, q).map(_.collect()))
      }
    }
    assert(System.getProperty("graft.sql.probe") == null,
      s"a reflect call ran: graft.sql.probe=${System.getProperty("graft.sql.probe")}")
  }
}
