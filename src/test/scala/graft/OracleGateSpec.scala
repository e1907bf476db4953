package graft

import com.fasterxml.jackson.databind.JsonNode
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.sys.process._

/** The oracle gate inside the test suite: the whole registry at sf0.001,
  * dumped by Verify's own code, then checked by `dev/check_oracle.py`
  * against the DuckDB oracles (hash-exact values and declared types).
  * The checker's `--json` report is read through the engine's codec.
  *
  * It FAILS, not cancels, without python3 or duckdb: the 141 / 0 floor
  * is the repository's main correctness claim. sf0.01 stays a manual run
  * of `graft.Verify` and the checker.
  */
class OracleGateSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  test("every registry query matches its DuckDB oracle at sf0.001") {
    val probe = try Seq("python3", "-c", "import duckdb, pandas").!(ProcessLogger(_ => ()))
      catch { case e: java.io.IOException => fail(s"the oracle gate needs python3: ${e.getMessage}") }
    assert(probe == 0, "the oracle gate needs python3 with duckdb and pandas")
    val out = TestSpark.tmpDir("oracle-gate")
    Verify.dump(TestSpark.spark, sfDir, s"$out/dump", Set.empty)
    val log = new StringBuilder
    val rc = Seq("python3", "dev/check_oracle.py", sfDir, s"$out/dump", "--json", s"$out/results.json")
      .!(ProcessLogger(l => log.append(l).append('\n'), l => log.append(l).append('\n')))
    val results = Json.read[JsonNode](TestSpark.spark, s"$out/results.json")
      .properties.asScala.map(e => e.getKey -> e.getValue).toMap
    def named(p: JsonNode => Boolean) = results.collect { case (n, r) if p(r) => n.takeWhile(_ != '_') }.toSet
    val pass = named(_.path("match").asText == "true")
    val failed = named(_.path("match").asText == "false")
    val failures = log.toString.linesIterator.filter(_.startsWith("[FAIL")).mkString("\n")
    assert(rc == 0 && failed.isEmpty, s"oracle gate failed on ${failed.toSeq.sorted.mkString(", ")}:\n$failures")
    assert(pass.size == 141, s"${pass.size} pass, expected 141:\n${log.takeRight(2000)}")
    assert(named(_.path("method").asText == "oracle_infeasible").isEmpty, "an oracle timed out")
    assert(named(_.path("method").asText == "rows_only") == Set("x04", "x05"))
    // a pass on 0 rows checks the schema only: a change to this list must
    // show in the diff
    assert(named(r => r.path("match").asText == "true" && r.path("rows").asLong == 0) ==
      Set("o03", "o30", "t08", "t22"))
  }
}
