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
  * is the repository's main correctness claim. A second run checks, at
  * sf0.01, the four queries sf0.001 checks least: a01, whose sf0.001
  * total hides a rounding change, and o30, t08 and t22, which pass on 0
  * rows there. The whole registry at sf0.01 stays a manual run of
  * `graft.Verify` and the checker.
  */
class OracleGateSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  /** Dump `only` (every query when empty) of `sf` with Verify's own code
    * and check it with `dev/check_oracle.py --json`: the checker's exit
    * code, its log, and its per-query results by name.
    */
  private def gate(sf: String, only: Set[String]): (Int, String, Map[String, JsonNode]) = {
    val probe = try Seq("python3", "-c", "import duckdb, pandas").!(ProcessLogger(_ => ()))
      catch { case e: java.io.IOException => fail(s"the oracle gate needs python3: ${e.getMessage}") }
    assert(probe == 0, "the oracle gate needs python3 with duckdb and pandas")
    val out = TestSpark.tmpDir("oracle-gate")
    Verify.dump(TestSpark.spark, sf, s"$out/dump", only)
    val log = new StringBuilder
    val select = if (only.isEmpty) Nil else Seq("--only", only.toSeq.sorted.mkString(","))
    val rc = (Seq("python3", "dev/check_oracle.py", sf, s"$out/dump", "--json", s"$out/results.json") ++ select)
      .!(ProcessLogger(l => log.append(l).append('\n'), l => log.append(l).append('\n')))
    // an --only run records its selection under "only"
    val results = Json.read[JsonNode](TestSpark.spark, s"$out/results.json")
      .properties.asScala.collect { case e if e.getKey != "only" => e.getKey -> e.getValue }.toMap
    (rc, log.toString, results)
  }

  private def named(results: Map[String, JsonNode])(p: JsonNode => Boolean) =
    results.collect { case (n, r) if p(r) => n.takeWhile(_ != '_') }.toSet

  private def failures(log: String) = log.linesIterator.filter(_.startsWith("[FAIL")).mkString("\n")

  test("every registry query matches its DuckDB oracle at sf0.001") {
    val (rc, log, results) = gate(sfDir, Set.empty)
    val pass = named(results)(_.path("match").asText == "true")
    val failed = named(results)(_.path("match").asText == "false")
    assert(rc == 0 && failed.isEmpty, s"oracle gate failed on ${failed.toSeq.sorted.mkString(", ")}:\n${failures(log)}")
    assert(pass.size == 141, s"${pass.size} pass, expected 141:\n${log.takeRight(2000)}")
    assert(named(results)(_.path("method").asText == "oracle_infeasible").isEmpty, "an oracle timed out")
    assert(named(results)(_.path("method").asText == "rows_only") == Set("x04", "x05"))
    // a pass on 0 rows checks the schema only: a change to this list must
    // show in the diff
    assert(named(results)(r => r.path("match").asText == "true" && r.path("rows").asLong == 0) ==
      Set("o03", "o30", "t08", "t22"))
  }

  test("the queries sf0.001 checks least match their oracles on rows at sf0.01") {
    // a01's sf0.001 total ends in 0 at the second decimal, so its
    // rounding goes unseen there; o30, t08 and t22 pass on 0 rows there
    val only = Set("a01_kpis", "o30_embedding_neardup", "t08_nation_volume", "t22_qualified_suppliers")
    val (rc, log, results) = gate("/root/testdata/sf0.01", only)
    assert(results.keySet == only, results.keySet)
    val passOnRows = named(results)(r => r.path("match").asText == "true" && r.path("rows").asLong > 0)
    assert(rc == 0 && passOnRows == only.map(_.takeWhile(_ != '_')),
      s"passed on rows: ${passOnRows.toSeq.sorted.mkString(", ")}:\n${failures(log)}")
  }
}
