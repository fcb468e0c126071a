package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The bench must record failures per query, never as fast successes
 * (round-1 verdict: a swallowed exception benched as a -1s success). */
class BenchContractSpec extends AnyFunSuite with SparkFixture {

  private val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ok_query" -> ((s, d) => s.read.parquet(s"$d/region.parquet")),
    "broken_query" -> ((s, _) => s.read.parquet("/nonexistent/nowhere.parquet")))

  test("a failing query is recorded under errors, not timed as success") {
    val results = Bench.timeQueries(spark, "/root/testdata/sf0.001", queries)
    val byName = results.map(r => r._1 -> r).toMap
    assert(byName("ok_query")._3.isEmpty)
    assert(byName("broken_query")._3.isDefined)
    val json = Bench.toJson(results, "/root/testdata/sf0.001")
    assert(json.contains(""""errors":{"""))
    // keys are shortened to the pre-'_' prefix (tail-capture budget: full
    // names pushed the contract line past the driver's 2000-byte window)
    assert(json.contains(""""broken":"""))
    assert(json.contains(""""ok":"""))
    // the failed query's time is excluded from the reported total; the
    // line prints seconds rounded to 3 decimals (tail-capture budget:
    // the driver keeps the LAST 2000 bytes and sbt's trailer follows)
    val total = """"value":([0-9.]+)""".r.findFirstMatchIn(json).get.group(1).toDouble
    assert(math.abs(total - byName("ok_query")._2) <= 5e-4)
    assert(!json.matches(""".*"value":[0-9]+\.[0-9]{4,}.*"""),
      "per-line seconds must stay at <= 3 decimals")
    // escaping keeps the line a single valid JSON object (driver parses it)
    assert(!json.exists(_ < ' '))
  }

  test("toJson: colliding prefixes fall back to full names; non-finite is 0") {
    val res = Seq(("a_one", 1.0, None), ("a_two", Double.NaN, None))
    val json = Bench.toJson(res, "/x")
    // "a" would be ambiguous for both queries -> full names kept;
    // per-query values print at 2 decimals (the 3-decimal line crossed
    // the driver's 2000-byte tail window at 150+ queries — r16), the
    // headline keeps 3
    assert(json.contains(""""a_one":1.00"""))
    // NaN must format as an explicit 0, not crash the contract line —
    // and must ALSO surface under errors, or a dead metric would be
    // indistinguishable from a genuinely 0-second query
    assert(json.contains(""""a_two":0"""))
    assert(json.contains(""""errors":{"""))
    assert(json.contains(""""a_two":"non-finite"""))
    // the headline total must exclude the non-finite value (NaN absorbs)
    assert(json.contains(""""value":1.000"""))
  }

  test("the contract line records the core count and the applied conf overrides") {
    val res = Seq(("q01_x", 1.0, None))
    val conf = Seq("spark.sql.shuffle.partitions" -> "8", "odd\"key" -> "v")
    val json = Bench.toJson(res, "/x", cpus = Some(4), conf = conf)
    // the contract keys stay where the driver reads them
    assert(json.startsWith("""{"metric":"total","value":1.000,"unit":"sec","""))
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(tree.get("metric").asText == "total" && tree.get("value").asDouble == 1.0)
    assert(tree.get("queries").get("q01").asDouble == 1.0)
    assert(tree.get("cpus").asInt == 4)
    assert(tree.get("conf").get("spark.sql.shuffle.partitions").asText == "8")
    assert(tree.get("conf").get("odd\"key").asText == "v")
    // no override applied: the key is still there, empty
    val plain = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Bench.toJson(res, "/x", cpus = Some(4)))
    assert(plain.get("conf").size == 0 && plain.get("cpus").asInt == 4)
    val detail = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Bench.toDetailJson(res, "/x", 1, cpus = Some(4), conf = conf))
    assert(detail.get("cpus").asInt == 4 &&
      detail.get("conf").get("spark.sql.shuffle.partitions").asText == "8")
  }

  test("a query that only fails on a later run is still reported failed") {
    var calls = 0
    val flaky: Map[String, (SparkSession, String) => DataFrame] = Map(
      "flaky" -> ((s, d) => {
        calls += 1
        if (calls >= 2) throw new RuntimeException("second-run failure")
        s.read.parquet(s"$d/region.parquet")
      }))
    val res = Bench.timeQueries(spark, "/root/testdata/sf0.001", flaky)
    assert(res.head._3.exists(_.contains("second-run failure")))
  }
}
