package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Bench's compact last stdout line stays within the driver's 2 KB budget
  * with queries and errors together, and parses as JSON. No session. */
class BenchLineSpec extends AnyFunSuite {

  private val head = """"metric":"total","value":258.512,"unit":"sec""""
  private val tail = """"sf":"/data/tpch/sf0.1","build_all_sec":94.012,""" +
    """"build_tables":50,"stream_events_per_sec":57123.456,""" +
    """"synth_rows_per_sec":9612345.678,"versioned_rows_per_sec":26412.345,""" +
    """"host_page_mbps":625.8"""

  private val results: Seq[(String, Double)] =
    Registry.queries.keys.toSeq.sorted.zipWithIndex
      .map { case (q, i) => q -> (0.05 + (i * 37 % 146) * 0.083) }

  private def parse(line: String) = new ObjectMapper().readTree(line)

  test("146 queries + 16 long-named errors: at most 2,000 bytes, valid JSON, every error shown") {
    assert(results.size == 146)
    val errors = (1 to 16).map(i =>
      f"embedding_dependent_query_with_a_rather_long_name_$i%02d" -> "AnalysisException")
    val line = Bench.compactLine(head, results, errors, tail)
    assert(line.getBytes("UTF-8").length <= 2000, line.length)
    val j = parse(line)
    assert(j.get("errors").size == 16 && j.get("errors_not_shown").asInt == 0)
    val shown = j.get("queries").fieldNames.asScala.toSeq
    assert(shown.nonEmpty && shown.size == j.get("queries_shown").asInt)
    assert(j.get("queries_run").asInt == 146)
    // slowest first, from the slowest on
    val slowest = results.sortBy(-_._2).map(_._1)
    assert(shown.head == slowest.head && shown == slowest.filter(shown.toSet))
    assert(j.get("metric").asText == "total" && j.get("host_page_mbps").asDouble == 625.8)
  }

  test("errors past the budget are counted, not printed") {
    val errors = results.map { case (q, _) => (q + "_" * 40) -> "AnalysisException" }
    val line = Bench.compactLine(head, results, errors, tail)
    assert(line.getBytes("UTF-8").length <= 2000, line.length)
    val j = parse(line)
    val shownErrors = j.get("errors").size
    assert(shownErrors > 0 && shownErrors + j.get("errors_not_shown").asInt == 146)
  }

  test("no errors: the queries fill the budget") {
    val line = Bench.compactLine(head, results, Nil, tail)
    val bytes = line.getBytes("UTF-8").length
    assert(bytes <= 2000 && bytes > 1950, bytes)
    val j = parse(line)
    assert(j.get("errors").size == 0 && j.get("errors_not_shown").asInt == 0)
    assert(j.get("queries_shown").asInt < 146)
  }
}
