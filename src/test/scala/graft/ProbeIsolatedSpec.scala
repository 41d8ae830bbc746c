package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins the last line of `Probe isolated _suite`: aggregated from three
  * canned child lines (no JVM is forked), it is valid JSON and carries the
  * fields BenchMinGateSpec reads — `total_min_sec`, `run_probes_mbps` and
  * `queries_min_sec` — so the line can be committed as the next
  * `BENCH_MIN_r{N}.json` as it stands. */
class ProbeIsolatedSpec extends AnyFunSuite {

  private val draws = Seq(
    """{"leg":"_suite","value":12.0,"host_page_mbps":400.5,"queries":{"a":5.0,"b":7.0}}""",
    """{"leg":"_suite","value":10.0,"host_page_mbps":350.0,"queries":{"a":6.0,"b":4.0}}""",
    """{"leg":"_suite","value":11.5,"host_page_mbps":380.25,"queries":{"a":4.5,"b":7.0}}""")

  private val line = tools.Probe.suiteLine(draws,
    """"sf":"/data/sf0.1","cpus":4,"heap":"3g","n_draws":3""")

  test("suite line carries the gate's keys, per-draw probes and per-query minima") {
    val j = new ObjectMapper().readTree(line)
    assert(j.get("metric").asText == "suite_isolated_draws")
    assert(j.get("total_min_sec").asDouble == 10.0)
    assert(j.get("total_median_sec").asDouble == 11.5)
    assert(j.get("runs_total_sec").elements.asScala.map(_.asDouble).toSeq ==
      Seq(12.0, 10.0, 11.5))
    assert(j.get("run_probes_mbps").elements.asScala.map(_.asDouble).toSeq ==
      Seq(400.5, 350.0, 380.25))
    val mins = j.get("queries_min_sec")
    assert(mins.fieldNames.asScala.toSeq == Seq("a", "b"))
    assert(mins.get("a").asDouble == 4.5 && mins.get("b").asDouble == 4.0)
    // the gate's own patterns (BenchMinGateSpec.parse) find every field
    Seq(""""total_min_sec"\s*:\s*([0-9.eE+-]+)""",
      """"run_probes_mbps"\s*:\s*\[([^\]]*)\]""",
      """"queries_min_sec"\s*:\s*\{([^}]*)\}""")
      .foreach(p => assert(p.r.findFirstIn(line).isDefined, s"gate cannot read $p"))
  }

  test("median is the true median: the mean of the middle two for even n") {
    assert(tools.Probe.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(tools.Probe.median(Seq(4.0, 1.0, 10.0, 2.0)) == 3.0)
  }
}
