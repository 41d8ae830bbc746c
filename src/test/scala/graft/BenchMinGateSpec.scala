package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-over-round FULL-SUITE regression gate on the isolated-draw
  * artifacts (r11 verdict item 6, extending SweepRatioGateSpec's
  * epoch-aware pattern to the whole Registry): compares the two newest
  * `BENCH_MIN_r{N}.json` files that carry the `suite_isolated_draws`
  * protocol — per-query minimum over 3 fresh-JVM draws, per-draw host
  * probes — instead of the driver's single-epoch bench line, so a real
  * regression can't hide behind (or be faked by) host-epoch luck.
  *
  * Gates: the suite's total 3-draw minimum must not grow >30%, and no
  * single query's 3-draw minimum may grow >2x while costing >=1 s — both
  * judged newest vs previous round, with BOTH rounds' per-draw probe
  * series in the failure message (the epoch evidence a reader needs to
  * distinguish an engine regression from a degraded host).
  *
  * With fewer than two comparable artifacts the gate is vacuous (first
  * round of the protocol) — it activates by itself once the next round's
  * refresh is committed. */
class BenchMinGateSpec extends AnyFunSuite {

  private case class Art(round: Int, totalMin: Double, probes: Seq[Double],
      queries: Map[String, Double], path: String)

  private def parse(f: java.io.File): Option[Art] = {
    val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    if (!txt.contains("\"suite_isolated_draws\"")) return None
    val round = """BENCH_MIN_r(\d+)\.json""".r
      .findFirstMatchIn(f.getName).get.group(1).toInt
    val totalMin = """"total_min_sec"\s*:\s*([0-9.eE+-]+)""".r
      .findFirstMatchIn(txt).map(_.group(1).toDouble)
      .getOrElse(fail(s"no total_min_sec in ${f.getName}"))
    val probes = """"run_probes_mbps"\s*:\s*\[([^\]]*)\]""".r
      .findFirstMatchIn(txt).map(_.group(1))
      .getOrElse(fail(s"no run_probes_mbps in ${f.getName} — every draw " +
        "must carry its epoch probe"))
      .split(",").map(_.trim).filter(_.nonEmpty).map(_.toDouble).toSeq
    val qObj = """"queries_min_sec"\s*:\s*\{([^}]*)\}""".r
      .findFirstMatchIn(txt).map(_.group(1))
      .getOrElse(fail(s"no queries_min_sec in ${f.getName}"))
    val queries = """"([^"]+)"\s*:\s*([0-9.eE+-]+)""".r.findAllMatchIn(qObj)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    Some(Art(round, totalMin, probes, queries, f.getName))
  }

  test("suite 3-draw minima do not regress round-over-round") {
    val arts = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("BENCH_MIN_r\\d+\\.json"))
      .flatMap(parse).sortBy(_.round)
    assert(arts.nonEmpty,
      "no suite_isolated_draws artifact found — run " +
        "`graft.tools.Probe isolated _suite 3` and commit its last line as " +
        "BENCH_MIN_r{N}.json")
    if (arts.length < 2) {
      info(s"only ${arts.head.path} carries the isolated-draw protocol — " +
        "gate activates when the next round's refresh lands")
      cancel("single comparable artifact; nothing to compare yet")
    }
    val prev = arts(arts.length - 2)
    val cur = arts.last
    def epoch = s"epoch evidence: ${prev.path} probes " +
      s"${prev.probes.mkString("[", ", ", "]")} MB/s vs ${cur.path} probes " +
      s"${cur.probes.mkString("[", ", ", "]")} MB/s — min-of-draws already " +
      "discards each round's worst epochs; if the newer probes are " +
      "uniformly lower the host degraded, otherwise suspect the code"
    assert(cur.totalMin <= prev.totalMin * 1.30,
      f"suite total 3-draw minimum regressed ${prev.totalMin}%.1f s " +
        f"(r${prev.round}) -> ${cur.totalMin}%.1f s (r${cur.round}), " +
        f"${cur.totalMin / prev.totalMin}%.2fx > 1.30x bar. $epoch")
    val regressed = cur.queries.toSeq.flatMap { case (q, sec) =>
      prev.queries.get(q).collect {
        case p if sec > p * 2.0 && sec >= 1.0 => (q, p, sec)
      }
    }.sortBy(-_._3)
    assert(regressed.isEmpty,
      s"per-query 3-draw minima regressed >2x at >=1 s: " +
        regressed.map { case (q, p, c) => f"$q $p%.2f->$c%.2f s" }
          .mkString("; ") + s". $epoch")
  }
}
