package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench tool's regression-attribution guard: baseline parsing must
  * read both artifact shapes (Bench stdout, the driver's escaped-`tail`
  * wrapper) and never mistake envelope keys for query times. */
class BenchSpec extends AnyFunSuite {

  test("parseBaseline reads Bench stdout and the driver wrapper, skipping " +
    "envelope keys") {
    val stdout =
      """{"metric":"total","value":66.0,"unit":"sec","queries":{"q01_count_by_type":0.18,"x111_incremental_mv":3.7},"retimed":[],"repeat":2,"single_pass_total":68.125,"sf":"/d"}"""
    assert(Bench.parseBaseline(stdout) ==
      Map("q01_count_by_type" -> 0.18, "x111_incremental_mv" -> 3.7))
    // the driver wrapper: numeric envelope keys + an ESCAPED tail
    val wrapper =
      """{"n": 7, "rc": 0, "cpus": 32, "sf": 0.1,
        | "tail": "s\":0.17,\"x46_anomaly_score\":0.178,\"x47_leakproof_split\":0.379",
        | "parsed": {"metric": "total", "value": 66.0, "n_queries": 177}}""".stripMargin
    val got = Bench.parseBaseline(wrapper)
    assert(got == Map("x46_anomaly_score" -> 0.178,
      "x47_leakproof_split" -> 0.379), got.toString)
    // truncated leading fragment (s\":0.17) must not produce a bogus key
    assert(!got.contains("s"))
    assert(Bench.parseBaseline("") == Map.empty)
    // the real prior-round artifact parses to a non-trivial map
    val f = new java.io.File("BENCH_r07.json")
    if (f.isFile) {
      val src = scala.io.Source.fromFile(f)
      val real = try Bench.parseBaseline(src.mkString) finally src.close()
      assert(real.size > 20 && real.values.forall(v => v > 0 && v < 600), real.size.toString)
    }
  }

  test("fullBaseline keeps the full map only when it was recorded on the " +
    "benched sf dir") {
    val body =
      """{"queries":{"q01_count_by_type":0.3,"x111_incremental_mv":3.7},"repeat":2,"single_pass_total":4.0,"sf":"/data/sf0.1"}"""
    assert(Bench.fullBaseline(body, "/data/sf0.1") ==
      Map("q01_count_by_type" -> 0.3, "x111_incremental_mv" -> 3.7))
    // an sf0.01 run must not be re-timed against sf0.1 times
    assert(Bench.fullBaseline(body, "/data/sf0.01") == Map.empty)
    // a map that records no sf matches no run
    assert(Bench.fullBaseline("""{"queries":{"q01_count_by_type":0.3}}""",
      "/data/sf0.1") == Map.empty)
    assert(Bench.fullBaseline("", "/data/sf0.1") == Map.empty)
  }
}
