package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's pure parts — the per-run pair estimator, the crawl gate, the
  * regression bars and the artifact's `crawl` object (no Spark involved). */
class BenchPairSpec extends AnyFunSuite {
  import Bench.Leg

  /** (N, 4N) legs draining 100k pages in `sN` / `s4` seconds. */
  private def pair(sN: Double, s4: Double): (Leg, Leg) =
    (Leg(100000L, sN, 4.0), Leg(100000L, s4, 2.0))

  test("regression bars: per-query and suite violations are reported, clean run is empty") {
    // bars pinned in BASELINE.md "Regression bars"; the artifact carries
    // violations mechanically so a plan regression in a heavy query is
    // visible without re-reading the prose
    val clean = Seq("q21_minhash_lsh" -> 1.8, "q95_dup_spans" -> 4.4,
      "q73_image_dup_clusters" -> 2.0, "q01_agg" -> 0.4)
    assert(Bench.barViolations(clean).isEmpty)
    val bad = Seq("q21_minhash_lsh" -> 11.2, "q95_dup_spans" -> 4.4,
      "q73_image_dup_clusters" -> 2.0, "q01_agg" -> 1.0)
    val v = Bench.barViolations(bad)
    assert(v.exists(_.startsWith("q21_minhash_lsh:11.20>10.0")), v.toString)
    assert(v.exists(_.startsWith("total:18.60>18.0")), v.toString)
    // a query with no bar never violates
    assert(!v.exists(_.startsWith("q01")))
  }

  test("barViolationsJson: real array only at sf0.1, not_checked elsewhere") {
    val clean = Seq("q21_minhash_lsh" -> 1.8, "q95_dup_spans" -> 4.0)
    assert(Bench.barViolationsJson("/root/testdata/sf0.1", clean) == "[]")
    assert(Bench.barViolationsJson("/root/testdata/sf0.1/", clean) == "[]")
    val bad = Seq("q21_minhash_lsh" -> 11.0, "q95_dup_spans" -> 4.0)
    assert(Bench.barViolationsJson("/root/testdata/sf0.1", bad)
      .contains("q21_minhash_lsh:11.00>10.0"))
    // any other sf must NOT read as "checked and clean"
    assert(Bench.barViolationsJson("target/testdata/sf1.0", clean) == "\"not_checked\"")
    assert(Bench.barViolationsJson("/root/testdata/sf0.01", bad) == "\"not_checked\"")
  }

  test("crawl pair-median bar: flagged below 0.8, clean at/above, absent without pairs") {
    // BASELINE.md's table lists "crawl pair-median >= 0.8" — the
    // artifact must flag its violation mechanically like the query bars
    assert(Bench.crawlViolations(pairMedian = 0.75, nCleanPairs = 12) ==
      Seq("crawl_pair_median:0.750<0.8"))
    assert(Bench.crawlViolations(0.80, 12).isEmpty)
    assert(Bench.crawlViolations(0.841, 53).isEmpty)
    // no clean pairs -> no median exists -> nothing to flag (the
    // artifact's n_clean_pairs:0 carries that state)
    assert(Bench.crawlViolations(-1.0, 0).isEmpty)
    // the crawl entry joins the sf0.1 array and forces a real array at
    // any other sf (crawl bars are sf-independent)
    val clean = Seq("q21_minhash_lsh" -> 1.8)
    assert(Bench.barViolationsJson("/root/testdata/sf0.1", clean,
      Bench.crawlViolations(0.75, 10)) == "[\"crawl_pair_median:0.750<0.8\"]")
    assert(Bench.barViolationsJson("target/testdata/sf1.0", clean,
      Bench.crawlViolations(0.75, 10)) == "[\"crawl_pair_median:0.750<0.8\"]")
    assert(Bench.barViolationsJson("target/testdata/sf1.0", clean,
      Bench.crawlViolations(0.85, 10)) == "\"not_checked\"")
  }

  test("sf gating is exact-segment: xsf0.1 and doubled slashes do not calibrate") {
    val clean = Seq("q21_minhash_lsh" -> 1.8)
    // a dir merely ENDING in the substring must not turn the bars on
    assert(Bench.barViolationsJson("/data/xsf0.1", clean) == "\"not_checked\"")
    // a doubled trailing slash must not turn them off
    assert(Bench.barViolationsJson("/root/testdata/sf0.1//", clean) == "[]")
  }

  test("pairEstimate: median and spread for odd and even K") {
    val (m3, sp3) = Bench.pairEstimate(Seq(0.90, 0.78, 0.84))
    assert(math.abs(m3 - 0.84) < 1e-12)
    assert(math.abs(sp3 - 0.12) < 1e-12)
    // even K: mean of the middle two
    val (m4, sp4) = Bench.pairEstimate(Seq(0.80, 0.70, 0.90, 0.86))
    assert(math.abs(m4 - 0.83) < 1e-12)
    assert(math.abs(sp4 - 0.20) < 1e-12)
    assert(Bench.pairEstimate(Seq(0.81)) == (0.81, 0.0))
    assertThrows[IllegalArgumentException](Bench.pairEstimate(Nil))
    // a pair's efficiency is (rate4N / rateN) / 4
    val (n, n4) = pair(64.0, 16.0)
    assert(math.abs(Bench.pairEfficiency(n, n4) - 1.0) < 1e-12)
  }

  test("a drain regression is visible: 4N drains 20% slower flag the run median") {
    // pairs at ~0.84, as on a healthy tree
    val healthy = Seq(pair(64.0, 19.0), pair(66.0, 19.6), pair(63.5, 19.0))
    val (before, _) = Bench.pairEstimate(healthy.map { case (n, n4) => Bench.pairEfficiency(n, n4) })
    assert(before > 0.83 && before < 0.85, before)
    assert(Bench.crawlViolations(before, healthy.size).isEmpty)
    // the same run with every 4N drain 20% slower: no pair can be dropped
    // as dirty, so the median moves with the code and the gate fires
    val slowed = healthy.map { case (n, n4) => (n, n4.copy(secs = n4.secs * 1.2)) }
    val (after, _) = Bench.pairEstimate(slowed.map { case (n, n4) => Bench.pairEfficiency(n, n4) })
    assert(math.abs(after - before / 1.2) < 1e-9)
    val v = Bench.crawlViolations(after, slowed.size)
    assert(v == Seq(f"crawl_pair_median:$after%.3f<0.8"), v.toString)
  }

  test("crawlJson: every surviving key present, dropped keys absent, output parses") {
    val pairs = Seq(pair(66.0, 19.0), pair(64.0, 19.5), pair(65.0, 20.0))
    val bfs = Leg(100000L, 30.0, 3.0)
    val json = Bench.crawlJson(100000, 1, pairs, bfs)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val surviving = Seq("mode", "pages", "n_cores", "4n_cores", "urls_per_sec_n",
      "urls_per_sec_4n", "scaling_efficiency", "fetched_n", "fetched_4n", "secs_n",
      "secs_4n", "init_secs_n", "init_secs_4n", "legs_n_secs", "legs_4n_secs",
      "bfs_pages", "bfs_secs", "bfs_urls_per_sec_4n",
      "pair_efficiencies", "scaling_efficiency_run_median", "scaling_efficiency_run_spread")
    surviving.foreach(k => assert(node.has(k), s"missing $k in $json"))
    val dropped = Seq("host_probe", "host_bw_", "warmup_best_", "_best",
      "scaling_efficiency_pair_median", "n_clean_pairs")
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(node.fieldNames()).asScala.toSeq
    dropped.foreach(d => assert(!names.exists(_.contains(d)), s"dropped key $d in $json"))
    assert(names.size == surviving.size)
    // per-side minima: 64.0 s (N) and 19.0 s (4N)
    assert(node.get("secs_n").asDouble == 64.0 && node.get("secs_4n").asDouble == 19.0)
    assert(math.abs(node.get("scaling_efficiency").asDouble - 0.842) < 1e-9)
    assert(node.get("4n_cores").asInt == 4 && node.get("mode").asText == "frontier_drain")
    // legs in run order, one efficiency per pair, gated median in between
    assert(node.get("legs_4n_secs").toString == "[19.0,19.5,20.0]")
    assert(node.get("pair_efficiencies").size == pairs.size)
    assert(math.abs(node.get("scaling_efficiency_run_median").asDouble - 0.821) < 1e-9)
    assert(math.abs(node.get("scaling_efficiency_run_spread").asDouble - 0.056) < 1e-9)
  }
}
