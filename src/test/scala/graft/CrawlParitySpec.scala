package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.corpus.SyntheticWeb
import graft.fetch.{Fetcher, SyntheticFetcher}
import graft.icelite.IceLite
import graft.pipeline.{CrawlConfig, CrawlPipeline}
import graft.urlnorm.UrlCanon

/**
 * The E2E gate (SURVEY.md §5): Spark pipeline vs the sequential oracle —
 * exact frontier (depth, seq, parent) equality, exact fetchlog equality,
 * politeness budgets respected, robots never violated, payload
 * invariants hold, resume-from-snapshot equivalence, and v1 FIFO/BFS
 * order parity when politeness is unconstrained.
 */
class CrawlParitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val web = SyntheticWeb.generate(seed = 42L, nHosts = 12, nPages = 150)
  // waveSeconds=20 keeps politeness deferral observable (budget 4 for a
  // crawl-delay-5 host) while holding the suite to ~10 waves per crawl
  private val conf = CrawlConfig(waveSeconds = 20.0, nPartitions = 8,
    hostSaltTarget = 4, bloomExpectedSeen = 10000)

  private def newPipeline(root: String, c: CrawlConfig = conf): CrawlPipeline = {
    val fetcher: Fetcher = SyntheticFetcher.forWeb(web)
    new CrawlPipeline(spark, new IceLite(root),
      spark.sparkContext.broadcast(fetcher), web.robots, c)
  }

  private lazy val (store, oracle) = {
    val root = Files.createTempDirectory("crawl").toString
    val p = newPipeline(root)
    p.init(web.seeds)
    p.run(maxWaves = 60)
    (new IceLite(root), CrawlOracle.run(web, conf.waveSeconds, conf.defaultDelay, 60))
  }

  test("frontier matches the oracle exactly: url -> (depth, seq, parent, wave)") {
    val got = store.read(spark, "frontier")
      .select($"url", $"depth", $"seq", $"parent", $"wave")
      .as[(String, Int, Long, String, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val want = oracle.frontier.map { case (u, e) => u -> ((e.depth, e.seq.toLong, e.parent, e.wave)) }
    assert(got.size == want.size, s"frontier sizes: got ${got.size} want ${want.size}")
    val diffs = want.collect { case (u, w) if got.get(u) != Some(w) => (u, got.get(u), w) }
    assert(diffs.isEmpty, s"first diffs: ${diffs.take(5)}")
  }

  test("fetchlog matches the oracle exactly: url -> (wave, status, success)") {
    val got = store.read(spark, "fetchlog")
      .select($"url", $"wave", $"status", $"success")
      .as[(String, Int, Int, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val want = oracle.fetches.map { case (u, f) => u -> ((f.wave, f.status, f.success)) }
    assert(got.size == want.size, s"fetchlog sizes: got ${got.size} want ${want.size}")
    val diffs = want.collect { case (u, w) if got.get(u) != Some(w) => (u, got.get(u), w) }
    assert(diffs.isEmpty, s"first diffs: ${diffs.take(5)}")
  }

  test("politeness: per (wave, host) fetch count never exceeds the budget") {
    val robotsByHost = web.robots.map(r => r.host -> r).toMap
    val counts = store.read(spark, "fetchlog")
      .filter($"status" =!= -1) // robots-denied rows are not fetches
      .groupBy($"wave", $"host").agg(count(lit(1)).as("n"))
      .as[(Int, String, Long)].collect()
    counts.foreach { case (w, h, n) =>
      val delay = robotsByHost.get(h).map(_.crawlDelay).getOrElse(conf.defaultDelay)
      val budget = math.max(1L, math.floor(conf.waveSeconds / delay).toLong)
      assert(n <= budget, s"wave $w host $h fetched $n > budget $budget")
    }
  }

  test("robots compliance: disallowed URLs are never fetched, with audit rows") {
    val robotsByHost = web.robots.map(r => r.host -> r).toMap
    val log = store.read(spark, "fetchlog")
      .select($"url", $"host", $"status").as[(String, String, Int)].collect()
    log.foreach { case (u, h, status) =>
      val disallowed = robotsByHost.get(h).exists(_.disallowPrefixes
        .exists(p => UrlCanon.pathOf(u).startsWith(p)))
      if (disallowed) assert(status == -1, s"$u fetched despite robots")
      else assert(status != -1, s"$u denied despite being allowed")
    }
    // the fully-blocked host produced only denied rows and zero images
    val blocked = SyntheticWeb.hostName(2)
    assert(store.read(spark, "images").where($"url".contains(blocked)).count() == 0)
  }

  test("payload invariant: PSNR >= 40 dB (lossy) / lossless exact, captions equal") {
    val rows = store.read(spark, "fetchlog")
      .filter($"success")
      .select($"psnr", $"captionOk", $"fmt").as[(Double, Boolean, String)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (p, cap, fmt) =>
      assert(cap, "caption mismatch")
      if (fmt == "rawg8") assert(p.isPosInfinity, s"lossless payload not exact (psnr=$p)")
      else assert(p >= 40.0, s"qdct psnr=$p")
    }
  }

  test("images table: content-addressed ids, phash matches the corpus within 4 bits") {
    val corpusPhash = web.images.map(i => i.image_id -> i.phash).toMap
    val rows = store.read(spark, "images")
      .filter($"success").select($"image_id", $"url", $"phash").as[(String, String, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, url, ph) =>
      assert(id == SyntheticWeb.imageIdOf(url))
      val want = corpusPhash(id)
      assert(java.lang.Long.bitCount(ph ^ want) <= 10,
        s"phash drift for $url: ${java.lang.Long.bitCount(ph ^ want)} bits")
    }
  }

  test("lineage + metrics are committed per wave with partition attribution") {
    val lineage = store.read(spark, "lineage")
    assert(lineage.where($"stage" === "fetch").count() > 0)
    val metrics = store.read(spark, "metrics")
    val logged = store.read(spark, "fetchlog").filter($"status" =!= -1).count()
    val counted = metrics.agg(sum($"fetched") + sum($"failed")).as[Long].head()
    assert(counted == logged, s"metrics count $counted != fetchlog $logged")
  }

  test("indexed_docs carry the deterministic crawl_date stamp (C5 format)") {
    val rows = store.read(spark, "indexed_docs")
      .select($"crawl_date", $"crawl_wave").as[(String, Int)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (d, _) =>
      assert(d.matches("""\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}"""), s"bad crawl_date: $d")
    }
    // deterministic crawl clock: the stamp is a pure function of the wave
    assert(rows.groupBy(_._2).forall(_._2.map(_._1).distinct.size == 1))
  }

  test("hot-host salting: a 50%-one-host selection stays within 2x of uniform per partition") {
    // the hot-host shape the salt exists for: one host holds half the
    // selected URLs. Unsalted (host-keyed) partitioning would put 50% of
    // rows in one fetch task; the (host, seq%salt) key must hold every
    // partition's row count within ~2x of uniform AND spread the hot
    // host itself over most partitions.
    val n = 8000
    val rows = (1 to n).map { i =>
      val host = if (i % 2 == 0) "hot.test" else s"h${i % 64}.test"
      (s"http://$host/p/$i", host, 1, i.toLong)
    }
    val sel = CrawlPipeline.selectWithinBudget(
      rows.toDF("url", "host", "depth", "seq").repartition(5), lit(n.toLong))
    val nParts = 16
    val salted = CrawlPipeline.saltedFetchPartitions(sel, nParts, hostSaltTarget = 8)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    try {
      val perPart = salted.rdd
        .mapPartitionsWithIndex((pid, it) => Iterator((pid, it.size))).collect().toMap
      val counts = (0 until nParts).map(perPart.getOrElse(_, 0))
      assert(counts.sum == n)
      assert(counts.max <= 2.0 * n / nParts, s"fetch skew: $counts")
      // the hot host's rows themselves span most partitions (filter is
      // narrow, so partition ids survive it)
      val hotSpread = salted.filter($"host" === "hot.test").rdd
        .mapPartitionsWithIndex((pid, it) => Iterator(pid -> it.size)).collect()
        .count(_._2 > 0)
      assert(hotSpread >= nParts / 2, s"hot host confined to $hotSpread partitions")
    } finally salted.unpersist(blocking = false)
  }

  test("window-derived host counts give the groupBy + broadcast formula's partition ids") {
    // skewed pending set: a hot host with half the rows over three
    // depths, hosts with a 1 s or 5 s delay, seq out of order within a
    // host so the (depth, seq) rank is not the input order
    val n = 6000
    val rows = (1 to n).map { i =>
      val host = if (i % 2 == 0) "hot.test" else s"h${i % 40}.test"
      val delay = if (host.hashCode % 3 == 0) 5.0 else 1.0
      (s"http://$host/p/$i", host, i % 3, ((i * 7919L) % n) + 1, delay)
    }
    val allowed = rows.toDF("url", "host", "depth", "seq", "crawl_delay").repartition(7)
    val nParts = 16
    val target = 8
    def pids(df: DataFrame): Map[String, Int] = df.select($"url").rdd
      .mapPartitionsWithIndex((pid, it) => it.map(r => r.getString(0) -> pid))
      .collect().toMap
    // the formula saltedFetchPartitions used before the count moved into
    // the rank window: re-aggregate the selection, broadcast it back
    def legacy(selected: DataFrame): DataFrame = {
      val hc = selected.groupBy($"host").agg(count(lit(1)).as("__hc"))
      selected.join(broadcast(hc), Seq("host"))
        .withColumn("salt", greatest(lit(1L), floor($"__hc" / lit(target))))
        .repartition(nParts, $"host", pmod($"seq", $"salt"))
    }
    for ((waveSeconds, binds) <- Seq(20.0 -> true, 1e6 -> false)) {
      val budget = greatest(lit(1L), floor(lit(waveSeconds) / $"crawl_delay"))
      val sel = CrawlPipeline.selectWithinBudget(allowed, budget)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      try {
        val nSel = sel.count()
        assert((nSel < n) == binds, s"waveSeconds=$waveSeconds selected $nSel of $n")
        // host_selected is the host's row count in the selection itself
        val counted = sel.groupBy($"host").agg(count(lit(1)).as("c"), max($"host_selected").as("h"),
          min($"host_selected").as("l")).as[(String, Long, Long, Long)].collect()
        counted.foreach { case (h, c, hi, lo) => assert(hi == c && lo == c, s"$h: $c vs $lo..$hi") }
        val got = pids(CrawlPipeline.saltedFetchPartitions(sel, nParts, target))
        val want = pids(legacy(sel.drop("host_selected")))
        assert(got.size == nSel)
        assert(got == want, s"waveSeconds=$waveSeconds: partition ids differ")
      } finally sel.unpersist(blocking = false)
    }
  }

  test("crawl_date rendering is session-timezone independent (UTC-pinned)") {
    // the documented resume guarantee ("re-runs commit identical rows")
    // must hold even when the resume runs under a different session
    // timezone — the rendering is civil arithmetic, not date_format(ts)
    val waves = Seq(0, 1, 86399, 86400, 123456)
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
    val want = waves.map(w =>
      fmt.format(java.time.Instant.ofEpochSecond(CrawlPipeline.CrawlEpoch + w)))
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      for (tz <- Seq("UTC", "America/New_York", "Asia/Kolkata")) {
        spark.conf.set("spark.sql.session.timeZone", tz)
        val got = waves.toDF("wave")
          .select(CrawlPipeline.crawlDateCol($"wave")).as[String].collect().toSeq
        assert(got == want, s"tz=$tz")
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  // the suite's crawl run wave by wave, with each wave's Spark job count:
  // (wave, pages fetched, jobs, URLs discovered, any robots denial)
  private lazy val jobsPerWave: Vector[(Int, Long, Int, Long, Boolean)] = {
    val root = Files.createTempDirectory("crawlJ").toString
    val p = newPipeline(root)
    p.init(web.seeds)
    val perWave = Iterator.from(1).map { w =>
      var n = 0L
      val jobs = SparkTestBase.jobsDuring { n = p.runWave(w) }
      (w, n, jobs)
    }.takeWhile(_._2 > 0).toVector
    val st = new IceLite(root)
    val denied = st.read(spark, "fetchlog").filter($"status" === -1)
      .select($"wave").as[Int].collect().toSet
    val newUrls = st.history.map(st.commitMeta)
      .flatMap(m => m.get("new_urls").map(m("wave").toInt -> _.toLong)).toMap
    perWave.map { case (w, n, jobs) => (w, n, jobs, newUrls(w), denied(w)) }
  }

  test("job budget: a politeness-bound tail wave that discovers and denies nothing runs <= 14 jobs") {
    // a tail wave (no discoveries, no denials) runs only the wave's fixed
    // path — pending anti-join, politeness rank, salted fetch + images
    // stage, discover and seen-filter, the commit's writes — so a change
    // that adds a Spark job to every wave shows here
    val tail = jobsPerWave.filter { case (_, _, _, nNew, denied) => nNew == 0 && !denied }
    assert(tail.nonEmpty, s"no tail wave in $jobsPerWave")
    tail.foreach { case (w, n, jobs, _, _) =>
      assert(jobs <= 14, s"tail wave $w ($n pages) ran $jobs Spark jobs; all waves: $jobsPerWave")
    }
  }

  test("job budget: a discovering wave runs <= 22 jobs") {
    // the tail wave's path plus the seq assignment: isEmpty on the novel
    // set, the rank's range sample, shuffle and partition-sum pass, the
    // parents broadcast and the staged frontier write. The first wave
    // also builds the seen-set sketch from the frontier: one job more.
    val discovering = jobsPerWave.filter(_._4 > 0)
    assert(discovering.size > 1, s"no discovering wave after the first in $jobsPerWave")
    discovering.foreach { case (w, n, jobs, nNew, _) =>
      val budget = if (w == 1) 23 else 22
      assert(jobs <= budget, s"wave $w ($n pages, $nNew new) ran $jobs Spark jobs; all waves: $jobsPerWave")
    }
  }

  test("no RDD persisted by init or a wave outlives the call") {
    // init (the seed rank), then discovering waves with robots
    // rules (the robots-joined pending set, candidates, the seq rank,
    // perPart), through both seen-filter paths (the bucketed one adds its
    // classified checkpoint)
    val sc = spark.sparkContext
    def leftBy(body: => Unit): Set[String] = {
      val before = sc.getPersistentRDDs.keySet
      body
      (sc.getPersistentRDDs -- before).values.map(_.toString).toSet
    }
    for (c <- Seq(conf, conf.copy(seenBucketsThreshold = 0L, seenBuckets = 16))) {
      val root = Files.createTempDirectory("crawlM").toString
      val p = newPipeline(root, c)
      val afterInit = leftBy(p.init(web.seeds))
      assert(afterInit.isEmpty, s"init left $afterInit")
      (1 to 3).foreach { w =>
        val left = leftBy(p.runWave(w))
        assert(left.isEmpty, s"wave $w left $left")
      }
      val st = new IceLite(root)
      assert(st.history.map(st.commitMeta).exists(_.get("new_urls").exists(_ != "0")),
        "no wave discovered anything")
    }
  }

  test("resume-from-snapshot: killing after 2 waves and resuming is equivalent") {
    val rootA = Files.createTempDirectory("crawlA").toString
    val pA = newPipeline(rootA)
    pA.init(web.seeds)
    pA.runWave(1); pA.runWave(2)
    // "crash": drop the pipeline; resume from the committed head only
    val pResumed = newPipeline(rootA)
    pResumed.run(maxWaves = 60)

    val a = new IceLite(rootA)
    def key(s: IceLite) = s.read(spark, "frontier")
      .select($"url", $"depth", $"seq", $"wave").as[(String, Int, Long, Int)]
      .collect().toSet
    assert(key(a) == store.read(spark, "frontier")
      .select($"url", $"depth", $"seq", $"wave").as[(String, Int, Long, Int)]
      .collect().toSet)
    def flog(s: IceLite) = s.read(spark, "fetchlog")
      .select($"url", $"wave", $"status").as[(String, Int, Int)].collect().toSet
    assert(flog(a) == flog(store))
  }

  test("bucketed seen-set path (10^10 scale J1): identical frontier + fetchlog") {
    // force every wave through UrlSeen.filterNewBucketed (sketch TABLE +
    // cogroup probe + exact anti-join) instead of the broadcast sketch
    val root = Files.createTempDirectory("crawlB").toString
    val p = newPipeline(root, conf.copy(seenBucketsThreshold = 0L, seenBuckets = 16))
    p.init(web.seeds)
    p.run(maxWaves = 60)
    val b = new IceLite(root)
    def front(s: IceLite) = s.read(spark, "frontier")
      .select($"url", $"depth", $"seq", $"wave").as[(String, Int, Long, Int)]
      .collect().toSet
    def flog(s: IceLite) = s.read(spark, "fetchlog")
      .select($"url", $"wave", $"status").as[(String, Int, Int)].collect().toSet
    assert(front(b) == front(store), "bucketed frontier must equal broadcast-path frontier")
    assert(flog(b) == flog(store), "bucketed fetchlog must equal broadcast-path fetchlog")
  }

  test("long crawl: >50 politeness-bound waves stay oracle-exact (state hygiene)") {
    // 3 hosts with budget 1/host/wave forces ~55 waves over 160 pages —
    // exercises the per-wave state re-resolution (no union-depth growth,
    // no checkpoint accumulation) far past typical wave counts
    // compactEveryWaves=16: the crawl must stay oracle-exact THROUGH
    // periodic log-table rewrites (compaction-transparency), and the
    // final fetchlog must hold far fewer data dirs than waves ran
    val longWeb = SyntheticWeb.generate(seed = 7L, nHosts = 3, nPages = 160)
    val c = CrawlConfig(waveSeconds = 1.0, nPartitions = 4,
      hostSaltTarget = 4, bloomExpectedSeen = 10000, compactEveryWaves = 16)
    val root = Files.createTempDirectory("crawlL").toString
    val fetcher: Fetcher = SyntheticFetcher.forWeb(longWeb)
    val p = new CrawlPipeline(spark, new IceLite(root),
      spark.sparkContext.broadcast(fetcher), longWeb.robots, c)
    p.init(longWeb.seeds)
    val lastWave = p.run(maxWaves = 200)
    assert(lastWave > 50, s"expected >50 waves, got $lastWave")
    val want = CrawlOracle.run(longWeb, c.waveSeconds, c.defaultDelay, 200)
    val st = new IceLite(root)
    val got = st.read(spark, "frontier")
      .select($"url", $"depth", $"seq", $"wave").as[(String, Int, Long, Int)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val wantF = want.frontier.map { case (u, e) => u -> ((e.depth, e.seq.toLong, e.wave)) }
    assert(got == wantF, "long-crawl frontier must stay oracle-exact")
    // fetchlog saw one delta dir per wave (>50) pre-compaction; the
    // periodic rewrite must have collapsed all but the post-compaction tail
    val gotFlog = st.read(spark, "fetchlog")
      .select($"url", $"wave", $"status").as[(String, Int, Int)].collect().toSet
    val wantFlog = want.fetches.map { case (u, f) => (u, f.wave, f.status) }.toSet
    assert(gotFlog == wantFlog, "compacted fetchlog must stay oracle-exact")
    val (_, _, flogFiles) = st.tableStat("fetchlog").get
    assert(flogFiles < lastWave / 2,
      s"fetchlog has $flogFiles files after $lastWave waves — compaction did not run")
  }

  test("robots Allow lines: ordered first-match-wins verdicts match RobotFileParser") {
    // `Allow: /p/1` before `Disallow: /p` — inexpressible in the
    // prefix-only projection (which would deny everything under /p);
    // the ordered-rules column predicate must carve the Allow out
    // exactly as RobotFileParser does, and the crawl must stay
    // oracle-exact under the ordered semantics.
    val aWeb = SyntheticWeb.generate(seed = 21L, nHosts = 3, nPages = 60)
    val h0 = SyntheticWeb.hostName(0)
    val body = "User-agent: *\nAllow: /p/1\nDisallow: /p\n"
    val rule = graft.robots.RobotsTxt.toRule(h0, body)
    assert(rule.rules.exists(_.allow), "toRule must carry the Allow line")
    val parsed = graft.robots.RobotsTxt.parse(body)
    // explicit seeds on both sides of the carve so the test cannot
    // silently skip it if the link graph misses /p/1*
    val seeds = aWeb.seeds ++ Seq(s"http://$h0/p/1", s"http://$h0/p/2")
    val c = CrawlConfig(waveSeconds = 20.0, nPartitions = 4,
      hostSaltTarget = 4, bloomExpectedSeen = 10000)
    val root = Files.createTempDirectory("crawlAl").toString
    val fetcher: Fetcher = SyntheticFetcher.forWeb(aWeb)
    val p = new CrawlPipeline(spark, new IceLite(root),
      spark.sparkContext.broadcast(fetcher), Seq(rule), c)
    p.init(seeds)
    p.run(maxWaves = 80)
    val log = new IceLite(root).read(spark, "fetchlog")
      .select($"url", $"host", $"wave", $"status").as[(String, String, Int, Int)].collect()
    // every h0 verdict equals the stdlib parser's
    val h0Log = log.filter(_._2 == h0)
    assert(h0Log.nonEmpty)
    h0Log.foreach { case (u, _, _, status) =>
      val want = parsed.canFetch("*", UrlCanon.pathOf(u))
      assert((status != -1) == want, s"$u: fetched=${status != -1} vs RobotFileParser $want")
    }
    // the carve actually bound: /p/1* fetched, sibling /p/2* denied
    assert(h0Log.exists(r => UrlCanon.pathOf(r._1).startsWith("/p/1") && r._4 != -1))
    assert(h0Log.exists(r => UrlCanon.pathOf(r._1).startsWith("/p/2") && r._4 == -1))
    // full-crawl oracle parity under ordered Allow rules
    val want = CrawlOracle.run(aWeb.copy(robots = Seq(rule), seeds = seeds),
      c.waveSeconds, c.defaultDelay, 80)
    val got = log.map(r => r._1 -> ((r._3, r._4))).toMap
    val wantF = want.fetches.map { case (u, f) => u -> ((f.wave, f.status)) }
    assert(got == wantF, "Allow-rule crawl must stay oracle-exact")
  }

  test("failed robots fetch: host throttled at the v1 conservative 3 s budget (J4)") {
    // host 0 (the hot host) gets a FAILED robots fetch: paths stay
    // permissive but the delay is the conservative 3 s
    // (`archive/crawler_node.py:68-75`), so with waveSeconds=6 its
    // budget is 2/wave while default hosts run at 6/wave. The whole
    // crawl must also stay oracle-exact under the failed-robots delay.
    val failWeb = SyntheticWeb.generate(seed = 13L, nHosts = 4, nPages = 80)
    val h0 = SyntheticWeb.hostName(0)
    val robots = Seq(graft.robots.RobotsTxt.failed(h0))
    val c = CrawlConfig(waveSeconds = 6.0, nPartitions = 4,
      hostSaltTarget = 4, bloomExpectedSeen = 10000)
    val root = Files.createTempDirectory("crawlR").toString
    val fetcher: Fetcher = SyntheticFetcher.forWeb(failWeb)
    val p = new CrawlPipeline(spark, new IceLite(root),
      spark.sparkContext.broadcast(fetcher), robots, c)
    p.init(failWeb.seeds)
    p.run(maxWaves = 80)
    val st = new IceLite(root)
    val counts = st.read(spark, "fetchlog")
      .filter($"status" =!= -1)
      .groupBy($"wave", $"host").agg(count(lit(1)).as("n"))
      .as[(Int, String, Long)].collect()
    val h0Counts = counts.filter(_._2 == h0).map(_._3)
    assert(h0Counts.nonEmpty)
    // budget floor(6 / 3.0) = 2 — never exceeded, and binding at least once
    assert(h0Counts.forall(_ <= 2L), s"failed-robots host exceeded 3 s budget: ${h0Counts.max}")
    assert(h0Counts.contains(2L), "3 s budget never bound — test web too sparse to observe it")
    // a default-delay host must be allowed past 2/wave (the throttle is per-host)
    assert(counts.exists(r => r._2 != h0 && r._3 > 2L))
    // oracle parity under the failed-robots delay
    val want = CrawlOracle.run(
      failWeb.copy(robots = robots), c.waveSeconds, c.defaultDelay, 80)
    val got = st.read(spark, "fetchlog")
      .select($"url", $"wave", $"status").as[(String, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val wantF = want.fetches.map { case (u, f) => u -> ((f.wave, f.status)) }
    assert(got == wantF, "failed-robots crawl must stay oracle-exact")
  }

  test("init == sequential reference: canonicalize + first-seen order + dense seq") {
    // messy bootstrap list: duplicates-after-canonicalization, fragments,
    // junk schemes, whitespace
    val messy = web.seeds.flatMap(s => Seq(s, s + "#frag", s.toUpperCase.replace("HTTP", "http"))) ++
      Seq("ftp://nope.example.test/x", "   ", "http://h0.example.test/p/0")
    val root = Files.createTempDirectory("crawlI").toString
    newPipeline(root).init(messy)
    val got = new IceLite(root).read(spark, "frontier")
      .orderBy($"seq").select($"url", $"seq").as[(String, Long)].collect().toVector
    // the reference: canonicalize in list order, keep each URL's first
    // occurrence, number from 1
    val firstSeen = scala.collection.mutable.LinkedHashSet[String]()
    messy.map(UrlCanon.canonicalize).filter(UrlCanon.isHttpUrl).foreach(firstSeen += _)
    val want = firstSeen.toVector.zipWithIndex.map { case (u, i) => (u, i + 1L) }
    assert(want.nonEmpty && want.size < messy.size) // the list has duplicates
    assert(got == want, s"first diff: ${got.zip(want).find(t => t._1 != t._2)}")
  }

  test("every manifest stat of a robots crawl equals a scan and the file listing") {
    // the suite's crawl: robots rules, discovering waves; its staged dirs
    // (images every wave, frontier on discovering waves) carry the
    // writer's stats like the dirs each commit writes
    val m = store.manifest(store.currentSnapshotId.get)
    val staged = (t: String) => m.tables(t).count(d => new java.io.File(d).getName.startsWith("s"))
    assert(staged("images") > 1 && staged("frontier") > 1, m.tables)
    m.stats.values.flatten.foreach(st => assert(st == SparkTestBase.dirStatReference(st.dir)))
  }

  test("v1 FIFO/BFS parity: with unconstrained politeness, seq order == FIFO order") {
    val root = Files.createTempDirectory("crawlF").toString
    val fast = CrawlConfig(waveSeconds = 1e9, nPartitions = 8,
      hostSaltTarget = 4, bloomExpectedSeen = 10000)
    // strip robots so the FIFO oracle (which has none) is comparable
    val fetcher: Fetcher = SyntheticFetcher.forWeb(web)
    val p = new CrawlPipeline(spark, new IceLite(root),
      spark.sparkContext.broadcast(fetcher), robots = Seq.empty, fast)
    p.init(web.seeds)
    p.run(maxWaves = 60)
    val got = new IceLite(root).read(spark, "frontier")
      .orderBy($"seq").select($"url").as[String].collect().toVector
    val want = CrawlOracle.fifoOrder(web)
    assert(got == want, s"first divergence at ${got.zip(want).indexWhere(t => t._1 != t._2)}")
  }
}
