package perfbench

import java.nio.file.Path
import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.bench.{BenchFetcher, BenchWeb}
import graft.codec.ImageCodec
import graft.corpus.SyntheticWeb
import graft.fetch.Fetcher
import graft.icelite.IceLite
import graft.model.RobotsRule
import graft.pipeline.{CrawlConfig, CrawlPipeline}
import graft.robots.RobotsTxt
import graft.urlnorm.UrlCanon

/** The three workloads. Each returns raw per-iteration records; the
  * launcher turns them into metrics. */
object Workloads {
  /** Pre-seeded frontier drained in one wave. */
  val DrainPages = 16000
  val DrainWarmupPages = 2000
  /** BFS crawl under robots and politeness rules: its first waves
    * (the frontier's bulk, then the last small hosts, then one tail
    * wave) run as set-up and warm the JVM; the timed window is the tail
    * of 10-page waves (0.67 % of the pages) that follows. */
  val PolitePages = 1500
  val PoliteSeeds = 256
  val PoliteBulkWaves = 8
  val Hosts = 64

  /** The graft.Bench headline queries. */
  val Headline: Seq[String] = Seq(
    "q01_agg", "q02_join_broadcast", "q05_first_seen", "q13_token_freq",
    "q21_minhash_lsh", "q22_simhash", "q24_knn_cosine", "q31_sessionize",
    "q45_ivf_ann", "q59_phash_pairs", "q60_chunk_dedup", "q62_pack_sequences",
    "q73_image_dup_clusters", "q77_asof_join", "q79_clip_align", "q83_crossmodal",
    "q84_tfidf_pairs", "q95_dup_spans")
  /** Queries whose operator-family split is reported. */
  val OpSplit: Seq[String] = Seq("q73_image_dup_clusters", "q21_minhash_lsh",
    "q02_join_broadcast", "q95_dup_spans")

  // ---------------------------------------------------------------- crawl

  /** A pipeline over a fresh store; in a traced run the store and the
    * fetcher are wrapped so layer calls can be recorded (see [[tracing]]). */
  private def newPipeline(c: Ctx, root: Path, web: BenchWeb, robots: Seq[RobotsRule],
                          conf: CrawlConfig): (CrawlPipeline, Option[TimingIceLite]) = {
    val base: Fetcher = new BenchFetcher(web)
    val (ice, tice) =
      if (c.args.trace) { val t = new TimingIceLite(root.toString, c.spans); (t, Some(t)) }
      else (new IceLite(root.toString), None)
    val fetcher = if (c.args.trace) new TimingFetcher(base) else base
    (new CrawlPipeline(c.spark, ice, c.spark.sparkContext.broadcast(fetcher), robots, conf), tice)
  }

  /** Turns recording by the layer wrappers and the Spark listener on/off. */
  private def tracing(c: Ctx, tice: Option[TimingIceLite], on: Boolean): Unit = {
    c.drainListeners()
    tice.foreach(_.enabled = on)
    FetchCounters.enabled.set(on)
    c.stages.active.set(on)
  }

  /** Runs one wave. A traced wave is also split into the fetch /
    * discover / commit segments marked by the return times of the
    * IceLite calls inside it; they are recorded as child spans of the
    * runWave span, whose self time is then the wave's "other" share. */
  private def wave(c: Ctx, pipe: CrawlPipeline, w: Int, tice: Option[TimingIceLite]): (Long, String) =
    tice match {
      case None =>
        val t0 = System.nanoTime()
        val n = pipe.runWave(w)
        (n, Json.obj(Seq("wave" -> w.toString, "wall_s" -> Json.num(c.secs(t0)), "fetched" -> n.toString,
          "traced" -> "false")))
      case Some(t) =>
        t.stageReturns.clear(); t.commitSpans.clear()
        var n = 0L
        val t0 = c.spans.now
        var segs = Seq.empty[(String, Long, Long)]
        c.spans.span("pipeline.runWave") {
          n = pipe.runWave(w)
          val fetchEnd = t.stageReturns.find(_._1 == "images").map(_._2)
          val commit = t.commitSpans.headOption
          val discEnd = t.stageReturns.find(_._1 == "frontier").map(_._2)
            .orElse(commit.map(_._1)).orElse(fetchEnd)
          segs = fetchEnd.map(e => ("fetch", t0, e)).toSeq ++
            (for (s <- fetchEnd; e <- discEnd) yield ("discover", s, e)).toSeq ++
            commit.map { case (s, e) => ("commit", s, e) }.toSeq
          val me = c.spans.current
          segs.foreach { case (k, s, e) => c.spans.add(s"pipeline.wave.$k", s, e, me) }
        }
        val wall = c.spans.now - t0
        (n, Json.obj(Seq("wave" -> w.toString, "wall_s" -> Json.num(wall / 1e9), "fetched" -> n.toString,
          "traced" -> "true") ++
          segs.map { case (k, s, e) => s"${k}_s" -> Json.num((e - s) / 1e9) }))
    }

  /** Layer counters summed over the traced waves of the timed window;
    * `wallS` is the traced waves' total wall time. */
  private def crawlCounters(c: Ctx, t: TimingIceLite, wallS: Double): Seq[(String, String)] = {
    c.drainListeners()
    Seq(
      "fetch.calls" -> FetchCounters.calls.get.toString,
      "fetch.busy_s" -> Json.num(FetchCounters.busyNs.get / 1e9),
      "fetch.http_errors" -> FetchCounters.httpErrors.get.toString,
      "icelite.commits" -> t.commits.get.toString,
      "icelite.commit_s" -> Json.num(t.commitNs.get / 1e9),
      "icelite.stage_s" -> Json.num(t.stageNs.get / 1e9),
      "icelite.read_calls" -> t.readCalls.get.toString,
      "icelite.stat_calls" -> t.statCalls.get.toString,
      "icelite.manifest_calls" -> t.manifestCalls.get.toString,
      "icelite.bytes_written" -> t.bytesWritten.get.toString,
      "icelite.files_written" -> t.filesWritten.get.toString,
      "icelite.manifest_bytes" -> t.manifestBytes.get.toString) ++ sparkLayers(c, wallS)
  }

  /** Store-derived layer counts, plus the verify and URL-normalisation
    * kernels replayed on this run's own committed payloads (a bounded
    * sample), timing only the kernel calls. */
  private def crawlReplay(c: Ctx, store: IceLite, web: BenchWeb, nSeeds: Long): Seq[(String, String)] = {
    import c.spark.implicits._
    val agg = store.read(c.spark, "fetchlog").agg(
      sum(when($"status" === -1, 1L).otherwise(0L)),
      coalesce(sum($"nLinks"), lit(0L)).cast("long"),
      count(lit(1))).head()
    val denied = agg.getLong(0); val links = agg.getLong(1); val finalized = agg.getLong(2)
    val newUrls = store.tableStat("frontier").map(_._1).getOrElse(0L) - nSeeds
    val sample = store.read(c.spark, "images")
      .filter($"success").select($"url", $"bytes", $"caption", $"outLinks").limit(1000)
      .as[(String, Array[Byte], String, Seq[String])].collect()
    val fetcher = new BenchFetcher(web)
    var codecNs = 0L; var misses = 0L; var canonNs = 0L; var nLinks = 0L
    sample.foreach { case (url, bytes, caption, outLinks) =>
      val truth = fetcher.fetch(url)
      val t0 = System.nanoTime()
      val (px, w, h) = ImageCodec.decode(bytes)
      val ps = ImageCodec.psnr(px, truth.truthPixels, w * h)
      ImageCodec.phash64(px, w, h)
      codecNs += System.nanoTime() - t0
      val lossy = ImageCodec.format(bytes) == ImageCodec.FmtQdct
      if ((lossy && ps < 40.0) || (!lossy && !ps.isPosInfinity) || caption != truth.truthCaption) misses += 1
      val t1 = System.nanoTime()
      outLinks.foreach { href =>
        val r = UrlCanon.resolve(url, href)
        if (r != null && UrlCanon.isHttpUrl(r)) UrlCanon.canonicalize(r)
      }
      canonNs += System.nanoTime() - t1
      nLinks += outLinks.size
    }
    Seq(
      "codec.verify_us_per_page" -> Json.num(if (sample.isEmpty) 0.0 else codecNs / 1e3 / sample.length),
      "codec.invariant_misses" -> misses.toString,
      "urlnorm.links" -> links.toString,
      "urlnorm.canon_ns_per_link" -> Json.num(if (nLinks == 0) 0.0 else canonNs.toDouble / nLinks),
      "seen.new_urls" -> newUrls.toString,
      "seen.new_per_link" -> Json.num(if (links == 0) 0.0 else newUrls.toDouble / links),
      "robots.denied" -> denied.toString,
      "robots.denied_ratio" -> Json.num(if (finalized == 0) 0.0 else denied.toDouble / finalized))
  }

  private def sparkLayers(c: Ctx, wallS: Double): Seq[(String, String)] = {
    val s = c.stages
    Seq(
      "spark.jobs" -> s.jobs.get.toString,
      "spark.stages" -> s.stages.get.toString,
      "spark.tasks" -> s.tasks.get.toString,
      "spark.task_run_s" -> Json.num(s.runMs.get / 1e3),
      "spark.task_cpu_s" -> Json.num(s.cpuNs.get / 1e9),
      "spark.gc_s" -> Json.num(s.gcMs.get / 1e3),
      "spark.core_idle_frac" -> Json.num(1.0 - s.runMs.get / 1e3 / (wallS * c.args.cores)),
      "spark.shuffle_write_bytes" -> s.shuffleWrite.get.toString,
      "spark.shuffle_fetch_wait_s" -> Json.num(s.fetchWaitMs.get / 1e3),
      "spark.spill_bytes" -> s.spill.get.toString)
  }

  /** Iterations of a timed window, until `seconds` have passed or the
    * body returns None. Untraced runs trace nothing; traced runs
    * alternate untraced and traced iterations (the difference is the
    * tracing overhead) and run at least three, so a traced iteration
    * sits between two untraced ones. */
  private def timedLoop(c: Ctx)(body: (Int, Boolean) => Option[String]): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    var i = 0
    var more = true
    c.calibrate()
    while (more && (c.secs(t0) < c.args.seconds || (c.args.trace && i < 3))) {
      val traced = c.args.trace && i % 2 == 1
      c.spans.run = s"${c.args.workload}-$i"
      body(i, traced) match {
        case Some(js) => out += js; i += 1; c.calibrate()
        case None     => more = false
      }
    }
    out.toSeq
  }

  // ---------------------------------------------------------------- drain

  def drain(c: Ctx): Record = {
    import c.spark.implicits._
    def conf(n: Int) = CrawlConfig(waveSeconds = 1e9, nPartitions = c.args.cores * 4,
      hostSaltTarget = 64, bloomExpectedSeen = n.toLong * 2)
    val r = new Record
    var tracedWallS = 0.0
    var last: Option[(TimingIceLite, Path, BenchWeb)] = None

    def once(name: String, n: Int, traced: Boolean, verify: Boolean): String = {
      val web = BenchWeb(c.args.seed, Hosts, n)
      val seeds = (0 until n).map(web.urlOf)
      val root = c.args.out.resolve(s"store-$name")
      val (pipe, tice) = newPipeline(c, root, web, Seq.empty, conf(n))
      var keep = false
      try {
        tracing(c, tice, traced)
        val t0 = System.nanoTime()
        if (traced) c.spans.span("pipeline.init")(pipe.init(seeds)) else pipe.init(seeds)
        val initS = c.secs(t0)
        val (fetched, waveJson) = wave(c, pipe, 1, if (traced) tice else None)
        val wallS = c.secs(t0)
        tracing(c, tice, on = false)
        if (traced) tracedWallS += wallS
        val store = new IceLite(root.toString)
        if (verify) verifyDrain(c, store, web, n, fetched)
        val storeBytes = Seq("frontier", "fetchlog", "images", "indexed_docs", "metrics", "lineage")
          .flatMap(t => store.tableStat(t)).map(_._2).sum
        val payload = store.read(c.spark, "fetchlog").agg(coalesce(sum($"nBytes"), lit(0L))).as[Long].head()
        if (traced) { last.foreach(l => c.deleteTree(l._2)); last = tice.map(t => (t, root, web)); keep = true }
        Json.obj(Seq("name" -> Json.str(name), "traced" -> traced.toString, "units" -> fetched.toString,
          "init_s" -> Json.num(initS), "wall_s" -> Json.num(wallS), "waves" -> Json.arr(Seq(waveJson)),
          "store_amp" -> Json.num(if (payload == 0) 0.0 else storeBytes.toDouble / payload)))
      } finally if (!keep) c.deleteTree(root)
    }

    c.spans.span("setup.warmup")(once("warmup", DrainWarmupPages, traced = false, verify = false))
    c.warmDone(r)
    val its = timedLoop(c)((i, traced) => Some(once(s"it$i", DrainPages, traced, verify = true)))
    last.foreach { case (t, root, web) =>
      try r.put("layers", Json.obj(crawlCounters(c, t, tracedWallS) ++
        crawlReplay(c, new IceLite(root.toString), web, DrainPages)))
      finally c.deleteTree(root)
    }
    r.put("pages", DrainPages.toString)
    r.put("iterations", Json.arr(its))
    c.finish(r)
  }

  private def verifyDrain(c: Ctx, store: IceLite, web: BenchWeb, n: Int, fetched: Long): Unit = {
    import c.spark.implicits._
    val f = store.read(c.spark, "frontier").agg(count(lit(1)), countDistinct($"seq"), min($"seq"), max($"seq")).head()
    val lg = store.read(c.spark, "fetchlog").agg(count(lit(1)), countDistinct($"url"),
      sum(when($"success", 1L).otherwise(0L)),
      sum(when($"success" && !$"captionOk", 1L).otherwise(0L)),
      sum(when($"success" && $"fmt" === ImageCodec.FmtQdct && $"psnr" < 40.0, 1L).otherwise(0L)),
      sum(when($"success" && $"fmt" === ImageCodec.FmtRaw && $"psnr" =!= Double.PositiveInfinity, 1L).otherwise(0L))
    ).head()
    c.check("drain.rows", f.getLong(0) == n && lg.getLong(0) == n && lg.getLong(1) == n && fetched == n,
      s"frontier=${f.getLong(0)} fetchlog=${lg.getLong(0)} distinct=${lg.getLong(1)} fetched=$fetched n=$n")
    c.check("drain.seq_dense", f.getLong(1) == n && f.getLong(2) == 1L && f.getLong(3) == n,
      s"distinct=${f.getLong(1)} min=${f.getLong(2)} max=${f.getLong(3)}")
    // BenchWeb's deterministic HTTP 500s: draw(seed, 500000 + i, 0) & 63 == 0
    val http500 = (0 until n).count(i => (SyntheticWeb.draw(web.seed, 500000L + i, 0) & 63) == 0)
    c.check("drain.successes", lg.getLong(2) == n - http500, s"successes=${lg.getLong(2)} expected=${n - http500}")
    c.check("drain.payload_invariants", lg.getLong(3) == 0 && lg.getLong(4) == 0 && lg.getLong(5) == 0,
      s"caption=${lg.getLong(3)} psnr_lossy=${lg.getLong(4)} lossless=${lg.getLong(5)}")
  }

  // ---------------------------------------------------------------- polite

  /** Robots rules over 16 of the 64 hosts, drawn from the seed, with
    * crawl delays of 1, 2 and 3 s; some disallow path prefixes, some
    * mark the robots fetch as failed (permissive, 3 s). The hot host 0
    * (a fifth of the pages) has a 1 s delay, so its wave budget of 10 s
    * gives it 10 pages a wave: once the frontier's bulk is fetched, the
    * crawl goes on for about a dozen small waves whose time is nearly all
    * fixed per-wave cost. */
  def politeRobots(seed: Long): Seq[RobotsRule] = {
    val picked = mutable.LinkedHashSet[Int](0)
    var k = 0
    while (picked.size < 16) {
      picked += 1 + ((SyntheticWeb.draw(seed, 700000L, k) >>> 1) % (Hosts - 1)).toInt
      k += 1
    }
    picked.toSeq.zipWithIndex.map { case (h, j) =>
      val host = s"h$h.example.test"
      val delay = Seq(1.0, 2.0, 3.0)(j % 3)
      if (h == 0) RobotsRule(host, Seq("/p/1"), 1.0)
      else j % 5 match {
        case 0 => RobotsTxt.failed(host)
        case 1 => RobotsRule(host, Seq("/p/1"), delay)
        case 2 => RobotsRule(host, Seq("/p/2", "/p/3"), delay)
        case _ => RobotsRule(host, Seq.empty, delay)
      }
    }
  }

  def polite(c: Ctx): Record = {
    val robots = politeRobots(c.args.seed)
    val waveSeconds = 10.0
    val conf = CrawlConfig(waveSeconds = waveSeconds, defaultDelay = 1.0,
      nPartitions = c.args.cores * 4, hostSaltTarget = 8, bloomExpectedSeen = PolitePages * 2L)
    val web = BenchWeb(c.args.seed, Hosts, PolitePages)
    val seeds = (0 until PoliteSeeds).map(web.urlOf)
    val root = c.args.out.resolve("store-polite")
    val (pipe, tice) = newPipeline(c, root, web, robots, conf)
    val r = new Record
    try {
      val bulk = c.spans.span("setup.warmup") {
        val t0 = System.nanoTime()
        pipe.init(seeds)
        r.num("init_s", c.secs(t0))
        c.calibrate()
        (1 to PoliteBulkWaves).map { w => val js = wave(c, pipe, w, None)._2; c.calibrate(); js }
      }
      c.warmDone(r)
      var tracedWallS = 0.0
      var lastWave = PoliteBulkWaves
      val waves = timedLoop(c) { (i, traced) =>
        val w = PoliteBulkWaves + 1 + i
        tracing(c, tice, traced)
        val t0 = System.nanoTime()
        val (n, js) = wave(c, pipe, w, if (traced) tice else None)
        if (traced) tracedWallS += c.secs(t0)
        tracing(c, tice, on = false)
        if (n == 0) None else { lastWave = w; Some(js) }
      }
      val store = new IceLite(root.toString)
      verifyPolite(c, store, robots, waveSeconds,
        PoliteOracle.run(web, seeds, robots, waveSeconds, conf.defaultDelay, lastWave))
      tice.foreach(t => r.put("layers", Json.obj(crawlCounters(c, t, tracedWallS) ++
        crawlReplay(c, store, web, seeds.size))))
      r.put("bulk_waves", Json.arr(bulk))
      r.put("waves", Json.arr(waves))
      r.put("pages", PolitePages.toString)
      c.finish(r)
    } finally c.deleteTree(root)
  }

  private def verifyPolite(c: Ctx, store: IceLite, robots: Seq[RobotsRule],
                           waveSeconds: Double, oracle: PoliteOracle.Result): Unit = {
    import c.spark.implicits._
    val front = store.read(c.spark, "frontier").select($"seq", $"url").as[(Long, String)].collect().toSeq
    val flog = store.read(c.spark, "fetchlog").select($"url", $"host", $"status", $"wave")
      .as[(String, String, Int, Int)].collect().toSeq
    val flogUrls = flog.map(_._1)
    // the window ends mid-crawl: every URL finalized so far is a frontier
    // URL, finalized once, and the set equals the oracle's after as many waves
    c.check("polite.finalized_once",
      flogUrls.toSet.size == flogUrls.size && flogUrls.toSet.subsetOf(front.map(_._2).toSet) &&
        flogUrls.toSet == oracle.finalized,
      s"fetchlog=${flogUrls.size} distinct=${flogUrls.toSet.size} oracle=${oracle.finalized.size}")
    val rules = robots.map(r => r.host -> r).toMap
    val disallowed = (url: String, host: String) => rules.get(host).exists(r =>
      r.effectiveRules.find(l => l.path.isEmpty || UrlCanon.pathOf(url).startsWith(l.path)).exists(!_.allow))
    val fetched = flog.filter(_._3 != -1)
    val badFetch = fetched.count { case (u, h, _, _) => disallowed(u, h) }
    val badDeny = flog.count { case (u, h, s, _) => s == -1 && !disallowed(u, h) }
    c.check("polite.robots", badFetch == 0 && badDeny == 0, s"disallowed_fetched=$badFetch wrongly_denied=$badDeny")
    val over = fetched.groupBy(f => (f._4, f._2)).count { case ((_, h), fs) =>
      val delay = rules.get(h).map(_.crawlDelay).getOrElse(1.0)
      fs.size > math.max(1L, math.floor(waveSeconds / delay).toLong)
    }
    c.check("polite.budget", over == 0, s"over_budget_wave_hosts=$over")
    val got = Digest.frontier(front)
    val want = Digest.frontier(oracle.order)
    c.check("polite.frontier_digest", got == want, s"digest=$got oracle=$want")
  }

  // ---------------------------------------------------------------- analytics

  def analytics(c: Ctx): Record = {
    val dir = c.args.tables
    val r = new Record
    val expected = c.args.expected.map(Expected.load).getOrElse(Map.empty)
    // the seed fixes the order queries run in; the tables are fixed
    val order = Headline.sortBy(q => SyntheticWeb.draw(c.args.seed, q.hashCode.toLong, 0))
    val observed = mutable.LinkedHashMap.empty[String, (Long, String)]

    // warm-up: every query once over a small table set of the same shape
    // (class loading, JIT and plan code generation do not depend on size)
    c.spans.span("setup.warmup")(order.foreach { q =>
      Digest.result(SparkEntry.queries(q)(c.spark, c.args.warmTables))
      c.calibrate()
    })

    def runQuery(q: String, traced: Boolean): Double = {
      if (traced) { c.drainListeners(); c.plans.current = Some(q) }
      val t0 = System.nanoTime()
      val res = if (traced) c.spans.span(s"queries.$q")(Digest.result(SparkEntry.queries(q)(c.spark, dir)))
                else Digest.result(SparkEntry.queries(q)(c.spark, dir))
      val s = c.secs(t0)
      if (traced) { c.drainListeners(); c.plans.current = None }
      observed(q) = res
      expected.get(q) match {
        case Some(e) if c.args.record.isEmpty => c.check(s"analytics.$q", e == res, s"got=$res want=$e")
        case None if c.args.record.isEmpty    => c.fail(s"analytics.$q", "no recorded result")
        case _                                => c.attempt()
      }
      s
    }

    c.warmDone(r)
    var tracedWallS = 0.0
    val its = timedLoop(c) { (i, traced) =>
      tracing(c, None, traced)
      val t0 = System.nanoTime()
      // a reference-kernel time after each query; the pass's wall time
      // leaves those out
      var calS = 0.0
      val times = order.map { q => val s = runQuery(q, traced); calS += c.calibrate(); q -> s }
      val wallS = c.secs(t0) - calS
      tracing(c, None, on = false)
      if (traced) tracedWallS += wallS
      Some(Json.obj(Seq("name" -> Json.str(s"it$i"), "traced" -> traced.toString,
        "units" -> times.size.toString, "wall_s" -> Json.num(wallS),
        "queries" -> Json.obj(times.map { case (q, s) => q -> Json.num(s) }))))
    }
    if (c.args.trace) {
      // summed over the traced passes
      val ops = c.plans.synchronized(c.plans.byQuery.map { case (q, m) => q -> m.toMap }.toMap)
      r.put("layers", Json.obj(sparkLayers(c, tracedWallS) ++ Headline.flatMap { q =>
        val m = ops.getOrElse(q, Map.empty[String, Long])
        Seq(s"ops.$q.shuffle_bytes" -> m.getOrElse("shuffle_bytes", 0L).toString,
          s"ops.$q.rows_scanned" -> m.getOrElse("rows_scanned", 0L).toString) ++
          (if (OpSplit.contains(q)) PlanTotals.Categories.map(k =>
            s"ops.$q.${k}_s" -> Json.num(m.getOrElse(s"${k}_ns", 0L) / 1e9)) else Nil)
      }))
    }
    c.args.record.foreach(p => Expected.save(p, observed.toSeq))
    r.put("iterations", Json.arr(its))
    c.finish(r)
  }
}

/** Recorded (rows, digest) per headline query for the fixed tables. */
object Expected {
  def load(f: Path): Map[String, (Long, String)] = {
    if (!java.nio.file.Files.exists(f)) Map.empty
    else scala.io.Source.fromFile(f.toFile).getLines().filter(_.nonEmpty).map { l =>
      val Array(q, n, h) = l.split("\t"); q -> (n.toLong, h)
    }.toMap
  }
  def save(f: Path, rows: Seq[(String, (Long, String))]): Unit =
    java.nio.file.Files.write(f, rows.sortBy(_._1)
      .map { case (q, (n, h)) => s"$q\t$n\t$h\n" }.mkString.getBytes("UTF-8"))
}
