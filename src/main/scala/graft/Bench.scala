package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession

import graft.bench.{BenchFetcher, BenchWeb}
import graft.fetch.Fetcher
import graft.icelite.IceLite
import graft.pipeline.{CrawlConfig, CrawlPipeline}

/** Benchmark main: prints ONE JSON line, whose keys are a stable contract.
  *  - `queries`: wall seconds per headline SparkEntry query on
  *    SPARK_GRAFT_SF_DIR at local[SPARK_GRAFT_CPUS].
  *  - `crawl`: the north-rule metric — URLs fetched+verified per second
  *    draining a pre-seeded frontier in one politeness-unconstrained wave
  *    (at 10^10 URLs one wave holds 10^7+ URLs, so per-wave fixed costs
  *    are noise), at N vs 4N cores (default 1 vs 4, see BASELINE.md), and
  *    scaling efficiency (rate4N/rateN)/4, gated at >= 0.8 on the median
  *    of this run's [[PairsPerRun]] same-window leg pairs. Nothing carries
  *    across runs, so a slower drain shows in the next run's median. The
  *    multi-wave BFS loop is reported as `bfs_*`. */
object Bench {

  /** Same-window (N, 4N) leg pairs per run; odd, so the median is one pair. */
  private val PairsPerRun = 3
  /** Pages of the same-plan warmup crawl before each timed leg (JIT + codegen). */
  private val WarmupPages = 2000

  /** Stage crawl payloads on RAM-backed /dev/shm when present and roomy:
    * one shared disk (a real 4N cluster has 4x the disks) adds a serial
    * term to both legs that deflates the scaling ratio; the payload write
    * is still timed. Decided once per run by the parent and passed to
    * every leg, so free space changing mid-run cannot mix media. */
  private def shmStaging(): Boolean = {
    val shm = new java.io.File("/dev/shm")
    shm.isDirectory && shm.canWrite && shm.getUsableSpace > 32L * (1L << 30)
  }

  /** One timed crawl leg: pages fetched, drain seconds, bootstrap seconds. */
  private[graft] case class Leg(fetched: Long, secs: Double, initSecs: Double) {
    def rate: Double = fetched / secs
  }

  /** One crawl; `preSeeded` drains the full frontier in a single wave
    * (the north-metric shape), otherwise a 4096-seed BFS expansion. */
  private def crawlOnce(spark: SparkSession, cores: Int, nPages: Int,
                        preSeeded: Boolean, shm: Boolean): Leg = {
    val web = BenchWeb(seed = 42L, nHosts = 64, nPages = nPages)
    val fetcher: Fetcher = new BenchFetcher(web)
    val root = (if (shm)
        Files.createTempDirectory(java.nio.file.Paths.get("/dev/shm"), s"bench-crawl-$cores")
      else Files.createTempDirectory(s"bench-crawl-$cores")).toString
    val pipe = new CrawlPipeline(spark, new IceLite(root),
      spark.sparkContext.broadcast(fetcher), robots = Seq.empty,
      // 4 tasks/core: per-task row counts vary ~±10% from key hashing,
      // and 2 tasks/core strands cores behind the slowest tasks
      CrawlConfig(waveSeconds = 1e9, nPartitions = cores * 4,
        hostSaltTarget = 64, bloomExpectedSeen = nPages.toLong * 2))
    val seeds = if (preSeeded) (0 until nPages).map(web.urlOf) else web.seeds
    try {
      // The TIMED window is the drain, as the reference's scalability test
      // measures crawl rate after seeding (`test_system.py:386-424`); the
      // bootstrap is reported as `init_secs_*`, charged to neither rate.
      val ti = System.nanoTime()
      pipe.init(seeds)
      val initSecs = (System.nanoTime() - ti) / 1e9
      val t0 = System.nanoTime()
      pipe.run(maxWaves = 30)
      val fetched = new IceLite(root).tableStat("fetchlog").map(_._1).getOrElse(0L)
      Leg(fetched, (System.nanoTime() - t0) / 1e9, initSecs)
    } finally // a failed leg must not leak multi-GB payloads (RAM on /dev/shm)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  /** Run one warmed crawl leg in a FRESH subprocess JVM: long-lived
    * local-mode JVMs slow down across successive SparkContexts (metaspace
    * + codegen classes; 8x by the 4th session). A failed leg fails the
    * bench with its output; it is never re-measured in another mode. */
  private def crawlRun(cores: Int, nPages: Int, preSeeded: Boolean, shm: Boolean): Leg = {
    val javaBin = new java.io.File(new java.io.File(System.getProperty("java.home"), "bin"), "java").getPath
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    // Bind the leg to exactly `cores` CPUs and size the JVM's pools for
    // them, as YARN/k8s bind executors: unpinned, a local[1] leg offloads
    // ~1.5 cores of GC+JIT+driver work to idle vCPUs.
    val cmd = Seq("taskset", "-c", s"0-${cores - 1}", javaBin) ++ jvmArgs ++ Seq(
      s"-XX:ActiveProcessorCount=$cores",
      "-cp", System.getProperty("java.class.path"),
      "graft.Bench", "--crawl", cores.toString, nPages.toString,
      preSeeded.toString, shm.toString)
    // one merged stream: reading two pipes serially can deadlock
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    val exit = proc.waitFor()
    out.linesIterator.find(_.startsWith("CRAWL_LEG ")) match {
      case Some(line) if exit == 0 =>
        val p = line.trim.split(" ")
        System.err.println(s"[bench] leg cores=$cores preSeeded=$preSeeded ${line.trim}")
        Leg(p(1).toLong, p(2).toDouble, p(3).toDouble)
      case _ =>
        throw new IllegalStateException(
          s"crawl leg (cores=$cores preSeeded=$preSeeded) exited $exit; output:\n$out")
    }
  }

  /** Scaling efficiency of one (N, 4N) leg pair: (rate4N / rateN) / 4. */
  private[graft] def pairEfficiency(n: Leg, n4: Leg): Double = (n4.rate / n.rate) / 4.0

  /** (median, max − min) of pair efficiencies; even counts average the middle two. */
  private[graft] def pairEstimate(effs: Seq[Double]): (Double, Double) = {
    require(effs.nonEmpty, "no leg pairs")
    val s = effs.sorted
    ((s((s.size - 1) / 2) + s(s.size / 2)) / 2.0, s.last - s.head)
  }

  /** The artifact's `crawl` object for a run's (N, 4N) `pairs` and BFS leg.
    * `secs_*`, `fetched_*`, `init_secs_*` and `scaling_efficiency` come
    * from each side's fastest leg; the gate reads the run median. */
  private[graft] def crawlJson(pages: Int, nCores: Int, pairs: Seq[(Leg, Leg)], bfs: Leg): String = {
    val bestN = pairs.map(_._1).minBy(_.secs)
    val best4 = pairs.map(_._2).minBy(_.secs)
    val effs = pairs.map { case (n, n4) => pairEfficiency(n, n4) }
    val (median, spread) = pairEstimate(effs)
    def arr(xs: Seq[Double], fmt: String) = xs.map(fmt.format(_)).mkString("[", ",", "]")
    f"""{"mode":"frontier_drain","pages":$pages,"n_cores":$nCores,"4n_cores":${nCores * 4},""" +
      f""""urls_per_sec_n":${bestN.rate}%.1f,"urls_per_sec_4n":${best4.rate}%.1f,""" +
      f""""scaling_efficiency":${pairEfficiency(bestN, best4)}%.3f,""" +
      s""""pair_efficiencies":${arr(effs, "%.3f")},""" +
      f""""scaling_efficiency_run_median":$median%.3f,"scaling_efficiency_run_spread":$spread%.3f,""" +
      f""""fetched_n":${bestN.fetched},"fetched_4n":${best4.fetched},""" +
      f""""secs_n":${bestN.secs}%.1f,"secs_4n":${best4.secs}%.1f,""" +
      f""""init_secs_n":${bestN.initSecs}%.1f,"init_secs_4n":${best4.initSecs}%.1f,""" +
      s""""legs_n_secs":${arr(pairs.map(_._1.secs), "%.1f")},""" +
      s""""legs_4n_secs":${arr(pairs.map(_._2.secs), "%.1f")},""" +
      f""""bfs_pages":${bfs.fetched},"bfs_secs":${bfs.secs}%.1f,"bfs_urls_per_sec_4n":${bfs.rate}%.1f}"""
  }

  private[graft] val headline = Seq(
    "q01_agg", "q02_join_broadcast", "q05_first_seen", "q13_token_freq",
    "q21_minhash_lsh", "q22_simhash", "q24_knn_cosine", "q31_sessionize",
    // the heaviest training-data, sparse-retrieval (q84) and map-side
    // explode (q95) shapes, tracked so a plan regression (a q21-class
    // recompute, a gram-table recompute) shows up in the artifact
    "q45_ivf_ann", "q59_phash_pairs", "q60_chunk_dedup", "q62_pack_sequences",
    "q73_image_dup_clusters", "q77_asof_join", "q79_clip_align", "q83_crossmodal",
    "q84_tfidf_pairs", "q95_dup_spans")

  /** Per-query regression bars at sf0.1 (BASELINE.md "Regression
    * bars"): a quiet-window violation means the NAMED plan regressed —
    * q21 over 10 s = the signature-reuse materialization is gone; q95
    * over 8 s = the gram table recomputes per consumer or grams shuffle
    * as strings; q73 over 4 s = the banded pair join or checkpoint-
    * truncated CC iterations regressed. The suite bar is the top of the
    * quiet-host band. Violations land in the artifact's `bar_violations`. */
  val regressionBars: Map[String, Double] = Map(
    "q21_minhash_lsh" -> 10.0,
    "q95_dup_spans" -> 8.0,
    "q73_image_dup_clusters" -> 4.0)
  val suiteBar: Double = 18.0

  /** Bar check over (query, seconds) timings; returns human-readable
    * violations ("name:secs>bar"), empty when all bars hold. Only
    * meaningful at sf0.1 — callers gate on the sf dir. */
  def barViolations(times: Seq[(String, Double)]): Seq[String] = {
    val per = times.collect {
      case (n, s) if regressionBars.get(n).exists(s > _) =>
        f"$n:$s%.2f>${regressionBars(n)}%.1f"
    }
    val tot = times.map(_._2).sum
    per ++ (if (tot > suiteBar) Seq(f"total:$tot%.2f>$suiteBar%.1f") else Nil)
  }

  /** True iff the sf dir's FINAL PATH SEGMENT is exactly "sf0.1", the
    * scale the bars are calibrated at: ".../xsf0.1" must not turn the
    * bars on, and a doubled trailing slash must not turn them off. */
  private[graft] def isCalibratedSf(sfDir: String): Boolean =
    sfDir.split('/').reverseIterator.find(_.nonEmpty).contains("sf0.1")

  /** Crawl-gate violation (BASELINE.md "crawl run-median >= 0.8"):
    * non-empty when the median efficiency over this run's `nCleanPairs`
    * leg pairs (every pair the run measured — none is dropped) misses
    * the 0.8 north-rule bar. No pairs → no median → nothing to flag. */
  def crawlViolations(pairMedian: Double, nCleanPairs: Int): Seq[String] =
    if (nCleanPairs > 0 && pairMedian < 0.80)
      Seq(f"crawl_pair_median:$pairMedian%.3f<0.8")
    else Nil

  /** JSON value for the artifact's `bar_violations` field: a real array
    * only when the sf0.1 bars apply, else the string "not_checked" (an
    * empty array would read as "checked and clean"). `crawl` carries
    * [[crawlViolations]]: crawl bars are sf-independent, so they join the
    * array at sf0.1 and force a real array when violated at any other sf. */
  def barViolationsJson(sfDir: String, times: Seq[(String, Double)],
                        crawl: Seq[String] = Nil): String = {
    def arr(vs: Seq[String]) = vs.map(v => "\"" + v + "\"").mkString("[", ",", "]")
    if (isCalibratedSf(sfDir)) arr(barViolations(times) ++ crawl)
    else if (crawl.nonEmpty) arr(crawl)
    else "\"not_checked\""
  }

  def main(args: Array[String]): Unit = {
    // subprocess leg mode: --crawl <cores> <pages> <preSeeded> <shm>
    if (args.length == 5 && args(0) == "--crawl") {
      val (cores, shm) = (args(1).toInt, args(4).toBoolean)
      val spark = LocalSession(s"graft-bench-$cores", cores)
      val leg = try {
        crawlOnce(spark, cores, WarmupPages, args(3).toBoolean, shm)
        crawlOnce(spark, cores, args(2).toInt, args(3).toBoolean, shm)
      } finally spark.stop()
      println(s"CRAWL_LEG ${leg.fetched} ${leg.secs} ${leg.initSecs}")
      return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val crawlPages = sys.env.getOrElse("SPARK_GRAFT_BENCH_PAGES", "100000").toInt
    val nCores = sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "1").toInt
    val n4Cores = nCores * 4

    // 1) headline query timings
    val spark = LocalSession(s"graft-bench-$cpus", cpus)
    val queryTimes = try {
      headline.filter(SparkEntry.queries.contains).map { name =>
        val fn = SparkEntry.queries(name)
        fn(spark, sfDir).count() // warm (plan + IO cache)
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        name -> (System.nanoTime() - t0) / 1e9
      }
    } finally spark.stop()

    // Iteration aid: time the query suite without the (long) crawl legs.
    if (sys.env.contains("SPARK_GRAFT_BENCH_QUERIES_ONLY")) {
      val qj = queryTimes.map { case (n, s) => s""""$n":${f"$s%.3f"}""" }.mkString(",")
      val bv = barViolationsJson(sfDir, queryTimes)
      println(s"""BENCH_QUERIES {$qj,"total":${f"${queryTimes.map(_._2).sum}%.3f"},"bar_violations":$bv}""")
      return
    }

    // 2) north metric: same-window (N, 4N) drain pairs, interleaved (N
    // first, 4N first, ...) so host-speed drift hits neither side alone
    val shm = shmStaging()
    def leg(cores: Int): Leg = crawlRun(cores, crawlPages, preSeeded = true, shm)
    val pairs = (0 until PairsPerRun).map { i =>
      if (i % 2 == 0) { val n = leg(nCores); (n, leg(n4Cores)) }
      else { val n4 = leg(n4Cores); (leg(nCores), n4) }
    }
    val (pairMedian, _) = pairEstimate(pairs.map { case (n, n4) => pairEfficiency(n, n4) })

    // 3) end-to-end BFS expansion loop at 4N (seed -> discover -> drain)
    val bfs = crawlRun(n4Cores, crawlPages, preSeeded = false, shm)

    val qs = queryTimes.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val total = queryTimes.map(_._2).sum
    val barsJson = barViolationsJson(sfDir, queryTimes, crawlViolations(pairMedian, pairs.size))
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"bar_violations":$barsJson,"sf":"$sfDir","crawl":${crawlJson(crawlPages, nCores, pairs, bfs)}}""")
  }
}
