package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.codec.ImageCodec
import graft.fetch.Fetcher
import graft.icelite.IceLite
import graft.model._
import graft.ops.{Checkpoints, Curation}
import graft.seen.UrlSeen
import graft.urlnorm.urlfunctions._

/** Tuning knobs for the wave loop. */
case class CrawlConfig(
    waveSeconds: Double = 30.0,   // politeness budget window per wave
    defaultDelay: Double = 1.0,   // crawl-delay when robots has none (`archive/crawler_node.py:34`)
    nPartitions: Int = 32,
    hostSaltTarget: Int = 8,      // target selected-URLs per (host,salt) partition key
    bloomExpectedSeen: Long = 1 << 20,
    // J1 scale path: above this frontier size the seen-set pre-filter
    // switches from one broadcast sketch to the executor-side bucketed
    // sketch table (UrlSeen.filterNewBucketed) — a ~10^10-key frontier
    // cannot ship a single 12 GB sketch to every task
    seenBucketsThreshold: Long = 100000000L,
    seenBuckets: Int = 4096,
    // compact the log tables' wave-per-delta dirs every k waves (0 = off):
    // a politeness-bound crawl accretes one small dir per table per wave,
    // and past ~10^3 waves scan planning outgrows the data (IceLite.compact)
    compactEveryWaves: Int = 0)

/**
 * The crawl engine (SURVEY.md §3.1): a batch-iterative wave loop where
 * every reference process boundary collapses into a shuffle or an
 * atomic IceLite commit.
 *
 * One wave:
 * {{{
 *  pending  = frontier ANTI-JOIN fetchlog            (not yet fetched)
 *  robots   = host lookup in a broadcast rules table; disallowed → fetchlog(robots_denied)
 *  budget   = max(1, floor(waveSeconds / crawl_delay)) per host
 *  selected = row_number over (host ORDER BY depth, seq) <= budget   (politeness O1/§2.8)
 *  fetch    = salted repartition by (host, seq%salt) → mapPartitions  (hot-host skew defused)
 *  verify   = decode payload: PSNR vs ground truth, caption equality  (north-rule invariant)
 *  links    = posexplode → resolve_url → is_http_url → canonicalize_url
 *  firstSeen= min(parent_seq, pos) per canonical URL (intra-wave dedup)
 *  new      = Bloom pre-filter + exact anti-join vs frontier          (J1 two-stage)
 *  seq      = global discovery rank by (parent_seq, pos)  — BFS contract
 *  commit   = frontier Δ, fetchlog Δ, images Δ, indexed_docs Δ,
 *             metrics Δ, lineage Δ — ONE atomic snapshot
 * }}}
 *
 * Determinism contract (matched by the sequential oracle in tests):
 * pages are conceptually processed in (depth, seq) order, links in
 * document order; first-seen-wins with ties broken by (parent_seq,
 * pos); new URLs get consecutive seq in that order. The reference's v1
 * FIFO queue (`archive/master_node.py:16,46-54,73-78`) produces exactly
 * this order when fetch completion is sequential.
 */
class CrawlPipeline(spark: SparkSession, store: IceLite,
                    fetcherB: Broadcast[Fetcher],
                    robots: Seq[RobotsRule],
                    conf: CrawlConfig = CrawlConfig()) {
  import spark.implicits._

  private val frontierSchema = Encoders.product[FrontierEntry].schema
  // fetchlog = FetchOut minus the payload columns (bytes, caption and the
  // link array live only in `images`, the staged fetch table)
  private val fetchlogSchema = org.apache.spark.sql.types.StructType(
    Encoders.product[FetchOut].schema.filterNot(f =>
      f.name == "bytes" || f.name == "caption" || f.name == "outLinks"))

  // ---------- seeding ----------

  /** Canonicalize + first-seen-dedup the seed list; commit frontier
    * snapshot 1 (reference: seeds enqueued in list order,
    * `archive/master_node.py:39-42`). */
  def init(seeds: Seq[String]): Long = {
    // canonicalize -> first-seen-wins in list order -> dense seq, all
    // executor-side: the driver ships only the raw strings, so a 10^7-seed
    // bootstrap costs no driver-serial per-URL work
    val raw = spark.sparkContext.parallelize(seeds, conf.nPartitions)
      .zipWithIndex() // positional: preserves seed-list order across partitions
      .toDF("raw", "idx")
    val firstSeen = raw
      .select(canonicalize_url($"raw").as("url"), $"idx")
      .filter(is_http_url($"url"))
      .groupBy($"url").agg(min($"idx").as("idx"))
    // dense seq = 1 + rank in seed-list order; the rank's rows stay
    // cached until the commit below has written them
    val entriesDf = Curation.runningOffset(firstSeen.withColumn("n_tokens", lit(1L)),
        Seq($"idx"), start = 1L)
      .select($"url", url_host($"url").as("host"), lit(0).as("depth"),
        $"start_tok".as("seq"), lit("").as("parent"), lit(0).as("wave"))
      .as[FrontierEntry].toDF()
    // `seeds_raw` = the caller's list size including junk/dupes; the
    // deduplicated count is the frontier's manifest row count
    val id = store.commit(Seq("frontier" -> entriesDf),
      Map("wave" -> "0", "seeds_raw" -> seeds.size.toString))
    Checkpoints.release(entriesDf)
    seenBloom = None // built from the new frontier by the first wave
    id
  }

  // ---------- state reads ----------

  def frontier(snap: Option[Long] = None): DataFrame =
    store.read(spark, "frontier", snap, Some(frontierSchema))
  def fetchlog(snap: Option[Long] = None): DataFrame =
    store.read(spark, "fetchlog", snap, Some(fetchlogSchema))

  // host -> (rules, crawl_delay, robots_failed), built and broadcast
  // once per pipeline; a hash probe per row (see [[graft.robots.HostRules]])
  private val robotsByHost: Column =
    graft.robots.HostRules.lookup(spark, robots, $"host")

  // ---------- one wave ----------

  // The one piece of wave-to-wave driver state: the seen-set Bloom
  // sketch, merged with each wave's new URLs instead of rebuilt from the
  // frontier (performance only — a resumed pipeline builds it once from
  // the committed frontier). Everything else a wave needs is re-read
  // from the head manifest, parsed once at wave start: the frontier and
  // fetchlog relations (plain multi-dir parquet scans, one scan node
  // whatever the wave count) and their row counts (manifest stats, no
  // Spark job).
  private var seenBloom: Option[org.apache.spark.util.sketch.BloomFilter] = None

  /** Runs wave `wave`; returns number of URLs fetched (0 = frontier drained). */
  def runWave(wave: Int): Long = {
    val head = store.currentSnapshotId match {
      case Some(id) => store.manifest(id)
      case None => return 0L // nothing committed, nothing to fetch
    }
    // dense seq ⇒ frontier size == max seq
    val maxSeq = head.totals("frontier")._1
    val logged = head.totals("fetchlog")._1
    if (logged >= maxSeq) return 0L // every enqueued URL is finalized
    val front = store.read(spark, head, "frontier", Some(frontierSchema))
    // nothing finalized yet (wave 1 of a fresh crawl / a pre-seeded
    // drain) ⇒ pending == frontier; skip the anti-join shuffle entirely
    val pend = if (logged == 0L) front
      else front.join(store.read(spark, head, "fetchlog", Some(fetchlogSchema)).select($"url"),
        Seq("url"), "left_anti")

    // robots lookup (J3) + disallow predicate (F4); permissive default
    // when the host has no robots entry (`crawler/crawler_node.py:49-52`).
    // Pure column logic — url_path is a codegen expression and the
    // prefix test an `exists` over the tiny prefix array (no Scala UDF
    // closure on the highest-volume filter). The path is materialized
    // as a column once so the lambda doesn't re-parse the URL per
    // prefix element.
    // Lazy checkpoint: the anti-join (frontier vs fetchlog) executes once
    // and is reused by both the fetch path and the denied-audit path; it
    // is released when the wave ends. With no robots rules at all, the
    // lookup is the identity and `denied` empty by construction — skip
    // the lookup AND the checkpoint.
    val (allowed, deniedOpt) = if (robots.isEmpty) (pend, None) else {
      val joined = pend // all three null for a host without robots
        .withColumn("rules", robotsByHost("_1"))
        .withColumn("crawl_delay", robotsByHost("_2"))
        .withColumn("robots_failed", robotsByHost("_3"))
        .withColumn("__path", url_path($"url"))
        .localCheckpoint(false)
      // ordered first-match-wins rules (full RobotFileParser semantics,
      // Allow lines exact); for pure-Disallow hosts this agrees with the
      // legacy prefix-only predicate bit-for-bit
      val disallowedCol =
        graft.robots.RobotsTxt.disallowedColOrdered($"__path", $"rules")
      (joined.filter(!disallowedCol), Some(joined.filter(disallowedCol)))
    }

    // per-host politeness budget (§2.8): selected_k <= floor(wave/delay).
    // Constant-folded away when it provably cannot bind (no robots rules
    // ⇒ every delay is the default, and floor(wave/default) >= frontier
    // size bounds any per-host count) — the rank window is a full
    // shuffle+sort of the pending set, pure overhead on an unconstrained
    // drain wave.
    val budgetUnbounded =
      robots.isEmpty && conf.waveSeconds / conf.defaultDelay >= maxSeq.toDouble
    val selected = if (budgetUnbounded) {
      allowed.select($"url", $"host", $"depth", $"seq")
    } else {
      // J4 delay semantics: the rule row's crawl_delay is the single
      // source of truth — RobotsTxt.failed() stores v1's conservative
      // 3 s there (`archive/crawler_node.py:75`), present rules carry
      // their own Crawl-delay, and a host with no robots row falls
      // through to the permissive default.
      val delay = if (robots.isEmpty) lit(conf.defaultDelay)
        else coalesce($"crawl_delay", lit(conf.defaultDelay))
      CrawlPipeline.selectWithinBudget(allowed,
        greatest(lit(1L), floor(lit(conf.waveSeconds) / delay)))
    }

    // salted repartition: a hot host spreads over ceil(cnt/target) keys
    // (performance_optimizer.py:585-589 made real; first wave uses the
    // same formula — counts come from this wave's own selection).
    // The per-host count is `host_selected`, read off the politeness rank
    // window: that window already shuffles and sorts the pending set by
    // host, so a count over the same partition is free. A separate
    // groupBy(host) + broadcast join back would evaluate the whole
    // selection subtree (robots filter, host shuffle, sort, row_number) a
    // second time for the count side.
    // NOTE: repartition hashes the key columns — pass (host, salt-bucket)
    // raw. Pre-modding to nPartitions values and hashing those would
    // birthday-collide into ~2/3 of the partitions with 3x skew.
    // On a budget-unbounded drain wave no per-host grouping is needed at
    // all (politeness cannot bind), so there is no rank window and no
    // per-host count: hash the fine-grained `seq` directly. The (host,
    // salt) key space is coarse (~nHosts + hot-host buckets), and whole
    // key-groups colliding into the same partition leaves a ±15% row-
    // count spread across fetch tasks — a straggler tail exactly at the
    // highest core count. A dense unique key hashes to ±2%.
    val salted = if (budgetUnbounded) {
      selected.repartition(conf.nPartitions, $"seq")
    } else {
      CrawlPipeline.saltedFetchPartitions(selected, conf.nPartitions, conf.hostSaltTarget)
    }

    // fetch stage (S3): per-partition fetcher, payload decode + invariant
    val fb = fetcherB
    val fetchedRaw: Dataset[FetchOut] = salted.as[(String, String, Int, Long)]
      .mapPartitions { it =>
        val f = fb.value
        val pid = TaskContext.getPartitionId()
        val exec = Option(org.apache.spark.SparkEnv.get).map(_.executorId).getOrElse("driver")
        it.map { case (url, host, depth, seq) =>
          val pg = f.fetch(url)
          if (pg.status == 200) {
            // thread-local decode: px (and possibly truthPixels) live in
            // per-thread scratch sized >= w*h; both are fully consumed
            // here, before the next fetch on this thread
            val (px, w, h) = ImageCodec.decodeTL(pg.bytes)
            val ps = ImageCodec.psnr(px, pg.truthPixels, w * h)
            val ph = ImageCodec.phash64(px, w, h)
            FetchOut(url, host, depth, seq, 200, success = true, error = null,
              image_id = graft.corpus.SyntheticWeb.imageIdOf(url),
              outLinks = pg.outLinks, psnr = ps,
              captionOk = pg.caption == pg.truthCaption, wave = wave,
              pid = pid, executor = exec, bytes = pg.bytes, caption = pg.caption,
              w = w, h = h, fmt = ImageCodec.format(pg.bytes), phash = ph,
              nLinks = pg.outLinks.size, nBytes = pg.bytes.length.toLong)
          } else
            FetchOut(url, host, depth, seq, pg.status, success = false,
              error = s"http_${pg.status}", image_id = null, outLinks = Seq.empty,
              psnr = 0.0, captionOk = false, wave = wave, pid = pid, executor = exec,
              bytes = null, caption = null, w = 0, h = 0, fmt = null, phash = 0L,
              nLinks = 0, nBytes = 0L)
        }
      }

    // Materialize the fetch EXACTLY ONCE, directly as the wave's staged
    // `images` delta (parquet). Image payloads are written to disk a
    // single time and never pass through the block manager as java
    // objects; every downstream consumer (fetchlog, links, docs,
    // metrics) re-reads only the small columns it needs — parquet
    // column pruning skips the byte pages entirely. The staged dir
    // becomes visible only when the wave's manifest commits.
    // The re-read is bound to the written schema: inferring it from the
    // footers would cost a Spark job per wave.
    val stagedImagesDir = store.stage("images", fetchedRaw.toDF())
    val nFetched = store.stagedStat(stagedImagesDir).rows // the writer's count, no job
    val fetched = spark.read.schema(fetchedRaw.schema).parquet(stagedImagesDir)

    // discoveries: explode links in document order (F10), resolve (F3),
    // scheme-filter (F1), canonicalize (C10)
    val links = fetched.filter($"success")
      .select($"url".as("parent"), $"depth".as("parent_depth"), $"seq".as("parent_seq"),
        posexplode($"outLinks").as(Seq("pos", "href")))
      .withColumn("resolved", resolve_url($"parent", $"href"))
      .filter($"resolved".isNotNull && is_http_url($"resolved"))
      .withColumn("url", canonicalize_url($"resolved"))

    // intra-wave first-seen-wins: pages are conceptually processed in
    // (depth, seq) order, links in document order, so the winning
    // discovery is min (parent_depth, parent_seq, pos) per canonical URL
    // Materialized by an eager localCheckpoint: the two-stage seen-filter
    // fans this into two branches (definitely-new / maybe-seen). The probe
    // predicate references only the groupBy key, so Catalyst would push
    // each branch's filter BELOW the aggregation — the branches' exchange
    // subtrees then differ and ReuseExchange cannot dedupe them,
    // recomputing the full link explode + canonicalize (the wave's widest
    // map stage) once per branch. Checkpointing the post-agg rows (small:
    // distinct URLs only) runs that stage exactly once, in one job, and
    // both branches then scan the checkpoint without a job of their own
    // (a persisted relation costs each branch a cache-stage job).
    // The parent URL string is deliberately NOT in the min-struct: it is
    // recoverable from parent_seq (seq is unique per fetched page), so
    // carrying it would widen the wave's widest shuffle (links ≈ 20× the
    // page count) by a ~60-byte string per row AND make every partial-min
    // comparison a string compare. The winners join back to the fetched
    // pages (small, column-pruned) after the seen-filter instead.
    val candidates = links
      .groupBy($"url")
      .agg(min(struct($"parent_depth", $"parent_seq", $"pos")).as("m"))
      .select($"url", $"m.parent_depth", $"m.parent_seq", $"m.pos",
        ($"m.parent_depth" + 1).as("depth"))
      .localCheckpoint()

    // J1 two-stage dedup vs everything ever enqueued. Below the
    // threshold: one driver-maintained broadcast sketch (merged after
    // each commit, never rebuilt from the full frontier). Above it (the
    // 10^10 path): the executor-side bucketed sketch table — built from
    // the frontier as one distributed aggregation, probed via a
    // bucket-cogroup; nothing sketch-sized ever reaches the driver.
    val useBuckets = maxSeq > conf.seenBucketsThreshold
    val novel = if (useBuckets) {
      UrlSeen.filterNewBucketed(candidates, front.select($"url"), "url",
        conf.seenBuckets, itemsPerBucket = math.max(2L * maxSeq / conf.seenBuckets, 1024L))
    } else {
      val bloom = seenBloom.getOrElse(
        UrlSeen.buildBloom(front.select($"url"), "url", conf.bloomExpectedSeen))
      seenBloom = Some(bloom)
      UrlSeen.filterNewWithBloom(spark, candidates,
        front.select($"url"), "url", bloom)
    }

    // global BFS seq assignment: seq = maxSeq + 1 + rank by (parent_depth,
    // parent_seq, pos), through the shared two-pass range-shuffle rank
    // (Curation.runningOffset; no single-partition window at 10^8
    // discoveries/wave). `novel` is persisted first: the range shuffle
    // samples its input, so an unpersisted plan would evaluate the whole
    // discover subtree twice. Empty-wave short-circuit: a tail wave
    // discovers nothing — isEmpty on the persisted set is one cheap job,
    // versus the rank and stage write it skips.
    val novelP = novel.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stagedFrontierDirOpt: Option[String] = if (novelP.isEmpty) None else {
      val ranked = Curation.runningOffset(novelP.withColumn("n_tokens", lit(1L)),
        Seq($"parent_depth", $"parent_seq", $"pos"), start = maxSeq + 1)
      // the parent URL and the wave come from joining the winners back to
      // this wave's fetched pages on parent_seq (unique; every winner's
      // parent is one of them): a column-pruned parquet read, far cheaper
      // than carrying the parent string through the 20×-larger link
      // aggregation above, and the wave never enters the plan as a literal
      val parents = fetched.select($"seq".as("parent_seq"), $"url".as("parent"), $"wave")
      val newEntries = ranked.join(parents, Seq("parent_seq"))
        .select($"url", url_host($"url").as("host"), $"depth", $"start_tok".as("seq"),
          $"parent", $"wave")
        .as[FrontierEntry]
      val dir = store.stage("frontier", newEntries.toDF())
      Checkpoints.release(newEntries)
      Some(dir)
    }
    novelP.unpersist(blocking = false)
    val nNew = stagedFrontierDirOpt.map(store.stagedStat(_).rows).getOrElse(0L)

    // fetchlog Δ: wave results + robots-denied finalizations (F12 routing).
    // NOTE: the wave number deliberately never appears as a literal in any
    // plan here — a per-wave literal would defeat the codegen cache and
    // recompile every stage every wave; it travels through closures and
    // the $"wave" column of `fetched` instead.
    val wv = wave
    // With no robots rules, `denied` is empty by construction — skip the
    // union branch entirely: even an empty distinct+encode subtree costs
    // a shuffle stage + job setup per wave.
    val flog = deniedOpt match {
      case None => fetched.drop("bytes", "caption", "outLinks")
      case Some(denied) =>
        // no distinct: pending URLs are unique because frontier URLs are
        // (first-seen dedup + the seen-filter admit each URL once)
        val deniedLog = denied.select($"url", $"host", $"depth", $"seq")
          .as[(String, String, Int, Long)]
          .map { case (url, host, depth, seq) =>
            FetchOut(url, host, depth, seq, -1, success = false,
              error = "robots_disallowed", image_id = null, outLinks = Seq.empty,
              psnr = 0.0, captionOk = false, wave = wv, pid = -1, executor = "scheduler",
              bytes = null, caption = null, w = 0, h = 0, fmt = null, phash = 0L,
              nLinks = 0, nBytes = 0L)
          }
        fetched.drop("bytes", "caption", "outLinks")
          .unionByName(deniedLog.toDF().drop("bytes", "caption", "outLinks"))
    }

    // images Δ = the staged fetch parquet itself (S5 content sink): it
    // carries the input_hint schema columns — imageId(image_id-class
    // key), bytes, w, h, fmt, caption, phash — plus fetch metadata;
    // readers filter success=true for payload rows. No second copy of
    // the bytes is ever written.

    // indexed docs Δ (S6/S7 — url-keyed doc table; url is unique because
    // fetchlog prevents refetch, so upsert == append here)
    val docs = fetched.filter($"success").select(
      $"url",
      array_join(slice(split($"caption", " "), 1, 8), " ").as("title"),
      $"caption".as("content"),
      $"host".as("domain"), $"wave".as("crawl_wave"),
      // stored index-time stamp (`indexer_node.py:96` strftime) — the
      // deterministic crawl clock (epoch + 1 s per wave) rather than
      // wall time, so resume-from-snapshot re-runs commit identical rows.
      // Rendered with timezone-FREE civil arithmetic (DATE math + integer
      // time-of-day), never date_format(timestamp), which formats in
      // spark.sql.session.timeZone — a resume under a different session
      // timezone would otherwise change the stored bytes. CrawlEpoch is
      // a fixed constant, so no per-wave literal enters the plan.
      CrawlPipeline.crawlDateCol($"wave").as("crawl_date"))

    // metrics + lineage Δ (A1 counters, per-partition attribution).
    // Both come from one aggregate of the staged scan at the (wave,
    // partition, executor) grain, materialized once (localCheckpoint —
    // one row per fetch task, trivially small); written separately, each
    // table's commit job would re-scan the staged parquet. Metrics is a
    // projection of those rows, not a re-aggregation by (wave,
    // partitionId): each partition id comes from exactly one successful
    // fetch task, so it has exactly one executor and one row here.
    val perPart = fetched.groupBy($"wave", $"pid".as("partitionId"), $"executor")
      .agg(sum(when($"success", 1L).otherwise(0L)).as("fetched"),
        sum(when(!$"success", 1L).otherwise(0L)).as("failed"),
        sum($"nLinks").cast("long").as("linksExtracted"),
        sum($"nBytes").as("bytesWritten"),
        count(lit(1)).as("nRows"))
      .localCheckpoint()
    val metrics = perPart
      .select($"wave", $"partitionId", $"fetched", $"failed", $"linksExtracted", $"bytesWritten")
      .withColumn("newUrls", lit(null).cast("long"))
    val lineage = perPart
      .select($"wave", $"partitionId", $"executor", $"nRows")
      .withColumn("stage", lit("fetch"))

    val staged = Seq.newBuilder[(String, String)]
    if (nFetched > 0) staged += "images" -> stagedImagesDir
    stagedFrontierDirOpt.foreach(staged += "frontier" -> _)
    val deltas = Seq.newBuilder[(String, DataFrame)]
    deltas += "fetchlog" -> flog
    if (nFetched > 0) {
      deltas += "indexed_docs" -> docs
      deltas += "metrics" -> metrics
      deltas += "lineage" -> lineage
    }
    store.commit(deltas.result(),
      Map("wave" -> wave.toString, "fetched" -> nFetched.toString, "new_urls" -> nNew.toString),
      staged = staged.result())
    // an all-denied wave stages an empty images dir that no manifest
    // references (it is excluded from `staged` above) — discard it after
    // the commit's fetchlog write has re-read it
    if (nFetched == 0) store.discard(stagedImagesDir)
    // every checkpoint the wave made is an RDD leaf of one of these plans:
    // the robots-joined pending set (flog's denied branch), `candidates`,
    // the bucketed seen-filter's classified set (novel), `perPart`
    Checkpoints.release(flog, candidates, novel, perPart)

    if (!useBuckets)
      stagedFrontierDirOpt.foreach(dir =>
        seenBloom.foreach(_.mergeInPlace(UrlSeen.buildBloom(
          spark.read.schema(frontierSchema).parquet(dir), "url", conf.bloomExpectedSeen))))
    nFetched
  }

  /** Drive waves until the frontier drains or maxWaves; resumes from the
    * last committed snapshot (wave counter from commit metadata). */
  def run(maxWaves: Int): Int = {
    val startWave = store.currentSnapshotId
      .map(id => store.commitMeta(id).get("wave").map(_.toInt + 1).getOrElse(1))
      .getOrElse(1)
    var wave = startWave
    var fetchedSomething = true
    while (fetchedSomething && wave < startWave + maxWaves) {
      fetchedSomething = runWave(wave) > 0
      if (fetchedSomething) {
        // periodic log-table compaction (images excluded: payload dirs
        // are already write-once-right-sized and must never be rewritten)
        if (conf.compactEveryWaves > 0 && wave % conf.compactEveryWaves == 0) {
          Seq("frontier", "fetchlog", "metrics", "lineage")
            .foreach(t => store.compact(spark, t))
        }
        wave += 1
      }
    }
    wave - 1
  }
}

object CrawlPipeline {
  /** Deterministic crawl clock origin (2025-01-01T00:00:00Z): indexed
    * docs stamp `crawl_date` = epoch + wave seconds, keeping resume
    * re-runs byte-identical where the reference's `time.strftime`
    * (`indexer_node.py:96`) would not be. */
  val CrawlEpoch: Long = 1735689600L

  /** `crawl_date` rendering: "yyyy-MM-dd HH:mm:ss" of the UTC instant
    * CrawlEpoch + wave, built from timezone-free civil arithmetic (DATE
    * day-offset math + integer time-of-day). `date_format(timestamp)`
    * would render in spark.sql.session.timeZone, so the same snapshot
    * resumed under a different session timezone would commit different
    * bytes; this expression is a pure function of `wave` under ANY
    * session configuration, and whole-stage-codegens like any other
    * string concat. */
  def crawlDateCol(wave: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val epochS = lit(CrawlEpoch) + wave.cast("long")
    val days = floor(epochS / 86400L).cast("int")
    val secs = (epochS - days.cast("long") * 86400L).cast("long")
    val two = (c: org.apache.spark.sql.Column) => lpad(c.cast("string"), 2, "0")
    concat(
      date_add(lit(java.sql.Date.valueOf("1970-01-01")), days).cast("string"), lit(" "),
      two(floor(secs / 3600L).cast("long")), lit(":"),
      two(floor(pmod(secs, lit(3600L)) / 60L).cast("long")), lit(":"),
      two(pmod(secs, lit(60L))))
  }

  /** The per-host politeness selection (§2.8): the first `budget` pending
    * URLs of each host in (depth, seq) order. `allowed` carries url, host,
    * depth and seq; `budget` must be constant within a host. The result
    * keeps those four columns plus `host_selected`, the host's selected
    * row count, min(budget, pending count). That count comes from the
    * rank window itself — `count(1)` over the same (host ORDER BY depth,
    * seq) partition with an unbounded frame — so it shares the rank's
    * one shuffle + sort and costs no second pass over the selection. */
  def selectWithinBudget(allowed: DataFrame, budget: Column): DataFrame = {
    val rankW = Window.partitionBy(col("host")).orderBy(col("depth"), col("seq"))
    val hostW = rankW.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    allowed
      .withColumn("budget", budget)
      .withColumn("rk", row_number().over(rankW))
      .withColumn("host_selected", least(col("budget"), count(lit(1)).over(hostW)))
      .filter(col("rk") <= col("budget"))
      .select(col("url"), col("host"), col("depth"), col("seq"), col("host_selected"))
  }

  /** The politeness-bounded fetch stage's salted partitioning (moved out
    * of runWave so the skew bound is spec-testable — the SURVEY §4
    * "domain-aware crawling" recommendation made measurable,
    * `performance_optimizer.py:585-589`). `selected` is the output of
    * [[selectWithinBudget]]: its `host_selected` column is each row's
    * host's row count in THIS selection. Salt = floor(count/target)
    * buckets per host, repartition on the RAW (host, seq % salt) pair —
    * pre-modding the pair to nPartitions values and hashing those
    * birthday-collides into ~2/3 of the partitions with 3× skew
    * (BASELINE.md "Scale notes"). A host holding half the selection
    * spreads over count/target buckets, so per-partition row counts
    * stay near-uniform; CrawlParitySpec pins the ≤2× bound on a
    * 50%-one-host selection. */
  def saltedFetchPartitions(selected: DataFrame, nPartitions: Int,
                            hostSaltTarget: Int): DataFrame =
    selected
      .withColumn("salt", greatest(lit(1L), floor(col("host_selected") / lit(hostSaltTarget))))
      .repartition(nPartitions, col("host"), pmod(col("seq"), col("salt")))
      .select(col("url"), col("host"), col("depth"), col("seq"))
}

/** Flat fetch-stage row: FetchResult fields + payload + lineage. */
case class FetchOut(
    url: String, host: String, depth: Int, seq: Long,
    status: Int, success: Boolean, error: String, image_id: String,
    outLinks: Seq[String], psnr: Double, captionOk: Boolean, wave: Int,
    pid: Int, executor: String, bytes: Array[Byte], caption: String,
    w: Int, h: Int, fmt: String, phash: Long,
    nLinks: Int, nBytes: Long) // precomputed so metrics never scan payload columns
