package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Corpus-curation operators a large-scale training-data pipeline needs
 * around the dedup/quality core: deterministic dataset splits and
 * source-mixing weights. Both are pure column math / one-shuffle
 * aggregations — no UDFs, no driver-side state — so they cost the same
 * per-row at 100 TB as at test scale.
 */
object Curation {

  /** Hash bucket in [0, 100): first 8 hex chars of md5(id-as-string).
    * md5 over the decimal string (not the raw bytes) so any engine —
    * and any resharding of the table — assigns the same bucket to the
    * same id; the split is stable across reruns and engine versions,
    * which is what makes held-out sets trustworthy. */
  private def hashBucket(idCol: Column): Column =
    conv(substring(md5(idCol.cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long") % 100

  /** The split label as a composable column (for pipelines that tag
    * rows in place rather than projecting down to (id, split)). */
  def splitCol(idCol: Column, trainPct: Int = 80, valPct: Int = 10): Column =
    when(hashBucket(idCol) < trainPct, lit("train"))
      .when(hashBucket(idCol) < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))

  /**
   * Deterministic train/val/test assignment by content-independent id
   * hash (trainPct / valPct / remainder). A `rand()`-based split would
   * differ per run and per partitioning; a mod-on-id split correlates
   * with ingestion order. The md5 bucket is uniform and reproducible —
   * the standard trick for stable held-out sets in data pipelines.
   */
  def hashSplit(df: DataFrame, id: String,
                trainPct: Int = 80, valPct: Int = 10): DataFrame =
    df.select(col(id), splitCol(col(id), trainPct, valPct).as("split"))

  /**
   * Deterministic stratified sampling — the data-mixing half of
   * curation: keep a row iff its salted id-hash bucket (uniform in
   * [0, 1e6)) falls below floor(stratum_rate × 1e6). `rates` is a tiny
   * (stratum, rate) table — e.g. mix weights normalized to the dominant
   * source — broadcast to the corpus, so sampling is one broadcast join
   * + filter: no corpus shuffle, and the kept set is reproducible
   * across runs, engines, and resharding (the hashSplit guarantee).
   * The hash is salted (`"<id>:sample"`) so sampling stays independent
   * of hashSplit's train/val/test buckets; strata missing from `rates`
   * drop (rate 0).
   */
  def stratifiedSample(df: DataFrame, id: String, stratum: String,
                       rates: DataFrame, rateCol: String): DataFrame = {
    val bucket =
      conv(substring(md5(concat(col(id).cast("string"), lit(":sample")).cast("binary")), 1, 8),
        16, 10).cast("long") % 1000000L
    df.join(broadcast(rates), Seq(stratum), "left")
      .filter(bucket < floor(col(rateCol) * 1000000d))
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /**
   * Curation funnel attribution — "which filter is eating my corpus":
   * given the pipeline's ORDERED (stage, keep-predicate) list, label
   * every row with the FIRST stage that rejects it (null = survives
   * the whole funnel). The label is one coalesce(when…) chain — pure
   * column logic, codegen'd, a single corpus pass with no shuffle —
   * which is what makes the view affordable to emit on every 100-TB
   * curation run rather than only when debugging.
   */
  def funnelLabel(df: DataFrame, stages: Seq[(String, Column)]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    df.withColumn("dropped_by",
      stages.map { case (name, keep) => when(!keep, lit(name)) }
        .reduce(coalesce(_, _)))
  }

  /**
   * The per-stage funnel report over [[funnelLabel]] output: for each
   * stage in order, rows reaching it (`n_in`), rows it dropped
   * (`n_dropped`), rows it passed through (`n_out` — the next stage's
   * `n_in`). One corpus-wide groupBy on the label (map-side partial),
   * then the cumulative math runs on the STAGES-sized frame (a handful
   * of rows — the single-partition window is over #stages rows, not
   * the corpus).
   */
  def funnelReport(labeled: DataFrame, stages: Seq[String]): DataFrame = {
    val spark = labeled.sparkSession
    import spark.implicits._
    // ONE corpus pass: the per-label counts (stages+1 rows, survivors
    // under the null label) also carry the total — no second count job
    val drops = labeled.groupBy(col("dropped_by"))
      .agg(count(lit(1)).as("n_dropped"))
      .localCheckpoint()
    val total = drops.agg(sum(col("n_dropped")).as("n_total"))
    val stageDf = stages.zipWithIndex
      .map { case (s, i) => (i + 1, s) }.toDF("stage_idx", "stage")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("stage_idx"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    stageDf
      .join(drops, col("stage") === col("dropped_by"), "left")
      .crossJoin(broadcast(total))
      .withColumn("n_dropped", coalesce(col("n_dropped"), lit(0L)))
      .withColumn("n_in", col("n_total") - coalesce(sum(col("n_dropped")).over(w), lit(0L)))
      .withColumn("n_out", col("n_in") - col("n_dropped"))
      .select(col("stage_idx"), col("stage"), col("n_in"), col("n_dropped"), col("n_out"))
  }

  /**
   * Temperature-weighted source mixing (public practice: XLM-R / mT5
   * multinomial sampling with exponent α = 0.5): a training mix that
   * samples source i with probability q_i ∝ p_i^α, where p_i is the
   * source's token share — low-resource sources are oversampled
   * (q_i > p_i), dominant ones damped, the standard fix for a corpus
   * where one crawl dump would otherwise drown the rest.
   *
   * Determinism: the N^α factor cancels in the normalization, so
   * q_i ∝ sqrt(n_i). sqrt is IEEE-correctly-rounded and
   * floor(·×10⁶) is engine-portable, so s_i = floor(sqrt(n_i)·10⁶) is
   * a LONG both engines agree on — and from there everything is
   * integer ppm fixed point: the normalizing sums are integer (exact,
   * associative, partition-order independent — no float sum ever
   * crosses the wire) and the shares are floor divisions. Bounds: the
   * ×10⁶ ppm scaling overflows past ~9.2×10¹² tokens in one source;
   * corpora past that scale the ppm constant down.
   *
   * Scale: one groupBy(stratum) aggregate over the corpus + a 1-row
   * totals broadcast — the per-source table is vocabulary-sized
   * (thousands of rows at 100 TB), so the mix math is free.
   */
  def temperatureMix(df: DataFrame, stratum: String, nTokens: Column): DataFrame = {
    // materialized: the per-source frame (sources-sized, tiny) feeds both
    // the output and the totals — without the checkpoint each consumer
    // re-runs the corpus-wide tokenize+sum scan
    val per = df.groupBy(col(stratum))
      .agg(sum(nTokens.cast("long")).as("n_tokens"))
      .withColumn("s_i", floor(sqrt(col("n_tokens").cast("double")) * 1000000d).cast("long"))
      .localCheckpoint()
    val tot = per.agg(sum(col("n_tokens")).as("NN"), sum(col("s_i")).as("SS"))
    per.crossJoin(broadcast(tot))
      .select(col(stratum), col("n_tokens"),
        expr("n_tokens * 1000000 div NN").as("p_ppm"),
        expr("s_i * 1000000 div SS").as("q_ppm"),
        // a sub-ppm source has p_ppm = 0: oversample undefined (null),
        // not a division error
        when(expr("n_tokens * 1000000 div NN") === 0L, lit(null).cast("long"))
          .otherwise(expr("(s_i * 1000000 div SS) * 1000000 div (n_tokens * 1000000 div NN)"))
          .as("oversample_ppm"))
  }

  /**
   * Benchmark decontamination (training-data hygiene): the fraction of
   * each document's DISTINCT word n-grams that appear anywhere in a
   * held-out benchmark set; `contaminated` flags fractions >=
   * `threshold` for removal before training. Benchmarks are tiny next
   * to the corpus (MBs vs 100 TB), so the benchmark gram set
   * `broadcast`s and the probe is a map-side broadcast left join; the
   * corpus is exploded exactly once and the only corpus-wide shuffle
   * is the per-document aggregate.
   */
  def contamination(df: DataFrame, id: String, text: String,
                    bench: DataFrame, benchText: String,
                    n: Int = 3, threshold: Double = 0.5): DataFrame = {
    // grams travel as xxhash64 longs on BOTH sides (output is counts
    // only — the hashedShingles trade): the broadcast set holds 8-byte
    // keys and the corpus-side probe compares longs. The bench side
    // materializes its token array before the shingle transform (the
    // interpreted-HOF re-evaluation trap).
    val docGrams = graft.ops.Dedup.hashedShingles(df, id, text, n)
    val benchGrams = bench
      .select(TextAnalysis.tokensCol(col(benchText)).as("__tk"))
      .select(explode(graft.ops.Dedup.shinglesFromToks(col("__tk"), n)).as("shingle"))
      .select(xxhash64(col("shingle")).as("shingle"))
      .distinct()
      .withColumn("bench_hit", lit(true))
    docGrams.join(broadcast(benchGrams), Seq("shingle"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("bench_hit"), 1)).as("n_hit"))
      .withColumn("contam_frac",
        round(col("n_hit").cast("double") / col("n_grams"), 6))
      .withColumn("contaminated",
        col("n_hit").cast("double") / col("n_grams") >= threshold)
  }

  /**
   * Sequence packing (concat-and-chunk): documents laid end-to-end in
   * ascending-id order, the token stream cut into fixed `budget`-token
   * packs — the batch-layout step of LLM pretraining (each document is
   * tagged with its starting token offset, its first/last pack, and how
   * many packs it spans; boundary documents span two or more).
   *
   * Scale: the global exclusive prefix sum is two passes over ONE
   * range-repartition shuffle, never a single-partition window (and
   * never the pid-hash re-shuffle a `Window.partitionBy(pid)` would
   * plan): per-partition token totals (one long per partition) are
   * prefix-summed on the driver and broadcast back, then a per-
   * partition running sum assigns offsets ([[runningOffset]], which the
   * crawl pipeline's BFS seq assignment also uses). Pack ids use
   * integer `div`, exact at any corpus size (no double rounding).
   */
  /** The prefix-sum helpers project internal working columns next to the
    * caller's id column; an id NAMED like one of them would silently
    * produce a duplicate/ambiguous column instead of an error. Fail
    * fast with the rename instruction instead. */
  private[ops] def requireIdFree(op: String, id: String, reserved: String*): Unit =
    require(!reserved.contains(id),
      s"$op: id column '$id' collides with an internal column " +
        s"(reserved here: ${reserved.mkString(", ")}); alias it upstream")

  def packSequences(df: DataFrame, id: String, nTokens: Column,
                    budget: Long): DataFrame = {
    requireIdFree("packSequences", id,
      "n_tokens", "start_tok", "last_tok", "pack_first", "pack_last", "n_packs")
    runningOffset(df.select(col(id), nTokens.cast("long").as("n_tokens")),
        Seq(col(id)))
      // last occupied token (empty docs occupy none: clamp to start_tok)
      .withColumn("last_tok", greatest(col("start_tok"), col("start_tok") + col("n_tokens") - 1))
      .select(col(id), col("n_tokens"), col("start_tok"),
        expr(s"start_tok div $budget").as("pack_first"),
        expr(s"last_tok div $budget").as("pack_last"),
        (expr(s"last_tok div $budget") - expr(s"start_tok div $budget") + 1).as("n_packs"))
  }

  /** Distributed exclusive prefix sum: reorders `df` (which must carry a
    * long `n_tokens` column) by `sortExprs` and adds `start_tok` = `start`
    * + sum of `n_tokens` over all preceding rows in that order. Two passes
    * over ONE range-repartition shuffle, never a single-partition window:
    * per-partition totals (one long each) are prefix-summed on the driver
    * and broadcast back, then a per-partition running sum assigns offsets.
    * With `n_tokens` = 1 and unique sort keys this is a dense global rank
    * — the crawl's BFS seq and its seed numbering. The sorted rows are
    * persisted by the first pass (the job that sums them), so the second
    * reads them back without a job of its own; [[Checkpoints.release]] on
    * the result frees them, and the ContextCleaner does once callers drop
    * it. */
  private[graft] def runningOffset(df: DataFrame, sortExprs: Seq[Column],
                                   start: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    val nParts = spark.sessionState.conf.numShufflePartitions
    val base = df
      .repartitionByRange(nParts, sortExprs: _*)
      .sortWithinPartitions(sortExprs: _*)
    val ti = base.schema.fieldIndex("n_tokens")
    // Both passes run at the InternalRow level (GraftBridge): the public
    // `.rdd` / `createDataFrame` pair would funnel every row through the
    // external-type converters (UTF8String->String and back, etc.) twice
    // — pure per-row overhead the running sum doesn't need. Rows are
    // copied before caching because the source iterator may reuse its
    // UnsafeRow buffer.
    val internal = org.apache.spark.sql.GraftBridge.toInternalRdd(base)
      .map(_.copy())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val partSums = internal.mapPartitionsWithIndex { (pid, it) =>
      var s = 0L; it.foreach(r => s += r.getLong(ti)); Iterator((pid, s))
    }.collect().toMap
    val offsets = (0 until partSums.size).scanLeft(start)((acc, p) => acc + partSums(p))
    val bcOff = spark.sparkContext.broadcast(offsets)
    val baseSchema = base.schema
    val nFields = baseSchema.length
    val dts = baseSchema.fields.map(_.dataType)
    val schema = baseSchema.add("start_tok", org.apache.spark.sql.types.LongType)
    val out = internal.mapPartitionsWithIndex { (pid, it) =>
      var acc = bcOff.value(pid)
      it.map { r =>
        val vals = new Array[Any](nFields + 1)
        var i = 0
        while (i < nFields) {
          vals(i) = if (r.isNullAt(i)) null else r.get(i, dts(i))
          i += 1
        }
        vals(nFields) = acc
        acc += r.getLong(ti)
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
          : org.apache.spark.sql.catalyst.InternalRow
      }
    }
    org.apache.spark.sql.GraftBridge.fromInternalRdd(spark, out, schema)
  }

  /**
   * Quality-greedy selection under a global token budget — the "take the
   * best B tokens" step of curated pretraining (public practice: score
   * the corpus, keep the highest-quality documents until the token
   * budget is exhausted). Documents are ordered (quality DESC, id ASC —
   * the id tie-break makes equal-quality cuts reproducible) and
   * `selected` is true while the running token total stays ≤ `budget`.
   *
   * Scale: the global ordered prefix sum reuses [[packSequences]]'
   * two-pass range-shuffle machinery — one shuffle, no single-partition
   * window, exact integer running totals at any corpus size.
   */
  def selectUnderBudget(df: DataFrame, id: String, nTokens: Column,
                        quality: Column, budget: Long): DataFrame = {
    requireIdFree("selectUnderBudget", id,
      "quality", "n_tokens", "start_tok", "cum_tokens", "selected")
    runningOffset(
        df.select(col(id), quality.as("quality"), nTokens.cast("long").as("n_tokens")),
        Seq(col("quality").desc, col(id)))
      .withColumn("cum_tokens", col("start_tok") + col("n_tokens"))
      .withColumn("selected", col("cum_tokens") <= budget)
      .select(col(id), col("quality"), col("n_tokens"), col("cum_tokens"), col("selected"))
  }

  /**
   * Balanced shard assignment — the "write the corpus as S training
   * shards of near-equal token mass" step every epoch-sharded trainer
   * needs (WebDataset/TFRecord sharding, public practice). Documents
   * are ranked (cost DESC, id ASC) and dealt boustrophedon ("snake"):
   * rank r → slot r mod 2S, shard = min(slot, 2S−1−slot), so each
   * full cycle gives every shard exactly two documents — one from the
   * heavy half of the cycle and one from the light half. On a
   * descending-cost order this is the classic LPT-flavored dealing:
   * per-shard totals stay within one cycle's cost spread of each
   * other (measured bound pinned by CurationSpec).
   *
   * Scale: the global rank is the [[packSequences]] two-pass
   * range-shuffle prefix sum (`n_tokens = 1` turns the running total
   * into a 0-based rank) — ONE range shuffle, never a
   * single-partition window; the snake math is pure integer column
   * arithmetic. Deterministic: rank is a pure function of the (cost,
   * id) order, ties broken by id.
   */
  def shardAssign(df: DataFrame, id: String, cost: Column,
                  nShards: Int): DataFrame = {
    requireIdFree("shardAssign", id, "cost", "n_tokens", "start_tok", "slot", "shard")
    val cycle = 2L * nShards
    runningOffset(
        df.select(col(id), cost.cast("long").as("cost"), lit(1L).as("n_tokens")),
        Seq(col("cost").desc, col(id)))
      .withColumn("slot", pmod(col("start_tok"), lit(cycle)))
      .withColumn("shard",
        least(col("slot"), lit(cycle - 1) - col("slot")).cast("int"))
      .select(col(id), col("cost"), col("shard"))
  }

  /**
   * Fixed-ratio two-stream interleave — the deterministic training
   * order for mixed-modality corpora (Flamingo/LLaVA-style schedules
   * mix image-caption and text batches at a fixed ratio, public
   * practice): every cycle of aPer+bPer global slots holds aPer
   * stream-A rows then bPer stream-B rows, each stream in its own id
   * order. slot = (pos div per)·cycle + offset + (pos mod per) — a
   * pure function of the row's within-stream position, so the layout
   * is reproducible across reshardings and engines, and when one
   * stream exhausts the other's slots simply continue (the trainer
   * compacts; keeping the formula pure keeps it oracle-checkable).
   *
   * Scale: one [[runningOffset]] two-pass range-shuffle rank per
   * stream (never a single-partition window) + a union; the slot
   * math is integer column arithmetic.
   */
  def interleaveStreams(a: DataFrame, b: DataFrame, id: String,
                        aPer: Int, bPer: Int): DataFrame = {
    requireIdFree("interleaveStreams", id,
      "n_tokens", "start_tok", "modality", "pos", "slot")
    val cycle = (aPer + bPer).toLong
    def ranked(df: DataFrame, mod: String): DataFrame =
      runningOffset(df.select(col(id)).withColumn("n_tokens", lit(1L)),
          Seq(col(id)))
        .select(col(id), lit(mod).as("modality"), col("start_tok").as("pos"))
    val ra = ranked(a, "a").withColumn("slot",
      expr(s"pos div $aPer") * cycle + pmod(col("pos"), lit(aPer.toLong)))
    val rb = ranked(b, "b").withColumn("slot",
      expr(s"pos div $bPer") * cycle + lit(aPer.toLong) +
        pmod(col("pos"), lit(bPer.toLong)))
    ra.unionByName(rb)
  }

  /**
   * Per-stratum quality calibration (FineWeb/CCNet-style per-dump
   * thresholding, public practice): raw quality signals are not
   * comparable across sources — a news dump and a forum dump have
   * different score distributions — so each row gets its within-stratum
   * percentile rank and the keep decision is made on the percentile.
   * percent_rank = (rank−1)/(n−1): deterministic under ties (equal
   * scores share a percentile) and engine-portable (one IEEE division).
   *
   * Scale: `Window.partitionBy(stratum)` would hash-route EVERY row of a
   * stratum into one task's sort — and real corpora are dump-skewed (one
   * CommonCrawl dump can be most of the corpus), so the dominant stratum
   * becomes a single-task sort of ~everything. The default here is
   * therefore the exact range-partition two-pass rank (the
   * [[packSequences]] prefix-sum shape, generalized to grouped ranks):
   *
   *   1. `repartitionByRange(stratum, raw_score)` + in-partition sort —
   *      a dominant stratum spreads over MANY partitions because the
   *      range boundaries cut on (stratum, score), not stratum alone;
   *      rows with identical keys still land in one partition (the range
   *      partitioner is a pure function of the key), so a tie group
   *      never straddles a boundary.
   *   2. One tiny driver pass over per-(partition, stratum) row counts —
   *      at most nPartitions + #strata − 1 entries since each stratum
   *      occupies a contiguous partition span — yields each partition's
   *      within-stratum start offset and each stratum's total n.
   *   3. A second partition-local pass assigns SQL RANK (ties share the
   *      tie-group leader's rank) from offset + local position, then
   *      percent_rank = (rank−1)/(n−1) (0.0 for n=1, as SQL defines it).
   *
   * Exactness: rank is a pure function of the (stratum, score) multiset,
   * so the result is bit-identical to the window form at any
   * partitioning — the window stays the cross-engine oracle. Pipelines
   * that can accept approximation instead broadcast per-source
   * `percentile_approx` thresholds and skip the sort entirely.
   *
   * Known limit: the range partitioner cannot split a single key, so a
   * dominant stratum whose rows mostly share ONE discrete score (e.g.
   * an upstream classifier that emits 0 for 90% of a dump) still lands
   * that tie group in one partition — correct, but single-task for
   * that group. Continuous scores don't hit this; discrete-scored
   * corpora should pre-jitter the score with a deterministic id-hash
   * epsilon below the score's resolution, or use the
   * `percentile_approx` threshold path.
   */
  def calibrateQuality(df: DataFrame, id: String, stratum: String,
                       score: Column, dropBelowPctl: Double = 0.1): DataFrame = {
    val spark = df.sparkSession
    val nParts = spark.sessionState.conf.numShufflePartitions
    val base = df.select(col(id), col(stratum), score.as("raw_score"))
      .repartitionByRange(nParts, col(stratum), col("raw_score"))
      .sortWithinPartitions(col(stratum), col("raw_score"))
      .localCheckpoint()
    val si = base.schema.fieldIndex(stratum)
    val vi = base.schema.fieldIndex("raw_score")
    // pass 1: per-(partition, stratum) counts, in partition-scan order
    val counts: Array[(Int, Any, Long)] = base.rdd.mapPartitionsWithIndex { (pid, it) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[Any, Long]
      it.foreach { r => val k = sqlKey(r.get(si)); m.update(k, m.getOrElse(k, 0L) + 1L) }
      m.iterator.map { case (k, n) => (pid, k, n) }.toList.iterator
    }.collect()
    // within-stratum start offset of each (pid, stratum) + per-stratum n
    val totals = scala.collection.mutable.HashMap.empty[Any, Long]
    val offsets = scala.collection.mutable.HashMap.empty[(Int, Any), Long]
    counts.sortBy(_._1).foreach { case (pid, k, n) =>
      val seen = totals.getOrElse(k, 0L)
      offsets((pid, k)) = seen
      totals(k) = seen + n
    }
    val bcOff = spark.sparkContext.broadcast(offsets.toMap)
    val bcTot = spark.sparkContext.broadcast(totals.toMap)
    val schema = base.schema
      .add("pctl", org.apache.spark.sql.types.DoubleType)
      .add("keep", org.apache.spark.sql.types.BooleanType)
    // pass 2: partition-local rank assignment over the sorted rows
    val ranked = base.rdd.mapPartitionsWithIndex { (pid, it) =>
      val off = bcOff.value; val tot = bcTot.value
      var curK: Any = null; var curV: Any = null
      var seen = 0L; var rank = 0L; var started = false
      it.map { r =>
        val k = sqlKey(r.get(si)); val v = sqlKey(r.get(vi))
        if (!started || k != curK) {
          curK = k; curV = v; started = true
          seen = off((pid, k)); rank = seen + 1
        } else if (v != curV) { curV = v; rank = seen + 1 }
        seen += 1
        val n = tot(k)
        val pctl = if (n <= 1L) 0.0 else (rank - 1).toDouble / (n - 1).toDouble
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ pctl :+ (pctl >= dropBelowPctl))
      }
    }
    spark.createDataFrame(ranked, schema)
  }

  /** Deterministic tie-breaking jitter for DISCRETE quality scores —
    * the documented [[calibrateQuality]] mitigation for its known
    * limit: the range partitioner cannot split one key, so a dominant
    * stratum whose rows share a single discrete score lands that whole
    * tie group in one partition (correct but single-task). Adding an
    * id-hash epsilon strictly BELOW the score's resolution makes every
    * key unique — the tie group then spreads across range partitions —
    * without ever reordering two rows whose true scores differ:
    *
    *   jittered = score + (xxhash64(id) mod 2^20) / 2^20 × resolution/2
    *
    * so the epsilon is in [0, resolution/2) ⊂ [0, resolution). The
    * epsilon is a pure function of the id (partition-order free,
    * engine-portable: xxhash64 is the same on any Spark cluster), so
    * reruns and oracles agree bit-for-bit. Semantics shift exactly as a
    * caller opting in expects: former ties now rank in id-hash order
    * (percent_rank spreads over the tie group instead of sharing the
    * leader's), which is the SAME keep/drop family a window over the
    * jittered column yields — CurationSpec pins both the parity and the
    * multi-partition spread. `resolution` = the smallest gap between
    * distinct true scores (1.0 for integer scores). */
  def jitteredScore(score: Column, id: Column, resolution: Double): Column =
    score.cast("double") +
      pmod(xxhash64(id), lit(1048576L)).cast("double") / 1048576d *
        (resolution / 2d)

  /** Spark's range partitioner / sort ordering treats -0.0 == 0.0 and
    * NaN == NaN; boxed java.lang.Double/Float equality disagrees on the
    * zeros. Normalize zeros so tie-group detection and the
    * per-stratum count maps agree with SQL ordering equality
    * (NaN boxes already compare equal via ==). */
  private def sqlKey(a: Any): Any = a match {
    case d: java.lang.Double if d.doubleValue() == 0.0 => java.lang.Double.valueOf(0.0)
    case f: java.lang.Float if f.floatValue() == 0.0f  => java.lang.Float.valueOf(0.0f)
    case x => x
  }

  /**
   * Source-mixing weights for corpus sampling: weight(source) ∝
   * (token count)^alpha, normalized. alpha < 1 up-weights small
   * sources relative to proportional sampling — the multilingual /
   * multi-source mixing rule from public LM-training practice (e.g.
   * alpha-smoothed sampling in the mBERT/XLM-R papers). Two hash
   * aggregations (per-source, then a single-row total broadcast back);
   * weights rounded to 6 decimals for cross-engine float stability.
   */
  def domainMixWeights(df: DataFrame, source: String, text: String,
                       alpha: Double = 0.7): DataFrame = {
    // sources-sized, materialized once for both consumers (see
    // temperatureMix — an unmaterialized `per` re-scans the corpus for
    // the normalizer branch)
    val per = df
      .select(col(source), size(TextAnalysis.tokensCol(col(text))).as("nt"))
      .groupBy(col(source))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .localCheckpoint()
    val tot = per.agg(sum(pow(col("n_tokens").cast("double"), alpha)).as("z"))
    per.crossJoin(broadcast(tot))
      .select(col(source), col("n_docs"), col("n_tokens"),
        round(pow(col("n_tokens").cast("double"), alpha) / col("z"), 6).as("mix_weight"))
  }

  /**
   * Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES) in
   * exact integer form: each row gets the MAX of `weight` independent
   * uniform hash draws as its key, and the global top-k keys are the
   * sample. max of w uniforms ~ U^(1/w), which is exactly the E-S key,
   * so inclusion probabilities match sequential weighted draws without
   * replacement — but with integer hashes instead of floats, the
   * ranking is bit-reproducible across engines, partitionings and row
   * orders (no pow/ln ulp divergence). Weights must be small positive
   * ints (each row explodes into `weight` replicas; the draw count is
   * Σw, so cap weights ≤ ~64 and rescale upstream — at that cap the
   * explode is map-side only and never materializes through a shuffle).
   *
   * Scale shape: explode → per-id partial MAX combines map-side, ONE
   * shuffle on the id carries one row per id, and the top-k plans as
   * TakeOrderedAndProject (per-partition heaps, never a full sort).
   * Ties are broken by id so LIMIT is total-order deterministic.
   */
  def weightedSample(df: DataFrame, id: String, weight: Column, k: Int,
                     salt: String = "es"): DataFrame = {
    val w = greatest(lit(1L), weight.cast("long"))
    df.select(col(id), w.as("weight"))
      .withColumn("r", explode(sequence(lit(1L), col("weight"))))
      .withColumn("u",
        conv(substring(md5(concat(col(id).cast("string"), lit(":"),
          col("r").cast("string"), lit(":" + salt)).cast("binary")), 1, 8),
          16, 10).cast("long"))
      .groupBy(col(id))
      .agg(max(col("weight")).as("weight"), max(col("u")).as("es_key"))
      .orderBy(col("es_key").desc, col(id))
      .limit(k)
  }

  /** T56: exact heavy hitters without a full-tail shuffle (Misra–Gries
    * candidates + exact verification). Returns every key whose exact
    * frequency EXCEEDS n/(capacity+1), with its exact count — hot-host
    * detection over a 10^10-row fetchlog, hot-token detection over a
    * token stream, without ever shuffling the long tail.
    *
    * Why not `groupBy(key).count()`: at 100 TB the distinct-key tail
    * (most of a web corpus) dominates the exchange. Misra–Gries per
    * partition (capacity counters, decrement-on-overflow) guarantees
    * any key with global freq > n/(capacity+1) survives in at least one
    * partition's counter set (pigeonhole over the partition split), so
    * the candidate set is a SUPERSET of the answer at O(partitions ×
    * capacity) rows. The exact pass then counts ONLY candidate-matching
    * rows: a broadcast semi-join prunes map-side, and the verifying
    * aggregate shuffles at most `capacity × partitions` distinct keys.
    * Output is exact and engine-reproducible (the sketch only ever
    * over-approximates the candidate set; both engines apply the same
    * integer threshold to exact counts).
    *
    * mapPartitions is the documented last resort — used here because
    * decrement-on-overflow is genuinely per-partition imperative state
    * no aggregate expression expresses; it touches only the key column.
    */
  def heavyHitters(df: DataFrame, key: String, capacity: Int): DataFrame = {
    import df.sparkSession.implicits._
    // the key projection feeds three consumers (the MG pass, the total
    // count, the exact verification) — materialize it once, in the
    // ORIGINAL key type so the output schema matches the input's
    val sel = df.select(col(key)).localCheckpoint()
    val candidates = sel.select(col(key).cast("string")).as[String].mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { k =>
        counters.get(k) match {
          case Some(c) => counters(k) = c + 1
          case None if counters.size < capacity => counters(k) = 1L
          case None =>
            // decrement every counter; evict zeros (the MG step)
            val dead = List.newBuilder[String]
            counters.keysIterator.foreach { kk =>
              val c = counters(kk) - 1
              if (c == 0) dead += kk else counters(kk) = c
            }
            dead.result().foreach(counters.remove)
        }
      }
      counters.keysIterator
    }.toDF("k").distinct()
    val n = sel.count()
    val threshold = n / (capacity + 1)
    // null-safe equality: the MG pass counts a null key (HashMap keeps
    // it), so the verification join must be able to match it back —
    // plain === drops null-heavy columns from the output silently
    sel.join(broadcast(candidates), col(key).cast("string") <=> col("k"), "left_semi")
      .groupBy(col(key))
      .agg(count(lit(1)).as("freq"))
      .filter(col("freq") > threshold)
  }
}
