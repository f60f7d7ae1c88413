package graft.seen

import java.io.ByteArrayInputStream

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BooleanType
import org.apache.spark.util.sketch.BloomFilter

/**
 * The URL-seen set (J1): first-seen-wins dedup gate for the frontier —
 * the reference's `seen_urls` Python set (`master/master_node.py:44,
 * 119-127`) rebuilt as a two-stage probabilistic + exact filter:
 *
 *  1. Bloom pre-filter: `mightContain == false` proves a candidate is
 *     new — those rows skip the join entirely. At a 10^10-URL frontier
 *     the overwhelming majority of re-discovered links are dupes, so
 *     the exact join's probe side shrinks by orders of magnitude.
 *  2. Exact left-anti join for the maybe-seen remainder — Bloom false
 *     positives are corrected here, so correctness never depends on the
 *     sketch.
 *
 * Two physical paths, both keyed on `xxhash64(url)` longs so the probe
 * is Spark's native codegen `might_contain` (no Scala UDF in the
 * highest-volume filter in the system):
 *
 *  - **broadcast** (up to ~10^8 seen URLs / ~120 MB sketch): one
 *    driver-held sketch embedded as a binary literal — shipped once per
 *    stage with the task binary, deserialized once per task.
 *  - **bucketed** (the 10^10 path): one sketch per host-hash bucket
 *    (4096 buckets ⇒ ~2.4M keys / ~3 MB per bucket), built executor-
 *    side by Spark's `BloomFilterAggregate` (TypedImperativeAggregate,
 *    partial-merge = bitwise OR) into a (bucket, sketch) TABLE that is
 *    never collected to the driver. Candidates shuffle once on the same
 *    bucket key and are classified per-bucket via cogroup — each task
 *    deserializes only the sketches of the buckets it owns.
 *
 * Bloom over cuckoo (the north rule permits either): a crawl seen-set
 * is insert-only — URLs are never un-seen — so cuckoo's one advantage
 * (deletion) buys nothing here, while Bloom's bitwise-OR merge is what
 * makes the sketch buildable as a Spark partial aggregate at all
 * (cuckoo tables don't union: merging two independently-built tables
 * can exceed bucket capacity and force rehash/eviction cycles, which
 * cannot be expressed as an associative TypedImperativeAggregate
 * merge). Same-capability space, strictly better distributed-build
 * properties.
 */
object UrlSeen {

  /** xxhash64(urlCol) — the key both sketch builders and probes use. */
  private def keyCol(urlCol: String): Column = xxhash64(col(urlCol))

  /** Native codegen probe: might_contain(<sketch literal>, xxhash64(url)). */
  private def mightContainCol(sketch: Array[Byte], urlCol: String): Column =
    GraftBridge.column(BloomFilterMightContain(
      Literal(sketch), GraftBridge.expression(keyCol(urlCol))))

  /** Build a driver-side Bloom sketch over xxhash64(urlCol). */
  def buildBloom(seen: DataFrame, urlCol: String,
                 expectedItems: Long, fpp: Double = 0.01): BloomFilter =
    seen.select(keyCol(urlCol).as("h")).stat
      .bloomFilter("h", math.max(expectedItems, 1L), fpp)

  /** Returns candidates whose `urlCol` is definitely absent from `seen`,
    * pre-filtered through a caller-maintained sketch (the pipeline merges
    * each wave's new URLs into a driver-held Bloom instead of rebuilding
    * from the full frontier every wave). Candidates must already be
    * intra-batch deduplicated. */
  def filterNewWithBloom(spark: SparkSession, candidates: DataFrame, seen: DataFrame,
                         urlCol: String, bloom: BloomFilter): DataFrame = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val probe = mightContainCol(bos.toByteArray, urlCol)
    val definitelyNew = candidates.filter(!probe)
    val maybeSeen = candidates.filter(probe)
    // no distinct on the build side: left_anti only probes for key
    // presence, and deduping the seen table would cost a full shuffle
    val corrected = maybeSeen.join(
      seen.select(col(urlCol)), Seq(urlCol), "left_anti")
    definitelyNew.unionByName(corrected)
  }

  /** Bits for the optimal Bloom sizing n·ln(1/p)/ln(2)². */
  private def optimalNumBits(n: Long, p: Double): Long =
    math.ceil(n * math.log(1.0 / p) / (math.log(2.0) * math.log(2.0))).toLong

  /** (bucket, sketch) table — the 10^10 scale path. Built entirely
    * executor-side: groupBy(bucket) + BloomFilterAggregate partial
    * merges; the result is a DataFrame to join/cogroup against (or
    * persist in a snapshot table), NOT a driver-side map. */
  def bucketSketches(seen: DataFrame, urlCol: String, nBuckets: Int,
                     itemsPerBucket: Long, fpp: Double = 0.01): DataFrame = {
    val agg = new BloomFilterAggregate(
      GraftBridge.expression(keyCol(urlCol)),
      Literal(math.max(itemsPerBucket, 1L)),
      Literal(math.max(optimalNumBits(math.max(itemsPerBucket, 1L), fpp), 64L)),
      0, 0)
    seen.groupBy(pmod(keyCol(urlCol), lit(nBuckets.toLong)).as("bucket"))
      .agg(GraftBridge.column(agg.toAggregateExpression()).as("sketch"))
  }

  /**
   * Classify candidates against a (bucket, sketch) table: output =
   * candidate columns + `might_be_seen`. One shuffle on the bucket key
   * for each side; each cogroup task deserializes a bucket's sketch
   * once and streams the bucket's candidates through it.
   */
  def classifyBucketed(candidates: DataFrame, sketches: DataFrame,
                       urlCol: String, nBuckets: Int): DataFrame = {
    // the key is computed ONCE per row as a native codegen column before
    // the typed boundary — an interpreted per-row Catalyst eval here
    // would put allocation churn on the highest-volume filter in the
    // system (this module's whole reason to exist)
    require(!candidates.columns.contains("__h"), "candidates already have a __h column")
    val withH = candidates.withColumn("__h", keyCol(urlCol))
    val schema = withH.schema
    val outSchema = candidates.schema.add("might_be_seen", BooleanType, nullable = false)
    val candEnc = Encoders.row(schema)
    val skEnc = Encoders.row(sketches.schema)
    val outEnc = Encoders.row(outSchema)
    val hIdx = schema.fieldIndex("__h")
    val n = nBuckets.toLong
    val candK = withH.as(candEnc)
      .groupByKey(r => Math.floorMod(r.getLong(hIdx), n))(Encoders.scalaLong)
    val skK = sketches.as(skEnc)
      .groupByKey(_.getLong(0))(Encoders.scalaLong)
    candK.cogroup(skK) { (_, candIt, skIt) =>
      val bf = skIt.buffered.headOption.map(r =>
        BloomFilter.readFrom(new ByteArrayInputStream(r.getAs[Array[Byte]]("sketch"))))
      bf match {
        case None => candIt.map(r => Row.fromSeq(r.toSeq.init :+ false))
        case Some(f) => candIt.map { r =>
          Row.fromSeq(r.toSeq.init :+ f.mightContainLong(r.getLong(hIdx)))
        }
      }
    }(outEnc).toDF(outSchema.fieldNames.toIndexedSeq: _*)
  }

  /** Two-stage filter through the bucketed path: sketch-table classify,
    * then the exact anti-join backstop for the maybe-seen remainder. */
  def filterNewBucketed(candidates: DataFrame, seen: DataFrame, urlCol: String,
                        nBuckets: Int, itemsPerBucket: Long, fpp: Double = 0.01): DataFrame = {
    val sketches = bucketSketches(seen, urlCol, nBuckets, itemsPerBucket, fpp)
    // eager localCheckpoint, not persist: the two consumers below (split
    // + anti-join) must not recompute the cogroup, and an RDD-level
    // checkpoint is an RDD leaf of the result's plan, which the caller
    // frees with Checkpoints.release once the result has run — a cached
    // table would stay in the cache manager until explicitly uncached
    val classified = classifyBucketed(candidates, sketches, urlCol, nBuckets)
      .localCheckpoint()
    val definitelyNew = classified.filter(!col("might_be_seen")).drop("might_be_seen")
    val maybeSeen = classified.filter(col("might_be_seen")).drop("might_be_seen")
    definitelyNew.unionByName(
      maybeSeen.join(seen.select(col(urlCol)), Seq(urlCol), "left_anti"))
  }
}
