package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines:
 * tokenization, language-ID heuristic, quality scoring, fingerprinting,
 * BM25 scoring (the reference's Whoosh search semantics,
 * `indexer/indexer_node.py:151-183`, `archive/indexer_node.py:19-50`).
 *
 * All operators are pure column expressions / hash-aggregates — no UDFs,
 * fully codegen'd, shuffle only on the groupBy keys. At 100 TB the
 * token explode is the dominant cost; it is map-side only (explode +
 * partial hash agg) before the single shuffle on the group key.
 */
object TextAnalysis {

  /** Tokenizer C3: `re.findall(r'\w+', text.lower())` equivalent. */
  def tokensCol(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 0)

  /** One row per (idCol, token). */
  def tokenize(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), explode(tokensCol(col(text))).as("token"))

  /** Posting-list statistics (A4): per-token frequency + document frequency. */
  def tokenFrequency(df: DataFrame, id: String, text: String): DataFrame =
    tokenize(df, id, text)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"), countDistinct(col(id)).as("df"))

  val EnStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Per-document quality metrics: token count, average token length,
    * stopword ratio (all integer-derived, deterministic doubles). */
  def qualityScore(df: DataFrame, id: String, text: String): DataFrame = {
    // tokenize once per row: three sibling expressions over an inline
    // tokensCol would each re-run the split+filter subtree (no common
    // subexpression elimination across interpreted HOFs)
    val toks = col("__tk")
    df.select(col(id), tokensCol(col(text)).as("__tk"))
      .select(
        col(id),
        size(toks).as("n_tokens"),
        aggregate(toks, lit(0), (acc, t) => acc + length(t)).as("sum_len"),
        size(filter(toks, t => t.isin(EnStopwords.map(x => x: Any): _*))).as("n_stop"))
      .select(
        col(id),
        col("n_tokens"),
        (col("sum_len").cast("double") / col("n_tokens")).as("avg_token_len"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stop_ratio"),
        (col("n_tokens") >= 20 && col("n_tokens") <= 1000).as("len_ok"))
  }

  /** Marker-token language-ID heuristic: predict "en" when the English
    * stopword ratio clears a threshold. (N-gram scoring degenerates to
    * this on the synthetic corpus, whose vocabulary is shared across
    * the `lang` labels.) */
  def langId(df: DataFrame, id: String, text: String, threshold: Double = 0.05): DataFrame = {
    // tokenize once per row (same rationale as qualityScore)
    val toks = col("__tk")
    df.select(col(id), col("lang"), tokensCol(col(text)).as("__tk"))
      .select(col(id), col("lang"),
        size(toks).as("n_tokens"),
        size(filter(toks, t => t.isin(EnStopwords.map(x => x: Any): _*))).as("n_stop"))
      .select(col(id), col("lang"),
        when(col("n_stop").cast("double") / col("n_tokens") > threshold, lit("en"))
          .otherwise(lit("unknown")).as("lang_pred"))
      .withColumn("is_match", col("lang_pred") === col("lang"))
  }

  /** Document fingerprint C1-style: md5 over whitespace-normalized
    * lowercased text, plus a 60-bit integer prefix for compact join keys. */
  def fingerprint(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id),
        md5(trim(regexp_replace(lower(col(text)), "[^a-z0-9]+", " "))).as("fp"))
      .withColumn("fp_int", conv(substring(col("fp"), 1, 15), 16, 10).cast("long"))

  /** PII-redaction patterns (training-corpus cleaning). Restricted to
    * the syntax subset Java regex and RE2 (DuckDB) interpret identically
    * so the oracle applies the exact same rule. */
  val EmailRe = """[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"""
  val PhoneRe = """\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}"""

  /** Scrub emails then phone-shaped numbers to typed placeholder tokens.
    * Pure regexp column logic — codegen'd, no UDF; at 100 TB this runs
    * map-side in the scan stage with zero shuffle. Email pass runs first
    * so a phone-looking local part can't split an address in two. */
  def piiScrub(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")

  /**
   * CCNet/Dolma-style cross-document chunk deduplication (boilerplate
   * removal): a chunk whose corpus-wide document frequency exceeds
   * `maxDupDocs` is boilerplate (nav bars, cookie banners, licence
   * footers) and is dropped from EVERY document. Real pipelines chunk
   * on newlines; the synthetic corpus has none, so chunks are fixed
   * `chunkTokens`-token blocks (pure column logic either way).
   *
   * Exactly two shuffles at any corpus size: the chunk-df hash
   * aggregate and the per-document re-assembly — the explode, block
   * slicing and hashing are map-side. Reassembly order is restored by
   * `array_sort` over (chunk_idx, chunk) structs because
   * `collect_list` order is shuffle-dependent. Requires >=1 token per
   * document (both engines then agree on the chunk count formula).
   * Returns (id, n_chunks, n_kept, clean_fp = md5 of the rejoined
   * kept text; documents that were pure boilerplate keep md5("")).
   */
  def chunkDedup(df: DataFrame, id: String, text: String,
                 chunkTokens: Int = 8, maxDupDocs: Long = 3): DataFrame = {
    // The token array is materialized as a COLUMN before the chunk
    // transform: the lambda body references it per chunk, and an inline
    // tokensCol expression would re-run the split+filter subtree once
    // per chunk (the interpreted-HOF re-evaluation trap; ~2x this
    // operator's cost measured at sf0.1).
    val tk = col("__tk")
    val chunksArr = transform(
      sequence(lit(0), floor((size(tk) - 1) / chunkTokens).cast("int")),
      i => array_join(slice(tk, i * chunkTokens + 1, lit(chunkTokens)), " "))
    // materialize the exploded chunk table ONCE (localCheckpoint; a
    // staging table on a cluster): it feeds both the corpus-wide df
    // aggregate and the per-doc reassembly, and an inlined plan would
    // re-scan + re-explode the corpus per consumer (the q21-class
    // recompute regression)
    val chunks = df.select(col(id), tokensCol(col(text)).as("__tk"))
      .select(col(id), posexplode(chunksArr).as(Seq("chunk_idx", "chunk")))
      .localCheckpoint()
    val boilerplate = chunks.groupBy(col("chunk"))
      .agg(countDistinct(col(id)).as("chunk_df"))
      .filter(col("chunk_df") > maxDupDocs)
      .select(col("chunk"), lit(true).as("is_dup"))
    // single per-doc aggregate: collect_list skips the nulled-out dup
    // chunks, so kept count, total count and the order-restored clean
    // text all come from one shuffle
    chunks.join(boilerplate, Seq("chunk"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("is_dup").isNull, 1)).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("is_dup").isNull,
              struct(col("chunk_idx"), col("chunk"))))),
            s => s.getField("chunk")), " ")).as("clean_fp"))
      .select(col(id), col("n_chunks"), col("n_kept"), col("clean_fp"))
  }

  /**
   * BPE tokenizer-training merge step (Sennrich et al. 2016, public):
   * adjacent character-pair counts over the corpus vocabulary, weighted
   * by word frequency — argmax(count) is the next merge. The corpus is
   * touched exactly once (the token-frequency aggregation); the pair
   * explode runs over the DISTINCT vocabulary, which is orders of
   * magnitude smaller and broadcastable, so iterating the merge loop
   * costs one corpus pass total regardless of merge count.
   */
  def bpePairCounts(df: DataFrame, id: String, text: String): DataFrame =
    tokenFrequency(df, id, text)
      .filter(length(col("token")) >= 2)
      .select(col("freq"), explode(
        transform(sequence(lit(1), length(col("token")) - 1),
          i => col("token").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("freq")).as("cnt"))

  /**
   * Full BPE training loop: greedy merges over the (symbol-sequence,
   * freq) vocabulary, highest count first (ties: lexicographic pair) —
   * the standard tokenizer-training algorithm. The corpus is read
   * exactly once (the token-frequency aggregate); every iteration is a
   * vocab-sized pair count + a vocab-sized regexp merge, materialized
   * per step (`localCheckpoint`) so iteration k never recomputes the
   * k-1 merge chain. The merge itself is left-to-right non-overlapping
   * (Java regexp semantics match BPE's scan order). Inherently
   * sequential across iterations — each merge depends on the previous —
   * so the loop is driver-driven over small jobs, not one big plan.
   * Returns (merge_idx, pair, cnt), the ordered merge table.
   */
  def bpeMerges(df: DataFrame, id: String, text: String, nMerges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    var vocab = tokenFrequency(df, id, text)
      .select(col("freq"),
        // split-on-"" keeps a trailing empty element (Java split with
        // limit -1) — drop empties before joining into the symbol seq
        array_join(filter(split(col("token"), ""), s => length(s) > 0), " ").as("seq"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, Long)]()
    var i = 0
    var done = false
    while (i < nMerges && !done) {
      // split once per row: an inline split(col("seq")) referenced from
      // the transform lambda would re-split the sequence per pair
      // (interpreted-HOF re-evaluation)
      val syms = col("__sy")
      val top = vocab
        .select(col("freq"), split(col("seq"), " ").as("__sy"))
        .filter(size(syms) >= 2)
        .select(col("freq"), explode(
          transform(sequence(lit(0), size(syms) - 2),
            j => concat(element_at(syms, j + 1), lit(" "), element_at(syms, j + 2)))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(1)
        .collect()
      if (top.isEmpty) done = true
      else {
        val pair = top(0).getString(0)
        merges += ((i, pair, top(0).getLong(1)))
        val (pat, rep) = mergePattern(pair)
        val old = vocab
        vocab = vocab.withColumn("seq", regexp_replace(col("seq"), pat, rep))
          .localCheckpoint()
        Checkpoints.release(old)
        i += 1
      }
    }
    Checkpoints.release(vocab)
    merges.toSeq.toDF("merge_idx", "pair", "cnt")
  }

  /** Regex + replacement applying one BPE merge ("a b" -> "ab") to a
    * space-separated symbol sequence — shared by training and encode so
    * the two sides replay identical semantics. */
  private def mergePattern(pair: String): (String, String) = {
    val Array(a, b) = pair.split(" ", 2)
    ("(?<=^| )" + java.util.regex.Pattern.quote(a) + " " +
       java.util.regex.Pattern.quote(b) + "(?=$| )",
     java.util.regex.Matcher.quoteReplacement(a + b))
  }

  /**
   * BPE encode (the tokenizer APPLY side, completing train q66/q67 →
   * encode → pack q62): segments every token into learned subword
   * pieces by replaying `merges` in rank order over the DISTINCT-token
   * vocabulary, then joining the piece lists back to the per-document
   * token stream. Each per-merge pass is the same regexp replace the
   * training loop used, so encoding the training corpus reproduces the
   * training segmentation exactly; unseen words segment into the
   * longest learned pieces (standard BPE open-vocabulary behavior).
   *
   * Scale: the merge chain is a narrow map over |distinct tokens| —
   * Zipf-bounded, orders of magnitude below corpus rows — and the
   * corpus-side cost is one hash join on `token` (broadcast when the
   * vocab is small enough, shuffle-hash otherwise): the standard
   * vocab-table trick for dictionary tokenization of a 100-TB corpus.
   */
  def bpeEncode(df: DataFrame, id: String, text: String,
                merges: Seq[String]): DataFrame = {
    // materialized ONCE: the token stream feeds both the distinct-vocab
    // side and the join-back side — uncheckpointed, Catalyst would scan
    // and tokenize the corpus twice
    val toks = df.select(col(id),
      posexplode(tokensCol(col(text))).as(Seq("pos", "token")))
      .localCheckpoint()
    val vocab = toks.select(col("token")).distinct()
      .withColumn("seq",
        array_join(filter(split(col("token"), ""), s => length(s) > 0), " "))
    val encoded = merges.foldLeft(vocab) { (v, pair) =>
      val (pat, rep) = mergePattern(pair)
      v.withColumn("seq", regexp_replace(col("seq"), pat, rep))
    }.select(col("token"), split(col("seq"), " ").as("pieces"))
    toks.join(encoded, "token")
      .select(col(id), col("pos"), col("token"), col("pieces"),
        size(col("pieces")).as("n_pieces"))
  }

  /**
   * Positional adjacency matcher (phrase queries): `positions` holds
   * (keyCols..., pos, token) rows; returns the distinct keys whose
   * token stream contains `terms` adjacently, in order. The stream is
   * filtered to the phrase's terms and materialized ONCE (the tiny
   * occurrence table an inverted index with positions keeps), then the
   * phrase is n-1 (key, pos) equi-joins on shifted positions — never a
   * regex re-scan of the corpus at query time, and each join's inputs
   * are bounded by the phrase terms' posting sizes.
   */
  def adjacencyMatch(positions: DataFrame, keyCols: Seq[String],
                     terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "empty phrase")
    val key = keyCols.map(col)
    val occ = positions
      .filter(col("token").isin(terms.distinct.map(x => x: Any): _*))
      .localCheckpoint()
    val anchor = occ.filter(col("token") === terms.head)
      .select(key :+ col("pos"): _*)
    terms.zipWithIndex.drop(1).foldLeft(anchor) { case (acc, (t, i)) =>
      acc.join(occ.filter(col("token") === t)
          .select(key :+ (col("pos") - i).as("pos"): _*),
        keyCols :+ "pos")
    }.select(key: _*).distinct()
  }

  /** Documents whose token stream contains the phrase (adjacent, in
    * order, tokenizer-normalized on both sides). */
  def phraseMatch(df: DataFrame, id: String, text: String,
                  phrase: Seq[String]): DataFrame =
    adjacencyMatch(
      df.select(col(id), posexplode(tokensCol(col(text))).as(Seq("pos", "token"))),
      Seq(id), phrase.map(_.toLowerCase))

  /**
   * Gopher-style repetition signals (Rae et al. 2021 §A1.1, "Scaling
   * Language Models" — public paper): per-document duplicate-n-gram
   * fraction and most-frequent-n-gram coverage. High values flag
   * boilerplate/spam for corpus filtering. All integer counts until the
   * two final divisions, so cross-engine deterministic. One explode +
   * two hash aggregations; the explode is map-side partial-aggregated
   * before the single shuffle on (id, ngram).
   */
  def repetitionStats(df: DataFrame, id: String, text: String, n: Int = 2): DataFrame =
    Dedup.shinglesExploded(df, id, text, n)
      .groupBy(col(id), col("shingle")).agg(count(lit(1)).as("c"))
      .groupBy(col(id))
      .agg(sum(col("c")).as("n_bigrams"),
           count(lit(1)).as("n_distinct"),
           max(col("c")).as("top_c"))
      .select(col(id), col("n_bigrams"), col("n_distinct"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_bigrams").cast("double")).as("dup_frac"),
        (col("top_c").cast("double") / col("n_bigrams").cast("double")).as("top_frac"))

  /**
   * BM25 top-k search (O2): tf/df statistics via aggregation, score as a
   * column expression, TakeOrderedAndProject for the top-k. k1=1.2,
   * b=0.75 (Whoosh BM25F defaults). Scores rounded to 6 decimals before
   * ranking so the ordering is reproducible across engines (ln() may
   * differ in the last ulp between libm implementations).
   */
  def bm25TopK(df: DataFrame, id: String, text: String, terms: Seq[String], k: Int): DataFrame = {
    val k1 = 1.2
    val b = 0.75
    // One tokenize pass, materialized once (3 consumers: doc lengths,
    // corpus stats, term postings). Doc length is size(tokens) — a
    // row-level projection, NOT an explode + corpus-wide (id)-shuffle
    // as before — and only QUERY-TERM occurrences are exploded (the
    // array pre-filter), so the only token-shaped shuffle left is the
    // postings aggregate, bounded by the query terms' posting sizes.
    // Docs with zero tokens are dropped exactly like the old explode
    // path (they produced no token rows, hence no docLen row).
    val base = df.select(col(id), tokensCol(col(text)).as("__tk"))
      .select(col(id), size(col("__tk")).as("dl"),
        filter(col("__tk"), t => t.isin(terms.map(x => x: Any): _*)).as("__matched"))
      .filter(col("dl") > 0)
      .localCheckpoint()
    val docLen = base.select(col(id), col("dl"))
    val stats = base.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))
    val tf = base.select(col(id), explode(col("__matched")).as("token"))
      .groupBy(col(id), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("doc_freq"))
    val scored = tf
      .join(broadcast(dfreq), "token")
      .join(docLen, id)
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("total_tokens").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs").cast("double") - col("doc_freq").cast("double") + lit(0.5))
          / (col("doc_freq").cast("double") + lit(0.5))))
      .withColumn("tscore",
        col("idf") * (col("tf").cast("double") * lit(k1 + 1.0))
          / (col("tf").cast("double") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))))
      .groupBy(col(id))
      .agg(round(sum(col("tscore")), 6).as("score"))
    scored
      .orderBy(col("score").desc, col(id))
      .limit(k)
      .select(row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("score").desc, col(id))).as("rank"),
        col(id), col("score"))
  }

  /** tf-idf-weighted similar-document pairs via a posting-list
    * self-join (SURVEY §2.10 T42) — the sparse-retrieval complement to
    * the dense ANN ops: "find documents that share rare vocabulary",
    * the classic related-page / near-topic signal a crawl corpus feeds
    * to clustering and dedup triage.
    *
    * Weights are integer-quantized for engine-exact results: token
    * weight `w(t,d) = tf * (scale div df_t)` (a 1/df inverse-document-
    * frequency, quantized by integer division — a float `ln(N/df)` idf
    * would be order-dependent under distributed summation), pair score
    * `sum_t w(t,a) * w(t,b)` over shared tokens.
    *
    * Scale shape: the candidate generator is a token-keyed equi-join —
    * never all-pairs. `maxDf` caps each token's contribution at
    * `maxDf^2` pairs (the df-cut every sparse-retrieval system applies:
    * high-df tokens carry no signal AND dominate join fan-out, so the
    * cap is both a quality and a shuffle bound; at 100 TB it is the
    * one knob that keeps the join linear in corpus size). The weighted
    * posting table is materialized once (localCheckpoint — a persisted
    * table on a real cluster) so the self-join's two sides reuse one
    * tokenize+aggregate pass instead of recomputing it per side (the
    * q21 lesson, VERDICT r1).
    *
    * Overflow bound: w <= tf_max * scale/2, so scores stay in int64
    * while tf_max^2 * scale^2 / 4 * shared_tokens < 2^63 — at the
    * default scale 10^4 that allows tf ~ 10^3 with 10^4 shared tokens. */
  def tfidfSimilarPairs(df: DataFrame, id: String, text: String,
                        maxDf: Long = 50, scale: Long = 10000L,
                        minScore: Long = 1L): DataFrame = {
    // Tokens cross every shuffle as xxhash64 LONGS, never strings: the
    // output never contains a token, only pair scores, so the posting/
    // df/self-join keys need token EQUALITY, not identity — the same
    // trade duplicatedSpans makes for grams (a 64-bit collision merges
    // two tokens' postings at ~1e-19/pair odds). At 100 TB this shrinks
    // the three token-keyed shuffles by the average token width and
    // replaces string hashing/comparison in the aggregates with long
    // ops.
    val postings = tokenize(df, id, text)
      .select(col(id), xxhash64(col("token")).as("tok_h"))
      .groupBy(col(id), col("tok_h")).agg(count(lit(1)).as("tf"))
    val dfreq = postings.groupBy(col("tok_h"))
      .agg(count(lit(1)).as("df"))
      // df=1 tokens pair with nothing; dropping them BEFORE the join
      // removes the long unique-token tail (most of a web corpus)
      .filter(col("df") >= 2 && col("df") <= maxDf)
    val w = postings.join(dfreq, "tok_h")
      .select(col("tok_h"), col(id).as("doc"),
        (col("tf") * expr(s"$scale div df")).as("w"))
      .localCheckpoint()
    val a = w.select(col("tok_h"), col("doc").as("doc_a"), col("w").as("wa"))
    val b = w.select(col("tok_h"), col("doc").as("doc_b"), col("w").as("wb"))
    a.join(b, "tok_h")
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"), sum(col("wa") * col("wb")).as("score"))
      .filter(col("score") >= minScore)
  }

  /** T53: exact duplicated-span extraction (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better" — the ExactSubstr
    * variant): any token span of length >= k whose k-gram content
    * appears more than once in the corpus (within OR across documents)
    * is reported as a maximal duplicated span. Suffix arrays are the
    * single-machine tool; the distributed equivalent is sliding
    * k-grams + a corpus-wide occurrence count + per-document merging
    * of duplicated gram starts into maximal runs. Two starts merge
    * when their gap is <= k — their token coverages overlap or abut,
    * even when the grams BETWEEN them are unique (two different
    * duplication sources meeting) — so reported spans never overlap
    * and cover each maximal duplicated token region exactly once; a
    * run of starts [a..b] covers tokens [a, b+k-1].
    *
    * Returns one row per (id, span): (id, span_start, span_end,
    * span_tokens), positions 0-based over the C3 token stream. All
    * integers — engine-exact.
    *
    * Scale shape: the gram explode is map-side; grams cross the wire
    * as xxhash64 LONGS, never strings (at k=50-token grams a 100 TB
    * corpus would otherwise shuffle ~50x its own size; a 64-bit
    * collision falsely marks one gram duplicated at ~1e-10/pair odds —
    * the standard trade, Lee et al. hash too). The exploded (id, pos,
    * gram_h) table is materialized ONCE and feeds both the occurrence
    * count and the run-merge (the q21 recompute lesson). Two shuffles:
    * the gram-hash aggregate and the per-document window; a boilerplate
    * gram hot key collapses map-side in the count partial-agg, and the
    * window key (id) is the natural document partitioning.
    */
  def duplicatedSpans(df: DataFrame, id: String, text: String,
                      k: Int = 8, minOccurrences: Long = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Token hashes are materialized as a COLUMN before the gram
    // transform: higher-order functions run interpreted, so a lambda
    // body referencing the raw tokenize expression re-evaluates the
    // whole split+filter subtree once per gram (measured 10x the
    // per-gram cost on the sf0.1 documents table — same trap as
    // Dedup.shinglesFromToks). Each token is xxhash64'd ONCE; a gram's
    // hash is xxhash64 over its k token hashes — boundary-safe exactly
    // like the previous " "-joined string (tokens carry no spaces),
    // same 64-bit collision trade, and it never materializes the ~k·8
    // char gram string per position. Output is unchanged: only which
    // grams are EQUAL matters downstream.
    // sequence(0, n-k) runs DESCENDING when n < k (see LangModel) —
    // guard to an empty gram array for short documents
    val hs = col("__hs")
    val gramsArr = when(size(hs) >= k,
      transform(sequence(lit(0), size(hs) - k),
        i => xxhash64(slice(hs, i + 1, lit(k)))))
      .otherwise(array().cast("array<bigint>"))
    val grams = df
      .select(col(id), transform(tokensCol(col(text)), t => xxhash64(t)).as("__hs"))
      .select(col(id), posexplode(gramsArr).as(Seq("pos", "gram_h")))
      .localCheckpoint()
    val dup = grams.groupBy(col("gram_h"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= minOccurrences)
      .select(col("gram_h"))
    // gap-aware run ids: a new run starts when the previous duplicated
    // start is more than k back (null lag -> first row also starts one);
    // both windows share one (id, pos) partitioning/sort — one exchange
    val w = Window.partitionBy(col(id)).orderBy(col("pos"))
    grams.join(dup, Seq("gram_h"), "left_semi")
      .withColumn("new_run",
        when(col("pos") - lag(col("pos"), 1).over(w) <= k, 0).otherwise(1))
      .withColumn("grp", sum(col("new_run")).over(w))
      .groupBy(col(id), col("grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + k - 1).cast("long").as("span_end"))
      .select(col(id), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }
}
