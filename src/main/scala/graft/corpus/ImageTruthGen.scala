package graft.corpus

/**
 * One-shot generator for the committed golden fixture
 * `fixtures/image_truth.parquet` — the q47 oracle (VERDICT r3 "What's
 * missing" #1). Runs the exact q47 code path
 * ([[graft.queries.SimQueries.imageFeaturesForIds]]: deterministic
 * per-id codec binary → decode → features + 16×16 resize md5) over
 * doc_id 0..maxId−1 and writes ONE parquet file. The features are pure
 * functions of doc_id (seed and dimensions are fixed inside the shared
 * code path), so a single fixture covers every scale factor's id
 * domain; the DuckDB oracle joins it against the sf's `documents` to
 * restrict to that corpus. Regenerate ONLY on an intentional codec
 * change — the committed file is the regression pin.
 *
 * Usage: sbt "runMain graft.corpus.ImageTruthGen [maxId] [outFile]"
 */
object ImageTruthGen {
  def main(args: Array[String]): Unit = {
    // default covers doc_id 0..99999 — 2x the REP=10 sweep's id domain,
    // so the next sweep scale-up does not silently out-range the oracle
    val maxId = if (args.length > 0) args(0).toLong else 100000L
    val outFile = if (args.length > 1) args(1) else "fixtures/image_truth.parquet"
    val spark = graft.LocalSession("image-truth-gen",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    try {
      val ids = spark.range(0L, maxId).toDF("doc_id")
      val truth = graft.queries.SimQueries.imageFeaturesForIds(spark, ids)
      val tmp = java.nio.file.Files.createTempDirectory("image_truth").toString
      truth.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written under $tmp"))
      val dst = java.nio.file.Paths.get(outFile)
      Option(dst.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.copy(part, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      println(s"[truth-gen] wrote $maxId rows to $outFile")
    } finally spark.stop()
  }
}
