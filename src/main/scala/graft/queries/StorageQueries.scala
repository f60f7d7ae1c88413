package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.icelite.IceLite
import Tables._

/** Snapshot-metadata statistics coverage (A3/A7): the reference's
  * status/monitoring reads — index size, doc counts, S3 object counts
  * per prefix (`indexer/indexer_node.py:188-215`, `monitor.py:165-204`)
  * — answered from IceLite manifest stats with zero data I/O. */
object StorageQueries {

  /** q40: commit the test tables into a scratch IceLite store, then
    * answer per-table row counts purely from the manifest file stats
    * (the parquet data is never re-scanned — the row counts IceLite's
    * writer reported at commit time are the only source). */
  def q40StorageStats(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("q40-icelite").toString
    val store = new IceLite(root)
    store.commit(Seq(
      "documents"  -> documents(s, d),
      "embeddings" -> embeddings(s, d)))
    val out = store.storageStats(s)
      .groupBy(col("table_name"))
      .agg(sum(col("n_rows")).as("n_rows"))
      .orderBy(col("table_name"))
    // storageStats rows come from the manifest (already materialized
    // driver-side), so the scratch store can be removed immediately.
    val rows = out.collect()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    s.createDataFrame(s.sparkContext.parallelize(rows.toIndexedSeq), out.schema)
  }

  val q40Sql: String =
    """SELECT 'documents' AS table_name, count(*) AS n_rows FROM documents
      |UNION ALL SELECT 'embeddings', count(*) FROM embeddings
      |ORDER BY table_name""".stripMargin

  /** q54: co-located fact-fact join via write-side bucketing — both
    * sides bucketed on the join key, so the join plans with ZERO
    * shuffle Exchanges (PlanAuditSpec asserts the physical plan; this
    * query checks the result is identical to the logical join). */
  def q54BucketedJoin(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("q54-bucketed").toString
    graft.storage.Bucketing.writeBucketed(
      lineitem(s, d).select(col("l_orderkey"), col("l_extendedprice")),
      "graft_q54_lineitem", s"$root/lineitem_b", "l_orderkey", 8)
    graft.storage.Bucketing.writeBucketed(
      orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
      "graft_q54_orders", s"$root/orders_b", "o_orderkey", 8)
    val out = s.table("graft_q54_lineitem")
      .join(s.table("graft_q54_orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double").as("sum_price"))
      .orderBy(col("o_orderpriority"))
    val rows = out.collect()
    s.sql("DROP TABLE IF EXISTS graft_q54_lineitem")
    s.sql("DROP TABLE IF EXISTS graft_q54_orders")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    s.createDataFrame(s.sparkContext.parallelize(rows.toIndexedSeq), out.schema)
  }

  val q54Sql: String =
    """SELECT o_orderpriority, count(*) AS n_items,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** q97 (T55): Z-order clustering key — two pseudo-independent
    * dimensions synthesized from doc_id, bit-interleaved into the
    * Morton key the write path sorts by. The oracle replays the exact
    * magic-number dilation chain, so every one of the 5×2 mask steps
    * must agree bit-for-bit across engines. */
  def q97Zorder(s: SparkSession, d: String): DataFrame = {
    import graft.storage.ZOrder
    val a = (col("doc_id") % 1000).cast("long")
    val b = ((col("doc_id") * 7919) % 1000).cast("long")
    documents(s, d)
      .select(col("doc_id"), a.as("a"), b.as("b"),
        ZOrder.zkey(a, b).as("zkey"))
      .orderBy(col("doc_id"))
  }

  val q97Sql: String =
    """WITH d AS (
      | SELECT doc_id, CAST(doc_id % 1000 AS BIGINT) AS a,
      |  CAST((doc_id * 7919) % 1000 AS BIGINT) AS b
      | FROM documents),
      |m0 AS (SELECT doc_id, a, b, a & 2147483647 AS xa, b & 2147483647 AS xb FROM d),
      |m1 AS (SELECT doc_id, a, b,
      | (xa | (xa << 16)) & 281470681808895 AS xa,
      | (xb | (xb << 16)) & 281470681808895 AS xb FROM m0),
      |m2 AS (SELECT doc_id, a, b,
      | (xa | (xa << 8)) & 71777214294589695 AS xa,
      | (xb | (xb << 8)) & 71777214294589695 AS xb FROM m1),
      |m3 AS (SELECT doc_id, a, b,
      | (xa | (xa << 4)) & 1085102592571150095 AS xa,
      | (xb | (xb << 4)) & 1085102592571150095 AS xb FROM m2),
      |m4 AS (SELECT doc_id, a, b,
      | (xa | (xa << 2)) & 3689348814741910323 AS xa,
      | (xb | (xb << 2)) & 3689348814741910323 AS xb FROM m3),
      |m5 AS (SELECT doc_id, a, b,
      | (xa | (xa << 1)) & 6148914691236517205 AS xa,
      | (xb | (xb << 1)) & 6148914691236517205 AS xb FROM m4)
      |SELECT doc_id, a, b, xa | (xb << 1) AS zkey
      |FROM m5 ORDER BY doc_id""".stripMargin
}
