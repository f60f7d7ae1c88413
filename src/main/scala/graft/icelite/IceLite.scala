package graft.icelite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * IceLite: a minimal Iceberg-style multi-table snapshot layer (no
 * Iceberg runtime jar exists in this sandbox — SURVEY.md §7). It
 * provides exactly the properties the north rule uses:
 *
 *  - **atomic multi-table commit**: one commit writes deltas for any
 *    number of tables; a single atomic pointer swap (`_head`, via
 *    ATOMIC_MOVE rename) publishes all of them or none. A crash mid-
 *    commit leaves orphan data dirs that no manifest references —
 *    invisible to readers (the reference's 30s/60s JSON checkpoint
 *    dumps, `archive/master_node.py:91-101`, made transactional).
 *  - **snapshot ids + time travel**: `read(table, snapshotId)` sees the
 *    table exactly as of that commit; `resume` = read head.
 *  - **commit metadata**: per-commit key/values (wave number, metrics
 *    summary, lineage pointers) travel in the manifest.
 *
 * Layout:
 * {{{
 *   root/meta/_head                  <- current snapshot id (atomic swap)
 *   root/meta/snap-<id>.manifest     <- TSV: table -> data dirs + (rows, bytes, files)
 *   root/<table>/d<id>/              <- parquet delta written by commit <id>
 *   root/<table>/s<uuid>/            <- delta pre-written by [[stage]]
 *   root/<table>/c<id>/              <- rewrite written by [[compact]]
 *   root/<table>/<dir>/part-<pid>-<uuid>.parquet   <- one file per non-empty task
 * }}}
 *
 * Every data dir is written by [[DeltaWriter]]: each task writes its
 * partition to a hidden `_part-…` file and reports (file, rows, bytes)
 * to the driver, which renames the reported files to `part-…` and
 * deletes the rest. There is no `_SUCCESS` marker and no `_temporary`
 * dir — the manifest swap is the commit. Every stat in a manifest is
 * the writer's report, never a re-read of the files: a commit or
 * compaction records the counts of the dirs it writes, and [[stage]]
 * keeps its dir's counts until the commit that publishes the dir (or
 * [[discard]]) takes them.
 *
 * Tables are append-only (deltas union at read); the crawl pipeline's
 * tables are all logs (frontier, fetchlog, images, metrics, lineage),
 * so no merge-on-read is needed. At real scale the data dirs would be
 * bucketed by key hash so the frontier/fetchlog anti-join is
 * co-partitioned; manifests would carry file-level stats for pruning.
 */
class IceLite(val root: String) {
  private val metaDir = Paths.get(root, "meta")

  case class Manifest(id: Long, parent: Long, meta: Map[String, String],
                      tables: Map[String, Seq[String]],
                      stats: Map[String, Seq[IceLite.DirStat]]) {
    /** (rows, bytes, files) summed over `table`'s dirs; (0, 0, 0) for a
      * table with no data at this snapshot. */
    def totals(table: String): (Long, Long, Long) = {
      val ds = stats.getOrElse(table, Seq.empty)
      (ds.map(_.rows).sum, ds.map(_.bytes).sum, ds.map(_.files.toLong).sum)
    }
  }

  private def headPath: Path = metaDir.resolve("_head")
  private def manifestPath(id: Long): Path = metaDir.resolve(s"snap-$id.manifest")

  def currentSnapshotId: Option[Long] =
    if (Files.exists(headPath))
      Some(new String(Files.readAllBytes(headPath), StandardCharsets.UTF_8).trim.toLong)
    else None

  /** Parses manifest `id`; a line of no known shape fails the read, naming
    * the file — skipping it would drop its table's rows from every read. */
  def manifest(id: Long): Manifest = {
    val path = manifestPath(id)
    val lines = Files.readAllLines(path, StandardCharsets.UTF_8).asScala
    var parent = -1L
    val meta = scala.collection.mutable.Map[String, String]()
    val tables = scala.collection.mutable.Map[String, Vector[String]]()
    val stats = scala.collection.mutable.Map[String, Vector[IceLite.DirStat]]()
    def add(name: String, dir: String, st: IceLite.DirStat): Unit = {
      tables(name) = tables.getOrElse(name, Vector.empty) :+ dir
      stats(name) = stats.getOrElse(name, Vector.empty) :+ st
    }
    lines.foreach { l =>
      l.split("\t", -1).toList match {
        case "parent" :: p :: Nil        => parent = p.toLong
        case "meta" :: k :: v :: Nil     => meta(k) = v
        // table <name> <dir> <rows> <bytes> <files>
        case "table" :: name :: dir :: rows :: bytes :: files :: Nil =>
          add(name, dir, IceLite.DirStat(dir, rows.toLong, bytes.toLong, files.toInt))
        case _ => throw new IllegalStateException(s"$path: unrecognised manifest line: $l")
      }
    }
    Manifest(id, parent, meta.toMap, tables.toMap, stats.toMap)
  }

  // the writer's stats of each dir [[stage]] wrote, until the commit that
  // publishes it (or [[discard]]) takes them
  private val stagedStats = scala.collection.concurrent.TrieMap.empty[String, IceLite.DirStat]

  /** Pre-write a delta outside any snapshot (invisible until a commit
    * references the returned dir). Lets a pipeline materialize one
    * physical copy of large payloads and commit it without rewriting —
    * Iceberg's write-then-commit file lifecycle. */
  def stage(table: String, df: DataFrame): String = {
    val dir = Paths.get(root, table,
      s"s${java.util.UUID.randomUUID().toString.take(12)}").toString
    stagedStats(dir) = DeltaWriter.write(df, dir)
    dir
  }

  /** The writer's stats for `dir`, which [[stage]] wrote and no commit or
    * [[discard]] has taken yet. */
  def stagedStat(dir: String): IceLite.DirStat = stagedStats.getOrElse(dir,
    throw new IllegalArgumentException(s"$dir: not staged by this store, or already committed or discarded"))

  /** Drop a staged dir that no commit will publish: its stats and its files. */
  def discard(dir: String): Unit = {
    stagedStats -= dir
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  /** Atomically commit deltas for several tables as one snapshot.
    * `staged` entries are dirs previously written via [[stage]]; any
    * other dir fails the commit before anything is written. */
  def commit(deltas: Seq[(String, DataFrame)], meta: Map[String, String] = Map.empty,
             staged: Seq[(String, String)] = Seq.empty): Long = {
    val stagedDirs = staged.map { case (t, dir) => t -> stagedStat(dir) }
    Files.createDirectories(metaDir)
    val parent = currentSnapshotId
    val id = parent.getOrElse(0L) + 1L
    // carry forward prior dirs WITH their recorded stats (no re-scan)
    val prev: Map[String, Seq[IceLite.DirStat]] =
      parent.map(p => manifest(p).stats).getOrElse(Map.empty)

    // Write all table deltas concurrently (independent Spark jobs from
    // driver threads) — commit wall time = slowest write, not the sum.
    // Atomicity is unaffected: nothing is visible until the head swap.
    val newDirs = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(Future.traverse(deltas) { case (table, df) =>
        Future(table -> DeltaWriter.write(df, Paths.get(root, table, s"d$id").toString))
      }, Duration.Inf)
    }
    val merged = (newDirs ++ stagedDirs).foldLeft(prev) { case (acc, (t, st)) =>
      acc + (t -> (acc.getOrElse(t, Seq.empty) :+ st))
    }

    publish(id, parent, meta, merged)
    stagedStats --= staged.map(_._2)
    id
  }

  /** Write manifest `id` and atomically swap `_head` to it. */
  private def publish(id: Long, parent: Option[Long], meta: Map[String, String],
                      merged: Map[String, Seq[IceLite.DirStat]]): Long = {
    val sb = new StringBuilder
    sb.append(s"parent\t${parent.getOrElse(-1L)}\n")
    meta.foreach { case (k, v) =>
      sb.append(s"meta\t$k\t${v.replace("\t", " ").replace("\n", " ")}\n")
    }
    merged.toSeq.sortBy(_._1).foreach { case (t, dirStats) =>
      dirStats.foreach(d =>
        sb.append(s"table\t$t\t${d.dir}\t${d.rows}\t${d.bytes}\t${d.files}\n"))
    }
    val tmp = metaDir.resolve(s".snap-$id.tmp")
    Files.write(tmp, sb.toString.getBytes(StandardCharsets.UTF_8))
    // REPLACE_EXISTING: a crash after this move but before the _head swap
    // leaves snap-<id> orphaned; the retry recomputes the same id (head
    // unchanged) and must be able to overwrite it instead of wedging.
    Files.move(tmp, manifestPath(id), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)

    val headTmp = metaDir.resolve(".head.tmp")
    Files.write(headTmp, id.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(headTmp, headPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    id
  }

  /**
   * Compact a table's delta dirs into one dir of ~`targetFileBytes`
   * files and commit the rewrite as a new snapshot (Iceberg's rewrite-
   * data-files action). A wave-per-delta layout accretes one small dir
   * per commit — after 10^3 waves every reader unions 10^3 dirs of
   * kilobyte files and scan planning outgrows the data. Compaction is
   * the standing answer: rewrite N dirs -> ceil(bytes/target) right-
   * sized files, publish atomically, leave prior snapshots' manifests
   * pointing at the old dirs (time travel intact; physical cleanup of
   * unreferenced dirs is a separate vacuum concern, as in Iceberg).
   *
   * Readers of the compacted snapshot see identical rows — order is not
   * part of the table contract (readers that need one sort by seq/wave).
   * Returns the new snapshot id, or None when the table already has at
   * most one data dir (nothing to compact).
   */
  def compact(spark: SparkSession, table: String,
              targetFileBytes: Long = 128L << 20): Option[Long] = {
    currentSnapshotId.flatMap { head =>
      val m = manifest(head)
      val dirs = m.tables.getOrElse(table, Seq.empty)
      if (dirs.size <= 1) None
      else {
        val id = head + 1L
        val totalBytes = m.stats.getOrElse(table, Seq.empty).map(_.bytes).sum
        val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
        val dir = Paths.get(root, table, s"c$id").toString
        // coalesce, not repartition: file-count reduction needs no shuffle
        val st = DeltaWriter.write(spark.read.parquet(dirs: _*).coalesce(nFiles), dir)
        val merged = m.stats - table + (table -> Seq(st))
        Some(publish(id, Some(head), m.meta + ("compacted" -> table), merged))
      }
    }
  }

  /** Read a table as of a snapshot (default: head). With a `schema` the
    * scan is bound to it and no Spark job runs to infer one from the
    * footers; a table with no data at that snapshot then reads as an
    * empty DataFrame of that schema. */
  def read(spark: SparkSession, table: String, snapshotId: Option[Long] = None,
           schema: Option[StructType] = None): DataFrame = {
    val snap = snapshotId.orElse(currentSnapshotId)
    val dirs = snap.map(manifest(_).tables.getOrElse(table, Seq.empty)).getOrElse(Seq.empty)
    scan(spark, dirs, schema, s"table $table absent at snapshot $snap and no schema given")
  }

  /** [[read]] against an already-parsed manifest: a caller that needs
    * several tables and stats of one snapshot parses it once. */
  def read(spark: SparkSession, m: Manifest, table: String,
           schema: Option[StructType]): DataFrame =
    scan(spark, m.tables.getOrElse(table, Seq.empty), schema,
      s"table $table absent at snapshot ${m.id} and no schema given")

  /** Parquet scan over `dirs`, schema-bound when one is given. */
  private def scan(spark: SparkSession, dirs: Seq[String], schema: Option[StructType],
                   emptyError: => String): DataFrame = (dirs, schema) match {
    case (Seq(), None) => throw new IllegalArgumentException(emptyError)
    case (Seq(), Some(s)) =>
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    case (_, Some(s)) => spark.read.schema(s).parquet(dirs: _*)
    case (_, None) => spark.read.parquet(dirs: _*)
  }

  def commitMeta(snapshotId: Long): Map[String, String] = manifest(snapshotId).meta

  /** Total (rows, bytes, files) for a table at a snapshot, from manifest
    * stats alone — the reference's index-size/status reads
    * (`indexer/indexer_node.py:188-215`) with zero data I/O. Always
    * `Some`: every manifest dir carries its stats, and a table with no
    * data yet is (0, 0, 0) (matches read()'s empty DataFrame). */
  def tableStat(table: String, snapshotId: Option[Long] = None): Option[(Long, Long, Long)] = {
    val snap = snapshotId.orElse(currentSnapshotId)
    Some(snap.map(manifest(_).totals(table)).getOrElse((0L, 0L, 0L)))
  }

  /** Storage statistics over every table at a snapshot (A3/A7:
    * `monitor.py:165-204` S3 listing + `indexer_node.py:188-200` index
    * walk, answered from snapshot metadata — at scale this is also what
    * makes file pruning possible). One row per (table, delta dir). */
  def storageStats(spark: SparkSession, snapshotId: Option[Long] = None): DataFrame = {
    val snap = snapshotId.orElse(currentSnapshotId)
    val rows = snap.map(manifest(_)).toSeq.flatMap { m =>
      m.stats.toSeq.flatMap { case (t, ds) =>
        ds.map(d => (t, d.dir, d.rows, d.bytes, d.files))
      }
    }
    spark.createDataFrame(rows).toDF("table_name", "dir", "n_rows", "n_bytes", "n_files")
  }

  /** All snapshot ids from head back to the first commit (or back to
    * the oldest un-expired manifest — the walk stops where [[expire]]
    * truncated the chain). */
  def history: Seq[Long] = {
    val b = Vector.newBuilder[Long]
    var cur = currentSnapshotId
    while (cur.exists(id => id > 0 && Files.exists(manifestPath(id)))) {
      val id = cur.get
      b += id
      val p = manifest(id).parent
      cur = if (p > 0) Some(p) else None
    }
    b.result()
  }

  /** Incremental append scan (Iceberg's `incremental read`): the rows
    * added to `table` AFTER snapshot `fromId`, up to `toId` (default
    * head). The dir sets of the two manifests are diffed — manifest
    * arithmetic only, zero data I/O before the scan — so an
    * incremental recrawl/index consumer processes each wave's delta
    * exactly once instead of re-scanning the table (the batch
    * counterpart of the streaming snapshotSink's once-per-batch
    * contract; pairs with Recrawl.snapshotDiff for row-level diffs).
    *
    * A compaction REWRITES dir history (prior dirs are replaced by a
    * c-dir whose rows duplicate theirs), so an incremental read whose
    * window crosses a compaction would double-count; that case is
    * refused with IllegalStateException rather than answered wrong.
    * `schema` binds the scan exactly as in [[read]]. */
  def readIncremental(spark: SparkSession, table: String, fromId: Long,
                      toId: Option[Long] = None,
                      schema: Option[StructType] = None): DataFrame = {
    val to = toId.orElse(currentSnapshotId).getOrElse(
      throw new IllegalArgumentException("no snapshots committed"))
    val fromDirs = manifest(fromId).tables.getOrElse(table, Seq.empty).toSet
    val toDirs = manifest(to).tables.getOrElse(table, Seq.empty)
    val dropped = fromDirs -- toDirs.toSet
    if (dropped.nonEmpty)
      throw new IllegalStateException(
        s"snapshots $fromId..$to rewrite $table dirs (compaction?): ${dropped.mkString(",")}")
    scan(spark, toDirs.filterNot(fromDirs), schema,
      s"no new $table dirs in $fromId..$to and no schema given")
  }

  /** Snapshot expiry + physical vacuum (Iceberg's `expire_snapshots`):
    * keep the newest `keepLast` snapshots, delete older manifests, and
    * remove data dirs no kept snapshot references. On an append-only
    * table every dir stays referenced by head, so nothing is freed —
    * the space this reclaims is exactly the dirs a [[compact]] (or any
    * rewrite) orphaned behind the kept window. Time travel remains
    * valid within the kept window; reads at expired ids fail loudly
    * (manifest gone) instead of returning partial data. Returns
    * (expired ids, deleted dirs). */
  def expire(keepLast: Int): (Seq[Long], Seq[String]) = {
    require(keepLast >= 1, "must keep at least the head snapshot")
    val hist = history
    val drop = hist.drop(keepLast)
    if (drop.isEmpty) return (Seq.empty, Seq.empty)
    val kept = hist.take(keepLast)
    val referenced = kept.flatMap(id => manifest(id).tables.values.flatten).toSet
    val deletable = drop.flatMap(id => manifest(id).tables.values.flatten)
      .distinct.filterNot(referenced)
    deletable.foreach { dir =>
      val p = Paths.get(dir)
      if (Files.exists(p)) {
        // Files.walk holds directory handles until closed — a periodic
        // expire over many dirs would otherwise leak fds
        val walk = Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.delete(f))
        finally walk.close()
      }
    }
    drop.foreach(id => Files.deleteIfExists(manifestPath(id)))
    (drop, deletable)
  }
}

object IceLite {
  /** A data dir's (rows, bytes, files), as [[DeltaWriter]] reports them. */
  case class DirStat(dir: String, rows: Long, bytes: Long, files: Int)
}
