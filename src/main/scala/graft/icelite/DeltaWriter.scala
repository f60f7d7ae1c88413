package graft.icelite

import java.io.File
import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetOutputWriter, ParquetUtils}

/**
 * IceLite's delta writer: one Spark job in which every non-empty
 * partition streams its rows into one parquet file through Spark's own
 * `ParquetOutputWriter`/`ParquetWriteSupport`, and reports the file's
 * (name, rows, bytes) back to the driver — Iceberg's writer contract,
 * where data-file metadata flows to the snapshot commit instead of being
 * re-read from storage.
 *
 * It replaces `df.write.parquet(dir)` inside IceLite, whose
 * `FileFormatWriter` + `FileOutputCommitter` path adds what IceLite's own
 * manifest swap already provides (`_temporary` dirs, task and job
 * renames, `_SUCCESS`) and ships the session's whole Hadoop
 * configuration to every write task, empty ones included. Here:
 *
 *  - **settings**: the driver fills a `Configuration(false)` with
 *    `ParquetUtils.prepareWrite` (the codec, `ParquetWriteSupport`'s
 *    schema and flags) over the session's `parquet.*` Hadoop settings;
 *    each task rebuilds a `Configuration(false)` from just those keys.
 *  - **schema**: the DataFrame's own, as `df.write` stores it (a
 *    non-null column is REQUIRED in the file, with no definition
 *    levels); readers see every file column as nullable either way.
 *  - **files**: a task writes its partition to a hidden
 *    `_part-<pid>-<uuid>.parquet` (invisible to readers) and reports
 *    it; a partition with no rows opens nothing. After the job the
 *    driver renames each reported file to
 *    `part-<pid>-<uuid>.parquet` and deletes every other file in the dir
 *    (a failed or duplicate attempt's output), so the visible files are
 *    exactly the ones the stats describe. Only the driver makes a file
 *    visible: an attempt still running when the job ends (speculative or
 *    zombie) can at most leave a hidden file behind.
 *  - **empty deltas**: when no task wrote a row, the driver writes one
 *    schema-only file, as `df.write` does, so the delta still reads
 *    back without a schema.
 */
private[icelite] object DeltaWriter {

  /** Overwrites `dir` with the rows of `df`; returns the dir's stats. */
  def write(df: DataFrame, dir: String): IceLite.DirStat = {
    val qe = df.queryExecution
    val session = qe.sparkSession
    val sqlConf = session.sessionState.conf
    val target = new File(dir)
    org.apache.commons.io.FileUtils.deleteDirectory(target)
    if (!target.mkdirs()) throw new java.io.IOException(s"cannot create $dir")

    // the session's parquet.* settings — from its Hadoop conf and its SQL
    // conf, as in the Hadoop conf Spark's own writer gets — then the keys
    // prepareWrite fills in from the session (codec, write-support schema
    // and flags)
    val job = Job.getInstance(new Configuration(false))
    val jobConf = job.getConfiguration
    session.sparkContext.hadoopConfiguration.getPropsWithPrefix("parquet.").asScala
      .foreach { case (k, v) => jobConf.set(s"parquet.$k", v) }
    sqlConf.getAllConfs.foreach { case (k, v) => if (k.startsWith("parquet.")) jobConf.set(k, v) }
    ParquetUtils.prepareWrite(sqlConf, job, df.schema,
      new ParquetOptions(Map.empty[String, String], sqlConf))
    val settings: Map[String, String] =
      jobConf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    val dirUri = target.toURI.toString

    val written: Array[(String, Long, Long)] =
      SQLExecution.withNewExecutionId(qe, Some(s"icelite write $dir")) {
        qe.toRdd.mapPartitions { rows =>
          if (!rows.hasNext) Iterator.empty
          else {
            val name = f"part-${TaskContext.getPartitionId()}%05d-${UUID.randomUUID()}.parquet"
            val (n, bytes) = writeHidden(settings, dirUri, name) { w =>
              var n = 0L
              rows.foreach { r => w.write(r); n += 1 }
              n
            }
            Iterator((name, n, bytes))
          }
        }.collect()
      }

    val files = if (written.nonEmpty) written.toSeq else {
      val name = s"part-00000-${UUID.randomUUID()}.parquet"
      val (_, bytes) = writeHidden(settings, dirUri, name)(_ => 0L)
      Seq((name, 0L, bytes))
    }
    val fs = new Path(dirUri).getFileSystem(new Configuration(false))
    files.foreach { case (name, _, _) =>
      val (tmp, out) = (new Path(dirUri, s"_$name"), new Path(dirUri, name))
      if (!fs.rename(tmp, out)) throw new java.io.IOException(s"cannot rename $tmp to $out")
    }
    val reported = files.map(_._1).toSet
    // a reported file's checksum sidecar is `.<name>.crc`
    Option(target.listFiles()).getOrElse(Array.empty).foreach { f =>
      val n = f.getName
      val owner = if (n.startsWith(".") && n.endsWith(".crc")) n.drop(1).dropRight(4) else n
      if (!reported(owner)) org.apache.commons.io.FileUtils.forceDelete(f)
    }
    IceLite.DirStat(dir, files.map(_._2).sum, files.map(_._3).sum, files.size)
  }

  /** Writes the hidden parquet file `_name` under `dirUri` through
    * Spark's `ParquetOutputWriter`: `body` feeds the rows, then the file
    * is closed. Returns (body's result, file bytes). */
  private def writeHidden(settings: Map[String, String], dirUri: String, name: String)
                         (body: ParquetOutputWriter => Long): (Long, Long) = {
    val conf = new Configuration(false)
    settings.foreach { case (k, v) => conf.set(k, v) }
    val tmp = new Path(dirUri, s"_$name")
    val w = new ParquetOutputWriter(tmp.toString,
      new TaskAttemptContextImpl(conf, new TaskAttemptID()))
    val n = try body(w) finally w.close()
    (n, tmp.getFileSystem(conf).getFileStatus(tmp).getLen)
  }
}
