package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.icelite.IceLite
import graft.SparkTestBase.dirStatReference

/** IceLite's delta writer against `df.write.parquet` on the same
  * DataFrame: same rows, same schemas (in the files and read back), same
  * bytes, and manifest stats — the writer's reports, staged dirs' too —
  * that equal what a scan and the file listing say. */
class IceLiteWriterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def dataFiles(dir: String): Seq[String] =
    new File(dir).listFiles().toSeq.map(_.getName).filter(_.endsWith(".parquet")).sorted

  /** The Spark schema each data file's footer records. */
  private def fileSchemas(dir: String): Set[StructType] = dataFiles(dir).map { n =>
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(new File(dir, n).getPath), new Configuration()))
    try DataType.fromJson(r.getFooter.getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata")).asInstanceOf[StructType]
    finally r.close()
  }.toSet

  /** 600 rows in 6 partitions, the last two empty; non-nullable primitives, a
    * nullable string, an array and a struct. No shuffle, so every run
    * sees the same rows in the same order. */
  private def sample: DataFrame =
    spark.sparkContext
      .parallelize((1 to 600).map(i => (i.toLong, if (i % 7 == 0) null else s"v$i", Seq(i, i + 1), i % 3 == 0)), 6)
      .mapPartitionsWithIndex((p, it) => if (p >= 4) Iterator.empty else it)
      .toDF("id", "v", "xs", "flag")
      .withColumn("st", struct($"id".as("a"), lit(1.5).as("b")))

  test("a committed delta equals df.write.parquet: rows, schemas, bytes, stats") {
    val df = sample
    assert(df.rdd.getNumPartitions == 6)
    val ref = new File(tmp("ref"), "t").toString
    df.write.parquet(ref)
    val store = new IceLite(tmp("icelite"))
    val id = store.commit(Seq("t" -> df))
    val Seq(st) = store.manifest(id).stats("t")
    val dir = st.dir

    assert(spark.read.parquet(dir).schema == spark.read.parquet(ref).schema)
    // the files carry the DataFrame's own schema (non-null id and flag stay
    // REQUIRED), as df.write stores it, and the same codec and settings:
    // partition for partition, the bytes match
    assert(fileSchemas(dir) == Set(df.schema) && fileSchemas(ref) == Set(df.schema))
    assert(st.bytes == dataFiles(ref).map(n => new File(ref, n).length()).sum)
    val sorted = (p: String) => spark.read.parquet(p).orderBy("id").collect().toSeq
    assert(sorted(dir) == sorted(ref))
    // the manifest carries the writer's counts, and they are the scan's
    // and the file listing's
    assert(st == dirStatReference(dir) && st.rows == 400)
    // one file per non-empty partition: the two empty ones opened nothing
    val nonEmpty = df.rdd.mapPartitions(it => Iterator(it.nonEmpty)).collect().count(identity)
    assert(nonEmpty == 4 && st.files == nonEmpty)
    assert(dataFiles(dir).forall(_.matches("""part-\d{5}-[0-9a-f-]{36}\.parquet""")), dataFiles(dir))
    // no committer leftovers, no hidden temp files
    val names = new File(dir).listFiles().map(_.getName).toSeq
    assert(!names.exists(n => n == "_SUCCESS" || n == "_temporary" || n.startsWith("_part-")), names)
  }

  test("a staged delta is visible only through its part- files; commit records its stats") {
    val store = new IceLite(tmp("icelite"))
    val dir = store.stage("t", sample)
    val names = new File(dir).listFiles().map(_.getName).filterNot(_.startsWith(".")).toSeq
    assert(names.size == 4 && names.forall(_.startsWith("part-")), names)
    val st = store.stagedStat(dir)
    assert(st == dirStatReference(dir))
    val id = store.commit(Seq.empty, staged = Seq("t" -> dir))
    assert(store.manifest(id).stats("t") == Seq(st))
    assert(store.tableStat("t").contains((400L, st.bytes, 4L)))
    // the commit took the record: the dir cannot be committed a second time
    intercept[IllegalArgumentException](store.stagedStat(dir))
    // a discarded dir leaves neither a record nor files
    val dropped = store.stage("t", sample)
    store.discard(dropped)
    intercept[IllegalArgumentException](store.stagedStat(dropped))
    assert(!new File(dropped).exists())
  }

  test("commit refuses a dir this store did not stage, names it, and leaves _head unchanged") {
    val root = tmp("icelite")
    val store = new IceLite(root)
    val head = store.commit(Seq("t" -> sample))
    // a parquet dir under the table written without the store, and one
    // staged by another IceLite over the same root
    val plain = new File(root, "t/splain").getPath
    sample.write.parquet(plain)
    val other = new IceLite(root).stage("t", sample)
    for (dir <- Seq(plain, other)) {
      val e = intercept[IllegalArgumentException](store.commit(Seq.empty, staged = Seq("t" -> dir)))
      assert(e.getMessage.contains(dir))
      assert(store.currentSnapshotId.contains(head))
      assert(store.manifest(head).tables("t").size == 1)
    }
  }

  test("an all-empty delta is one schema-only file that reads back without a schema") {
    val store = new IceLite(tmp("icelite"))
    val empty = sample.filter($"id" < 0)
    val id = store.commit(Seq("t" -> empty))
    val Seq(st) = store.manifest(id).stats("t")
    assert(st.rows == 0 && st.files == 1 && st.bytes > 0 && st == dirStatReference(st.dir))
    val back = store.read(spark, "t")
    assert(back.isEmpty)
    val ref = new File(tmp("ref"), "t").toString
    empty.write.parquet(ref)
    assert(back.schema == spark.read.parquet(ref).schema)
  }

  test("a part- file no task reported is removed before the manifest is published") {
    val root = tmp("icelite")
    val store = new IceLite(root)
    store.commit(Seq("t" -> Seq((1L, "a")).toDF("id", "v")))
    // the next commit writes t/d2; a task drops an extra, unreported part
    // file there mid-job (what a lost or duplicate task attempt leaves)
    val target = new File(root, "t/d2")
    val stray = new File(target, "part-00009-stray.parquet").getPath
    Seq((7L, "stray")).toDF("id", "v").write.parquet(new File(root, "src").getPath)
    val srcFile = new File(root, "src").listFiles().find(_.getName.endsWith(".parquet")).get.getPath
    val rows = (1 to 20).map(i => (i.toLong, s"r$i")).toDF("id", "v").repartition(2)
      .mapPartitions { it =>
        if (org.apache.spark.TaskContext.getPartitionId() == 0)
          Files.copy(java.nio.file.Paths.get(srcFile), java.nio.file.Paths.get(stray))
        it
      }(rowEncoder).toDF()
    val id = store.commit(Seq("t" -> rows))
    assert(!new File(stray).exists(), "stray part file survived the commit")
    val st = store.manifest(id).stats("t").last
    assert(st == dirStatReference(target.getPath) && st.rows == 20)
    assert(store.read(spark, "t").filter($"v" === "stray").isEmpty)
    assert(store.read(spark, "t").count() == 21)
    // an attempt still running when the job ended can only leave a hidden
    // file, which neither readers nor the stats see
    Files.copy(java.nio.file.Paths.get(srcFile), target.toPath.resolve("_part-00009-late.parquet"))
    assert(store.read(spark, "t").count() == 21 && dirStatReference(target.getPath) == st)
  }

  test("a schema-bound IceLite read of a committed table runs no Spark job") {
    val store = new IceLite(tmp("icelite"))
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    store.commit(Seq("a" -> df))
    store.commit(Seq("a" -> df))
    // the control: without a schema the read infers one, with a job
    assert(SparkTestBase.jobsDuring(store.read(spark, "a")) >= 1)
    var bound: DataFrame = null
    assert(SparkTestBase.jobsDuring { bound = store.read(spark, "a", None, Some(df.schema)) } == 0)
    assert(bound.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(bound.count() == 200)
  }

  private def rowEncoder = org.apache.spark.sql.Encoders.row(StructType.fromDDL("id BIGINT, v STRING"))
}
