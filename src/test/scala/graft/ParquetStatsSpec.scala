package graft

import java.io.{File, IOException}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import graft.icelite.{IceLite, ParquetStats}

/** Footer-derived dir stats agree with what Spark reads back, and a
  * schema-bound IceLite read plans without running a job. */
class ParquetStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def partFiles(dir: String): Seq[File] =
    new File(dir).listFiles().toSeq
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  private def assertMatchesSpark(dir: String): ParquetStats.DirStat = {
    val st = ParquetStats.dirStat(dir)
    val parts = partFiles(dir)
    assert(st.dir == dir)
    assert(st.rows == spark.read.parquet(dir).count())
    assert(st.bytes == parts.map(_.length()).sum)
    assert(st.files == parts.size)
    st
  }

  test("dirStat: a multi-file dir") {
    val dir = Files.createTempDirectory("pstats").resolve("t").toString
    (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(3).write.parquet(dir)
    val st = assertMatchesSpark(dir)
    assert(st.rows == 1000 && st.files == 3)
  }

  test("dirStat: a file with several row groups") {
    val dir = Files.createTempDirectory("pstats").resolve("t").toString
    (1 to 20000).map(i => (i.toLong, s"value-$i-${i * 31}")).toDF("id", "v")
      .coalesce(1).write
      .option("parquet.block.size", "4096")
      .option("parquet.block.size.row.check.min", "10")
      .option("parquet.block.size.row.check.max", "100")
      .parquet(dir)
    val Seq(part) = partFiles(dir)
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(part.getAbsolutePath), new Configuration()))
    val rowGroups = try reader.getRowGroups.size finally reader.close()
    assert(rowGroups > 1, "the writer options did not split the file")
    assert(assertMatchesSpark(dir).rows == 20000)
  }

  test("dirStat: a dir without part files is 0/0/0") {
    val dir = Files.createTempDirectory("pstats")
    Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
    Files.write(dir.resolve(".part-00000.parquet.crc"), "crc".getBytes)
    assert(ParquetStats.dirStat(dir.toString) == ParquetStats.DirStat(dir.toString, 0, 0, 0))
  }

  test("dirStat: a part file that is not parquet is an error") {
    val dir = Files.createTempDirectory("pstats")
    Files.write(dir.resolve("part-00000.parquet"), "this is not a parquet file".getBytes)
    intercept[IOException](ParquetStats.dirStat(dir.toString))
  }

  test("a schema-bound IceLite read of a committed table runs no Spark job") {
    val store = new IceLite(Files.createTempDirectory("icelite").toString)
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    store.commit(Seq("a" -> df))
    store.commit(Seq("a" -> df))
    // the control: without a schema the read infers one, with a job
    assert(SparkTestBase.jobsDuring(store.read(spark, "a")) >= 1)
    var bound: org.apache.spark.sql.DataFrame = null
    assert(SparkTestBase.jobsDuring { bound = store.read(spark, "a", None, Some(df.schema)) } == 0)
    assert(bound.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(bound.count() == 200)
  }
}
