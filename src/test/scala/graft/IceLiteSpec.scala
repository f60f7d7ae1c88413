package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.icelite.IceLite

class IceLiteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("multi-table commit is atomic and time-travelable") {
    val root = Files.createTempDirectory("icelite").toString
    val store = new IceLite(root)

    val s1 = store.commit(Seq(
      "a" -> Seq((1L, "x")).toDF("id", "v"),
      "b" -> Seq((10L, 1.5)).toDF("id", "w")), Map("wave" -> "1"))
    val s2 = store.commit(Seq(
      "a" -> Seq((2L, "y")).toDF("id", "v")), Map("wave" -> "2"))

    assert(store.currentSnapshotId.contains(s2))
    // head sees both deltas of a, one of b
    assert(store.read(spark, "a").count() == 2)
    assert(store.read(spark, "b").count() == 1)
    // time travel to s1: only first delta of a
    assert(store.read(spark, "a", Some(s1)).count() == 1)
    assert(store.commitMeta(s1)("wave") == "1")
    assert(store.history == Seq(s2, s1))
  }

  test("a manifest line of unknown shape fails read and tableStat, naming the file") {
    val root = Files.createTempDirectory("icelite").toString
    val store = new IceLite(root)
    val id = store.commit(Seq(
      "a" -> Seq((1L, "x")).toDF("id", "v"),
      "b" -> Seq((2L, "y")).toDF("id", "v")))
    // a `table` line without its stats: skipping it would make b's rows
    // vanish from every read
    val path = java.nio.file.Paths.get(root, "meta", s"snap-$id.manifest")
    val lines = Files.readAllLines(path)
    val bLine = (0 until lines.size).find(i => lines.get(i).startsWith("table\tb\t")).get
    lines.set(bLine, lines.get(bLine).split("\t").take(3).mkString("\t"))
    Files.write(path, lines)
    for ((what, call) <- Seq[(String, () => Any)](
        "read" -> (() => store.read(spark, "a")),
        "tableStat" -> (() => store.tableStat("b")))) {
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains(path.toString), s"$what: ${e.getMessage}")
    }
  }

  test("uncommitted data dirs are invisible (crash mid-commit)") {
    val root = Files.createTempDirectory("icelite").toString
    val store = new IceLite(root)
    store.commit(Seq("a" -> Seq((1L, "x")).toDF("id", "v")))
    // simulate a crash: a writer dumped data for snapshot 2 but died
    // before the manifest/head swap
    Seq((99L, "orphan")).toDF("id", "v").write.parquet(s"$root/a/d2")
    assert(store.read(spark, "a").count() == 1)
    assert(store.currentSnapshotId.contains(1L))
    // a fresh commit after the crash does not resurrect the orphan —
    // it writes data under the next id; commit() must not collide
    val s = new IceLite(root)
    // (the orphan dir d2 exists; commit with id 2 would collide — the
    // layer overwrites it, which is exactly the wave-retry semantics:
    // the re-run wave replaces the partial output)
    val s2 = s.commit(Seq("a" -> Seq((2L, "y")).toDF("id", "v")))
    assert(s.read(spark, "a").count() == 2)
    assert(s.read(spark, "a").where($"v" === "orphan").count() == 0)
  }

  test("compact: rewrites N delta dirs to one, preserves rows + time travel") {
    val root = Files.createTempDirectory("icelite").toString
    val store = new IceLite(root)
    // 8 waves of small deltas on `a`, one delta on `b`
    (1 to 8).foreach { w =>
      store.commit(Seq("a" -> (w * 100L until w * 100L + 5L).map(i => (i, s"v$i"))
        .toDF("id", "v")), Map("wave" -> w.toString))
    }
    store.commit(Seq("b" -> Seq((1L, 2.0)).toDF("id", "w")), Map("wave" -> "9"))
    val preHead = store.currentSnapshotId.get
    val preRows = store.read(spark, "a").orderBy("id").collect().toSeq
    val (preCount, _, preFiles) = store.tableStat("a").get

    val cid = store.compact(spark, "a").get
    assert(store.currentSnapshotId.contains(cid))
    // identical rows, strictly fewer dirs/files
    assert(store.read(spark, "a").orderBy("id").collect().toSeq == preRows)
    val (rows, bytes, files) = store.tableStat("a").get
    assert(rows == preCount && files < preFiles && bytes > 0)
    // untouched table carried forward; head commit meta (wave) survives
    // the compaction snapshot so resume still finds its wave counter
    assert(store.read(spark, "b").count() == 1)
    assert(store.commitMeta(cid).get("wave").contains("9"))
    // time travel: the pre-compaction snapshot still reads the old dirs
    assert(store.read(spark, "a", Some(preHead)).count() == preCount)
    // appends continue normally on top of the compacted snapshot
    store.commit(Seq("a" -> Seq((9999L, "z")).toDF("id", "v")))
    assert(store.read(spark, "a").count() == preCount + 1)
    // nothing to do when a single dir remains
    assert(new IceLite(root).compact(spark, "b").isEmpty)
  }

  test("empty read with schema for absent tables") {
    val root = Files.createTempDirectory("icelite").toString
    val store = new IceLite(root)
    store.commit(Seq("a" -> Seq((1L, "x")).toDF("id", "v")))
    val schema = StructType(Seq(StructField("id", LongType)))
    assert(store.read(spark, "nope", None, Some(schema)).isEmpty)
  }

  test("readIncremental: exactly the rows added after `from`; refuses a compaction window") {
    val root = Files.createTempDirectory("icelite").toString
    val store = new IceLite(root)
    val s1 = store.commit(Seq("a" -> Seq((1L, "x")).toDF("id", "v")))
    val s2 = store.commit(Seq("a" -> Seq((2L, "y")).toDF("id", "v")))
    val s3 = store.commit(Seq("a" -> Seq((3L, "z")).toDF("id", "v")))
    // waves 2+3 only — wave 1's rows must not reappear
    assert(store.readIncremental(spark, "a", s1).select("id").as[Long].collect().sorted
      .toSeq == Seq(2L, 3L))
    // bounded window s1..s2
    assert(store.readIncremental(spark, "a", s1, Some(s2)).select("id").as[Long].collect()
      .toSeq == Seq(2L))
    // empty window needs a schema; with one it returns zero rows
    val schema = StructType(Seq(StructField("id", LongType)))
    assert(store.readIncremental(spark, "a", s3, None, Some(schema)).isEmpty)
    // a compaction inside the window rewrites dirs -> refuse, never double-count
    store.compact(spark, "a").get
    intercept[IllegalStateException] {
      store.readIncremental(spark, "a", s1)
    }
    // but a window starting AT the compacted snapshot works again
    val head = store.currentSnapshotId.get
    store.commit(Seq("a" -> Seq((4L, "w")).toDF("id", "v")))
    assert(store.readIncremental(spark, "a", head).select("id").as[Long].collect()
      .toSeq == Seq(4L))
  }

  test("expire: drops old manifests, vacuums only dirs no kept snapshot references") {
    val root = Files.createTempDirectory("icelite").toString
    val store = new IceLite(root)
    (1 to 4).foreach { w =>
      store.commit(Seq("a" -> Seq((w.toLong, s"v$w")).toDF("id", "v")), Map("wave" -> w.toString))
    }
    // append-only: every d-dir is still referenced by head -> nothing freed
    val (dropped0, deleted0) = store.expire(keepLast = 2)
    assert(dropped0 == Seq(2L, 1L) && deleted0.isEmpty)
    assert(store.history == Seq(4L, 3L))
    assert(store.read(spark, "a").count() == 4) // head rows intact
    intercept[Exception] { store.read(spark, "a", Some(1L)) } // expired id fails loudly
    // compact, then expire: the pre-compaction d-dirs are orphaned and freed
    val cid = store.compact(spark, "a").get
    val (dropped1, deleted1) = store.expire(keepLast = 1)
    assert(dropped1.nonEmpty && deleted1.nonEmpty, s"expected orphaned dirs, got $deleted1")
    deleted1.foreach(d => assert(!Files.exists(java.nio.file.Paths.get(d)), s"$d not deleted"))
    assert(store.history == Seq(cid))
    assert(store.read(spark, "a").orderBy("id").select("id").as[Long].collect()
      .toSeq == Seq(1L, 2L, 3L, 4L))
    // nothing left to expire
    assert(store.expire(keepLast = 1) == ((Seq.empty, Seq.empty)))
  }
}
