package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Shared local session for all suites (one JVM, sequential suites). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A data dir's stats from outside IceLite — a scan's row count, and the
    * number and summed lengths of its `part-*.parquet` files: the
    * reference every manifest stat must equal. */
  def dirStatReference(dir: String): graft.icelite.IceLite.DirStat = {
    val parts = new java.io.File(dir).listFiles().toSeq
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    graft.icelite.IceLite.DirStat(dir, spark.read.parquet(dir).count(),
      parts.map(_.length()).sum, parts.size)
  }

  /** Spark jobs started while `body` runs, from any driver thread (IceLite
    * commits write from threads of their own). Two sentinel jobs, tagged
    * through a local property, bracket `body`; the listener bus delivers
    * job starts in order, so the jobs it sees between the sentinels are
    * body's — suites run one at a time, so no other job can land there. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.probe"
    val jobs = new AtomicInteger
    @volatile var open = false
    val closed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some("start") => open = true
          case Some("end") => open = false; closed.countDown()
          case _ => if (open) jobs.incrementAndGet()
        }
    }
    def sentinel(tag: String): Unit = {
      sc.setLocalProperty(key, tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
    }
    sc.addSparkListener(listener)
    try {
      sentinel("start")
      body
      sentinel("end")
      assert(closed.await(60, TimeUnit.SECONDS), "listener never saw the closing sentinel job")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
