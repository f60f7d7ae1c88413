package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * Benchmark harness entry point: runs one named workload in this JVM
 * and prints one `PERFBENCH {...}` line of raw records (iterations,
 * waves, layer counters, correctness checks). `run.py` launches it,
 * derives the metrics and prints the contract line.
 *
 * Layers are observed only from outside the program: calls into
 * CrawlPipeline / IceLite / Fetcher / SparkEntry.queries are timed
 * here, and Spark's own listener buses report jobs, stages and plans.
 * Untraced iterations run the program exactly as a user would.
 */
object Main {
  case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                  out: Path, tables: String, warmTables: String, cores: Int, expected: Option[Path], record: Option[Path])

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.get("trace").contains("1"),
      Paths.get(m("out")), m.getOrElse("tables", ""), m.getOrElse("warm-tables", ""),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      m.get("expected").map(Paths.get(_)), m.get("record").map(Paths.get(_)))
  }

  def session(cores: Int, localDir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir.toString)
      .config("spark.sql.warehouse.dir", localDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spans = new Spans(System.nanoTime())
    Files.createDirectories(a.out)
    val localDir = a.out.resolve("spark-local")
    Files.createDirectories(localDir)
    val spark = spans.span("setup.session")(session(a.cores, localDir))
    val stages = new StageTotals
    val plans = new PlanTotals
    if (a.trace) {
      spark.sparkContext.addSparkListener(stages)
      spark.listenerManager.register(plans)
    }
    val ctx = new Ctx(spark, a, spans, stages, plans)
    ctx.calib.measure(4) // JIT-compiles the kernel; not recorded
    ctx.calibrate()
    val rec = try {
      a.workload match {
        case "drain"     => Workloads.drain(ctx)
        case "polite"    => Workloads.polite(ctx)
        case "analytics" => Workloads.analytics(ctx)
        case w           => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally {
      if (a.trace) spans.writeJsonl(a.out.resolve("spans.jsonl"))
    }
    spark.stop()
    ctx.calib.close()
    val fields = rec.fields.toSeq ++ Seq(
      "calib_setup_s" -> Json.arr(ctx.setupCalib.map(Json.num).toSeq),
      "calib_s" -> Json.arr(ctx.timedCalib.map(Json.num).toSeq),
      "jvm_start_ms" -> jvmStartMs.toString,
      "cores" -> a.cores.toString,
      "peak_rss_mb" -> Json.num(Ctx.vmHwmMb()))
    println("PERFBENCH " + Json.obj(fields))
  }
}

/** What a workload hands back to Main. */
final class Record {
  val fields = mutable.ArrayBuffer.empty[(String, String)]
  def put(k: String, v: String): Unit = fields += k -> v
  def num(k: String, v: Double): Unit = put(k, Json.num(v))
}

/** Per-run context shared by the workloads. */
final class Ctx(val spark: SparkSession, val args: Main.Args, val spans: Spans,
                val stages: StageTotals, val plans: PlanTotals) {
  val calib = new Calib(args.cores)
  /** Reference-kernel times taken between the steps of set-up and of the
    * timed window; the launcher scales each phase by its median. */
  val setupCalib = mutable.ArrayBuffer.empty[Double]
  val timedCalib = mutable.ArrayBuffer.empty[Double]
  private var warm = false
  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  /** One correctness-checked operation; a false `ok` counts as failed. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += s"$name $detail".trim }
  }
  def attempt(): Unit = attempted += 1
  def fail(name: String, detail: String): Unit = {
    attempted += 1; failed += 1; if (failures.size < 20) failures += s"$name $detail"
  }

  def finish(r: Record): Record = {
    r.put("attempted", attempted.toString)
    r.put("failed", failed.toString)
    r.put("failures", Json.arr(failures.map(Json.str).toSeq))
    r
  }

  /** Wall seconds since `t0` (System.nanoTime). */
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def epochMs: Long = System.currentTimeMillis()

  /** Times the reference kernel once, between two steps of work, and
    * returns the wall seconds that took. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    (if (warm) timedCalib else setupCalib) += calib.measure()
    secs(t0)
  }

  /** Marks the end of set-up: a last reference time for it, then the
    * wall-clock instant the timed window starts from. */
  def warmDone(r: Record): Unit = {
    calibrate()
    warm = true
    r.put("warm_done_ms", epochMs.toString)
  }

  /** Waits until every listener event posted so far is delivered. */
  def drainListeners(): Unit = org.apache.spark.PerfbenchBus.waitUntilEmpty(spark.sparkContext)

  def deleteTree(p: Path): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
}

object Ctx {
  /** Peak resident set of this process (VmHWM), in MiB. */
  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}
