package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

/** Supplementary measurement harness for the optimization rounds
  * (guide §1: measure first, isolate with the noop sink, capture
  * plans). NOT part of the driver contract — `graft.Bench` is the
  * frozen artifact bench; this main exists so plan capture and
  * repeated-min timing never touch it.
  *
  * Modes (first arg):
  *  - `plans <outDir> [names...]`  — write `.explain("formatted")` for
  *    each named query (default: the Bench headline list) to
  *    `<outDir>/<name>.txt`.
  *  - `time <repeats> [names...]`  — run each named query `repeats`
  *    times with the SAME action the frozen bench uses (`count()`,
  *    after one warmup count) and print per-query min/median seconds.
  *  - `noop <repeats> [names...]`  — same, but the action is the noop
  *    sink (`df.write.format("noop")`), which computes every column
  *    (guide §1.4) — catches work `count()` lets the optimizer prune.
  *
  * Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS (and SPARK_GRAFT_MASTER),
  * as `graft.Bench`, whose session settings and headline list it uses.
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val mode = if (args.nonEmpty) args(0) else "time"
    val spark = LocalSession(s"graft-bench-$cpus", cpus)
    try {
      mode match {
        case "plans" =>
          val outDir = Paths.get(args(1))
          Files.createDirectories(outDir)
          val names = if (args.length > 2) args.drop(2).toSeq
                      else SparkEntry.queries.keys.toSeq.sorted
          names.foreach { name =>
            val df = SparkEntry.queries(name)(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.write(outDir.resolve(s"$name.txt"), plan.getBytes("UTF-8"))
            System.err.println(s"[plans] wrote $name")
          }
        case "time" | "noop" =>
          val repeats = if (args.length > 1) args(1).toInt else 3
          val names = if (args.length > 2) args.drop(2).toSeq else Bench.headline
          val results = names.map { name =>
            val fn = SparkEntry.queries(name)
            def action(): Unit =
              if (mode == "noop")
                fn(spark, sfDir).write.format("noop").mode("overwrite").save()
              else { fn(spark, sfDir).count(); () }
            spark.sparkContext.setJobDescription(s"$name warmup")
            action() // warm (plan + IO cache), as the frozen bench
            val times = (0 until repeats).map { i =>
              spark.sparkContext.setJobDescription(s"$name rep$i")
              val t0 = System.nanoTime()
              action()
              (System.nanoTime() - t0) / 1e9
            }.sorted
            val med = times(times.size / 2)
            System.err.println(f"[$mode] $name min=${times.head}%.3f med=$med%.3f")
            (name, times.head, med)
          }
          val minTotal = results.map(_._2).sum
          val qj = results.map { case (n, mn, md) =>
            f""""$n":{"min":$mn%.3f,"med":$md%.3f}""" }.mkString(",")
          println(f"""BENCH_EXTRA {"mode":"$mode%s","sum_min":$minTotal%.3f,$qj%s}""")
        case other =>
          System.err.println(s"unknown mode $other"); sys.exit(2)
      }
    } finally spark.stop()
  }
}
