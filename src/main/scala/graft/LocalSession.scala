package graft

import org.apache.spark.sql.SparkSession

/** The local session the benchmark and tooling mains share: `local[cores]`
  * with `cores` shuffle partitions, a UTC session clock, a 64 MB broadcast
  * threshold, no UI and ERROR logging. `CrawlMain` builds its own session
  * (spark-submit supplies the master), and so does the test suite. */
object LocalSession {
  def apply(appName: String, cores: Int): SparkSession = {
    // SPARK_GRAFT_MASTER overrides the master URL ({cores} substituted).
    // `local-cluster[{cores},1,<mb>]` runs one 1-core executor JVM per
    // "node", the closest local rendition of "N vs 4N executors". It needs
    // SPARK_HOME and SPARK_SCALA_VERSION=2.13 exported: the in-process
    // Worker builds executor commands through the dist's command builder.
    // Not the default: it costs ~15% wall vs local[k] (netty shuffle,
    // per-executor JIT), but avoids 4 task threads sharing a young gen.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "") match {
      case "" | "local" => s"local[$cores]"
      case tpl          => tpl.replace("{cores}", cores.toString)
    }
    val b = SparkSession.builder().master(master)
    if (master.startsWith("local-cluster")) {
      // forked executors start from the bare Spark-dist classpath: hand
      // them the app classes (absolute — they run from their own scratch
      // dir) and the driver's JDK-17 module opens (build.sbt javaOptions)
      val absCp = System.getProperty("java.class.path")
        .split(java.io.File.pathSeparator)
        .map(p => new java.io.File(p).getAbsolutePath)
        .mkString(java.io.File.pathSeparator)
      b.config("spark.executor.extraClassPath", absCp)
      val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.toArray.map(_.toString)
        .filter(a => a.startsWith("--add-opens") || a.startsWith("--add-exports") ||
          a.startsWith("--enable-native-access"))
        .mkString(" ")
      if (opens.nonEmpty) b.config("spark.executor.extraJavaOptions", opens)
    }
    val s = b
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
