package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.robots.RobotsTxt

/**
 * RobotsTxt parity vs the engine the reference actually uses:
 * `urllib.robotparser.RobotFileParser` (`crawler/crawler_node.py:13,44-48`).
 * Every (fixture, agent, path) expectation below was generated by running
 * CPython's RobotFileParser over the same bodies — the vectors are the
 * stdlib's answers, not this implementation's.
 */
class RobotsTxtSpec extends AnyFunSuite {

  private val fixtures = Map(
    "basic" ->
      """User-agent: *
        |Disallow: /private/
        |Disallow: /tmp/
        |Crawl-delay: 2
        |""".stripMargin,
    "specific" ->
      """User-agent: graftbot
        |Disallow: /nobots/
        |Crawl-delay: 5
        |
        |User-agent: *
        |Disallow: /private/
        |""".stripMargin,
    "allow_override" ->
      """User-agent: *
        |Allow: /private/public/
        |Disallow: /private/
        |""".stripMargin,
    "empty_disallow" ->
      """User-agent: *
        |Disallow:
        |""".stripMargin,
    "multi_agent" ->
      """User-agent: a
        |User-agent: graftbot
        |Disallow: /x/
        |
        |User-agent: *
        |Disallow: /
        |""".stripMargin,
    "comments" ->
      """# header comment
        |User-agent: * # trailing
        |Disallow: /secret/ # hidden
        |""".stripMargin,
    "disallow_all" ->
      """User-agent: *
        |Disallow: /
        |""".stripMargin)

  private val paths = Seq("/", "/private/", "/private/public/a", "/tmp/x",
    "/nobots/y", "/x/z", "/secret/s", "/ok")

  // (fixture, agent) -> per-path can_fetch bits in `paths` order + crawl_delay
  private val expected: Map[(String, String), (Seq[Boolean], Option[Double])] = Map(
    ("basic", "graftbot/1.0") ->
      (Seq(true, false, false, false, true, true, true, true), Some(2.0)),
    ("basic", "OtherBot/2.0") ->
      (Seq(true, false, false, false, true, true, true, true), Some(2.0)),
    ("specific", "graftbot/1.0") ->
      (Seq(true, true, true, true, false, true, true, true), Some(5.0)),
    ("specific", "OtherBot/2.0") ->
      (Seq(true, false, false, true, true, true, true, true), None),
    ("allow_override", "graftbot/1.0") ->
      (Seq(true, false, true, true, true, true, true, true), None),
    ("allow_override", "OtherBot/2.0") ->
      (Seq(true, false, true, true, true, true, true, true), None),
    ("empty_disallow", "graftbot/1.0") ->
      (Seq(true, true, true, true, true, true, true, true), None),
    ("empty_disallow", "OtherBot/2.0") ->
      (Seq(true, true, true, true, true, true, true, true), None),
    ("multi_agent", "graftbot/1.0") ->
      (Seq(true, true, true, true, true, false, true, true), None),
    ("multi_agent", "OtherBot/2.0") ->
      (Seq(false, false, false, false, false, false, false, false), None),
    ("comments", "graftbot/1.0") ->
      (Seq(true, true, true, true, true, true, false, true), None),
    ("comments", "OtherBot/2.0") ->
      (Seq(true, true, true, true, true, true, false, true), None),
    ("disallow_all", "graftbot/1.0") ->
      (Seq(false, false, false, false, false, false, false, false), None),
    ("disallow_all", "OtherBot/2.0") ->
      (Seq(false, false, false, false, false, false, false, false), None))

  test("can_fetch + crawl_delay match CPython RobotFileParser on every vector") {
    for (((fx, agent), (bits, delay)) <- expected) {
      val parsed = RobotsTxt.parse(fixtures(fx))
      for ((path, want) <- paths.zip(bits)) {
        val got = parsed.canFetch(agent, path)
        assert(got == want, s"$fx $agent $path: got $got want $want")
      }
      assert(parsed.crawlDelay(agent) == delay, s"$fx $agent crawl_delay")
    }
  }

  test("agent group never followed by a rule line is discarded (stdlib quirk)") {
    // RobotFileParser drops a state-1 group at blank line/EOF; graftbot
    // must fall through to the * group instead of matching an empty one.
    val p = RobotsTxt.parse("User-agent: graftbot\n\nUser-agent: *\nDisallow: /\n")
    assert(!p.canFetch("graftbot/1.0", "/anything"))
  }

  test("toRule flattens Disallow prefixes + crawl-delay into the pipeline row") {
    val r = RobotsTxt.toRule("h3.example.test", fixtures("basic"))
    assert(r.host == "h3.example.test")
    assert(r.disallowPrefixes == Seq("/private/", "/tmp/"))
    assert(r.crawlDelay == 2.0)
    // specific group wins for its own agent, * for others
    val rs = RobotsTxt.toRule("h.example.test", fixtures("specific"), "graftbot/1.0")
    assert(rs.disallowPrefixes == Seq("/nobots/") && rs.crawlDelay == 5.0)
    val ro = RobotsTxt.toRule("h.example.test", fixtures("specific"), "OtherBot/2.0",
      defaultDelay = 1.0)
    assert(ro.disallowPrefixes == Seq("/private/") && ro.crawlDelay == 1.0)
  }

  test("unfetchable robots.txt is permissive (crawler_node.py:50-52)") {
    val r = RobotsTxt.permissive("h9.example.test")
    assert(r.disallowPrefixes.isEmpty && r.crawlDelay == 1.0)
  }

  test("disallowedColOrdered == Parsed.canFetch on every fixture × path (Allow exact)") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val paths = Seq("/", "/private/", "/private/x", "/private/public/",
      "/private/public/y", "/tmp/z", "/p/1", "/p/12", "/p/2", "/nobots/a", "")
    for ((name, body) <- fixtures) {
      val rule = RobotsTxt.toRule("h.test", body)
      val parsed = RobotsTxt.parse(body)
      val got = paths.toDF("path")
        .withColumn("rules", org.apache.spark.sql.functions.typedLit(rule.effectiveRules))
        .withColumn("denied",
          RobotsTxt.disallowedColOrdered($"path", $"rules"))
        .select($"path", $"denied").as[(String, Boolean)].collect().toMap
      paths.foreach { p =>
        assert(got(p) == !parsed.canFetch("*", p),
          s"fixture $name path $p: column ${got(p)} vs stdlib ${!parsed.canFetch("*", p)}")
      }
    }
  }

  test("HostRules: every host of a 5000-host table looks up its own rule, codegen and interpreted") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val robots = (0 until 5000).map { i =>
      if (i % 3 == 0) RobotsTxt.failed(s"h$i.test")
      else graft.model.RobotsRule(s"h$i.test", Seq(s"/p$i/"), 1.0 + i % 7)
    }
    intercept[IllegalArgumentException](
      graft.robots.HostRules.lookup(spark, robots :+ robots(7), col("host")))
    val rule = graft.robots.HostRules.lookup(spark, robots, col("host"))
    val hosts = (0 until 5200 by 13).map(i => s"h$i.test") :+ null
    val want = robots.map(r => r.host -> ((r.effectiveRules.map(_.path), r.crawlDelay, r.robotsFailed))).toMap
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val got = hosts.toDF("host")
          .select($"host", rule("_1").getField("path").as("paths"), rule("_2").as("delay"), rule("_3").as("failed"))
          .collect().map(r => Option(r.getString(0)) -> (
            if (r.isNullAt(3)) None
            else Some((r.getSeq[String](1), r.getDouble(2), r.getBoolean(3))))).toMap
        hosts.foreach { h =>
          assert(got(Option(h)) == Option(h).flatMap(want.get), s"$mode host $h")
        }
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
