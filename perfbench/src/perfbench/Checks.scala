package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.bench.{BenchFetcher, BenchWeb}
import graft.model.RobotsRule
import graft.urlnorm.UrlCanon

/** Minimal JSON rendering for the harness's output lines. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}

/** Digests the correctness checks compare. Both are pure functions of
  * their input so they can be checked without Spark (see SelfTest). */
object Digest {
  /** Ordered digest of a frontier: SHA-256 over "seq\turl\n" lines in
    * ascending seq order. Any reordering, gap or changed URL changes it. */
  def frontier(rows: Seq[(Long, String)]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sortBy(_._1).foreach { case (s, u) => md.update(s"$s\t$u\n".getBytes("UTF-8")) }
    md.digest().take(16).map(b => f"$b%02x").mkString
  }

  /** Order-insensitive combination of per-row 64-bit hashes: row count
    * plus the sums of the low and high 32-bit halves (each sum stays
    * exact below 2^31 rows). Duplicated rows count twice, unlike XOR. */
  def combine(rowHashes: Iterator[Long]): String = {
    var n = 0L; var lo = 0L; var hi = 0L
    rowHashes.foreach { h => n += 1; lo += h & 0xffffffffL; hi += h >>> 32 }
    render(n, lo, hi)
  }
  def render(n: Long, lo: Long, hi: Long): String = f"$n:$lo%x:$hi%x"

  /** Result digest of a DataFrame, computed distributed with the same
    * combination rule as [[combine]]. Columns are taken in name order
    * and floating values rounded to 9 significant digits, so a plan
    * that reorders columns or sums doubles in another order still
    * matches. */
  def result(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.sortBy(_.name).map(f => normalized(col(s"`${f.name}`"), f.dataType))
    val h = xxhash64((cols :+ lit(0)): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xffffffffL))),
        sum(shiftrightunsigned(col("h"), 32)))
      .head()
    val n = r.getLong(0)
    val lo = if (r.isNullAt(1)) 0L else r.getLong(1)
    val hi = if (r.isNullAt(2)) 0L else r.getLong(2)
    (n, render(n, lo, hi))
  }

  private def normalized(c: org.apache.spark.sql.Column, t: DataType): org.apache.spark.sql.Column = t match {
    case DoubleType | FloatType => format_number9(c.cast(DoubleType))
    case ArrayType(et, _) if et == DoubleType || et == FloatType =>
      transform(c, x => format_number9(x.cast(DoubleType)))
    case _ => c
  }
  private def format_number9(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(c.isNull, lit(null)).otherwise(
      format_string("%.9g", when(c === 0.0, lit(0.0)).otherwise(c)))
}

/** Sequential reference for the polite crawl: the crawl spec replayed
  * one page at a time over the same synthetic web and robots rules. */
object PoliteOracle {
  case class Result(order: Vector[(Long, String)], finalized: Set[String])

  /** The crawl after `maxWaves` waves (or until it drains). */
  def run(web: BenchWeb, seeds: Seq[String], robots: Seq[RobotsRule],
          waveSeconds: Double, defaultDelay: Double, maxWaves: Int): Result = {
    val fetcher = new BenchFetcher(web)
    val rules = robots.map(r => r.host -> r).toMap
    case class E(url: String, host: String, depth: Int, seq: Long)
    val frontier = mutable.LinkedHashMap.empty[String, E]
    var nextSeq = 1L
    seeds.map(UrlCanon.canonicalize).filter(UrlCanon.isHttpUrl).foreach { u =>
      if (!frontier.contains(u)) { frontier(u) = E(u, UrlCanon.host(u), 0, nextSeq); nextSeq += 1 }
    }
    val done = mutable.HashSet.empty[String]
    var wave = 1
    var more = true
    while (more && wave <= maxWaves) {
      val pending = frontier.values.filterNot(e => done(e.url)).toVector.sortBy(e => (e.depth, e.seq))
      val (denied, allowed) = pending.partition(e => rules.get(e.host).exists(r =>
        r.effectiveRules.find(l => l.path.isEmpty || UrlCanon.pathOf(e.url).startsWith(l.path))
          .exists(!_.allow)))
      denied.foreach(e => done += e.url)
      val selected = allowed.groupBy(_.host).toVector.flatMap { case (h, es) =>
        val delay = rules.get(h).map(_.crawlDelay).getOrElse(defaultDelay)
        es.sortBy(e => (e.depth, e.seq)).take(math.max(1L, math.floor(waveSeconds / delay).toLong).toInt)
      }.sortBy(e => (e.depth, e.seq))
      if (selected.isEmpty && denied.isEmpty) more = false
      else {
        val found = mutable.LinkedHashMap.empty[String, Int]
        selected.foreach { e =>
          done += e.url
          val p = fetcher.fetch(e.url)
          if (p.status == 200) p.outLinks.foreach { href =>
            val r = UrlCanon.resolve(e.url, href)
            if (r != null && UrlCanon.isHttpUrl(r)) {
              val c = UrlCanon.canonicalize(r)
              if (!frontier.contains(c) && !found.contains(c)) found(c) = e.depth + 1
            }
          }
        }
        found.foreach { case (u, d) => frontier(u) = E(u, UrlCanon.host(u), d, nextSeq); nextSeq += 1 }
        wave += 1
      }
    }
    Result(frontier.values.map(e => e.seq -> e.url).toVector, done.toSet)
  }
}

/** Pure-function checks runnable without Spark:
  * `java ... perfbench.SelfTest` exits non-zero on the first failure. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    var failures = 0
    def check(name: String, ok: Boolean): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $name")
      if (!ok) failures += 1
    }
    val rows = Seq(1L -> "http://a/p/1", 2L -> "http://b/p/2", 3L -> "http://a/p/3")
    check("frontier digest ignores input order", Digest.frontier(rows) == Digest.frontier(rows.reverse))
    check("frontier digest sees a swapped url",
      Digest.frontier(rows) != Digest.frontier(Seq(1L -> "http://b/p/2", 2L -> "http://a/p/1", 3L -> "http://a/p/3")))
    check("frontier digest sees a seq gap",
      Digest.frontier(rows) != Digest.frontier(Seq(1L -> "http://a/p/1", 2L -> "http://b/p/2", 4L -> "http://a/p/3")))
    val hs = Seq(-1L, 0L, 42L, Long.MaxValue, Long.MinValue)
    check("combine is order-insensitive", Digest.combine(hs.iterator) == Digest.combine(hs.reverse.iterator))
    check("combine counts duplicates", Digest.combine((hs :+ 42L).iterator) != Digest.combine(hs.iterator))
    check("combine of nothing", Digest.combine(Iterator.empty) == "0:0:0")
    check("combine halves", Digest.combine(Iterator(0x100000002L)) == "1:2:1")
    if (failures > 0) sys.exit(1)
  }
}
