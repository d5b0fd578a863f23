package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Pins Urls.canonicalize rule by rule (the q281/q282 DuckDB oracles
  * restate the same rules — these specs pin the INTENDED semantics so
  * an oracle-matching-but-wrong rewrite can't drift in on both sides
  * at once), plus the planted tracking-param collapse end to end. */
class UrlsSpec extends AnyFunSuite with SparkFixture {

  private def canon(url: String): String = {
    val s = spark; import s.implicits._
    Seq(Tuple1(url)).toDF("url")
      .select(Urls.canonicalize(col("url")).as("c")).head.getString(0)
  }

  test("scheme and host lowercase; www and default port stripped") {
    assert(canon("HTTPS://WWW.Example.COM:443/x") == "https://example.com/x")
    assert(canon("http://example.com:80/x") == "http://example.com/x")
    // non-default port survives
    assert(canon("https://example.com:8443/x") == "https://example.com:8443/x")
    // www is stripped only as a label prefix, not inside the host
    assert(canon("https://wwwx.example.com/") == "https://wwwx.example.com/")
  }

  test("path normalization: trailing slashes collapse, empty path becomes /") {
    assert(canon("https://example.com") == "https://example.com/")
    assert(canon("https://example.com/") == "https://example.com/")
    assert(canon("https://example.com/a/b/") == "https://example.com/a/b")
    assert(canon("https://example.com/a/b///") == "https://example.com/a/b")
  }

  test("tracking params drop, survivors sort, emptied query drops its ?") {
    assert(canon("https://e.com/p?utm_source=x&b=2&a=1") == "https://e.com/p?a=1&b=2")
    assert(canon("https://e.com/p?b=2&a=1&gclid=123&fbclid=9") == "https://e.com/p?a=1&b=2")
    // ref matches as a whole key, not as a prefix of refresh
    assert(canon("https://e.com/p?ref=feed") == "https://e.com/p")
    assert(canon("https://e.com/p?refresh=1") == "https://e.com/p?refresh=1")
    // valueless tracking key
    assert(canon("https://e.com/p?utm_medium") == "https://e.com/p")
    assert(canon("https://e.com/p?utm_source=a&utm_campaign=b") == "https://e.com/p")
  }

  test("fragment always drops; query kept when params survive") {
    assert(canon("https://e.com/p?a=1#sec") == "https://e.com/p?a=1")
    assert(canon("https://e.com/p#sec") == "https://e.com/p")
  }

  test("userinfo strips from the authority; host and port still parse") {
    assert(canon("https://user@example.com/x") == "https://example.com/x")
    assert(canon("https://user:pw@WWW.Example.COM:443/x") == "https://example.com/x")
    assert(canon("https://user:pw@example.com:8443/x") == "https://example.com:8443/x")
    // an @ AFTER the authority (in path or query) is not userinfo
    assert(canon("https://e.com/p?mail=a@b.com") == "https://e.com/p?mail=a@b.com")
  }

  test("canonicalization is idempotent") {
    val urls = Seq(
      "HTTPS://WWW.E.com:443/a/b/?utm_source=x&z=1&a=2#top",
      "http://e.com:8080/?gclid=1",
      "https://e.com")
    urls.foreach { u => assert(canon(canon(u)) == canon(u), u) }
  }

  test("planted tracking-param duplicates collapse to one canonical survivor") {
    val s = spark; import s.implicits._
    val planted = Seq(
      (-1L, "https://www.Example.ORG:443/a/b/?utm_source=x&z=1&a=2#top"),
      (-2L, "HTTPS://example.org/a/b?a=2&z=1"),
      (-3L, "http://example.org:80/a/b?a=2&z=1"), // scheme differs: own row
      (-4L, "https://example.org/a/b?a=2&z=1&gclid=abc"))
      .toDF("doc_id", "url")
    val census = Urls.canonicalDedup(planted, "url", "doc_id").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(census("https://example.org/a/b?a=2&z=1") == ((3L, -4L)))
    assert(census("http://example.org/a/b?a=2&z=1") == ((1L, -3L)))
    assert(census.size == 2)
  }

  test("hasTrackingParams flags any tracking key anywhere in the query") {
    val s = spark; import s.implicits._
    val rows = Seq(
      ("https://e.com/p?a=1&utm_source=x", true),
      ("https://e.com/p?a=1", false),
      ("https://e.com/p?gclid", true),
      ("https://e.com/p", false))
    rows.foreach { case (u, want) =>
      val got = Seq(Tuple1(u)).toDF("url")
        .select(Urls.hasTrackingParams(col("url"))).head.getBoolean(0)
      assert(got == want, u)
    }
  }

  test("q285: incremental census merge equals the batch rebuild") {
    val s = spark
    val sf = "/root/testdata/sf0.001"
    val merged = graft.queries.WebQueries.q285UrlCensusMerge(s, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    // q281 IS the full rebuild over the same synthetic crawl, plus its
    // own example.org plants — drop those and the two must be identical
    val rebuilt = graft.queries.WebQueries.q281UrlCanonical(s, sf)
      .filter(!col("canonical_url").contains("example.org"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    assert(merged.nonEmpty)
    assert(merged.toSeq == rebuilt.toSeq,
      "incremental merge must equal the batch rebuild row for row")
  }

  test("q286: planted novel pages rank by depth; the seen variant is dropped") {
    val rows = graft.queries.WebQueries.q286CrawlFrontier(spark, "/root/testdata/sf0.001")
      .collect()
    val urls = rows.map(_.getAs[String]("canonical_url")).toSet
    assert(urls.contains("https://src0.example.com/fresh/a"))
    assert(urls.contains("https://src0.example.com/fresh/a/b/c"))
    assert(urls.contains("https://src1.example.com/fresh"))
    // -4 is a raw variant of seen docs/0 and must NOT surface
    assert(!urls.exists(_.contains("/docs/0")))
    // within src0, the shallower page wins rank 1
    val src0 = rows.filter(_.getAs[String]("host") == "src0.example.com")
      .sortBy(_.getAs[Int]("rank"))
    assert(src0.head.getAs[String]("canonical_url").endsWith("/fresh/a"))
    assert(src0.head.getAs[Int]("path_depth") < src0.last.getAs[Int]("path_depth"))
    // -5's host has never been crawled: it must SURVIVE with the
    // neutral prior, not vanish into an inner join
    val newHost = rows.filter(_.getAs[String]("host") == "brand-new.example.net")
    assert(newHost.length == 1)
    assert(newHost.head.getAs[Double]("host_score") == 100.0)
  }

  test("host priors: dup ratio and tracking share over a planted host") {
    val s = spark; import s.implicits._
    val crawl = Seq(
      (1L, "https://h1.com/a?utm_source=x"),
      (2L, "https://WWW.h1.com/a"),
      (3L, "https://h1.com/b"),
      (4L, "https://h2.com/a"))
      .toDF("doc_id", "url")
    val pri = Urls.hostPriors(crawl, "url").collect()
      .map(r => r.getString(0) -> r).toMap
    val h1 = pri("h1.com")
    assert(h1.getAs[Long]("n_fetches") == 3L)
    assert(h1.getAs[Long]("n_canonical") == 2L) // /a collapses, /b distinct
    assert(h1.getAs[Double]("dup_ratio") == 1.5)
    assert(h1.getAs[Double]("tracking_pct") == 33.3333)
    assert(pri("h2.com").getAs[Long]("n_canonical") == 1L)
  }
}
