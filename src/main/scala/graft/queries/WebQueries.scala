package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Urls
import graft.sources.Tables

/** Web-crawl front-door queries (tranche G): URL canonicalization,
  * canonical-URL dedup, and host-level quality priors — the
  * CCNet/RefinedWeb stage that runs BEFORE content dedup (r10 verdict
  * item 3: the one missing LLM-pipeline family).
  *
  * The documents table has no URL column, so both engines derive the
  * SAME synthetic crawl URL from (doc_id, source) — the established
  * synthetic-attribute discipline (q270's md5 cost table): scheme/www/
  * host-case/port/trailing-slash/param-order/tracking/fragment noise
  * all keyed off doc_id residues, so the canonicalizer has real work
  * and the collapse factor is deterministic. Everything downstream of
  * the synthesis is the [[graft.operators.Urls]] operator itself.
  */
object WebQueries {

  /** Deterministic synthetic crawl URL — Spark side. Mirrors the
    * DuckDB expression in the oracles below, term for term. */
  private val synthUrl =
    """concat(
      |  CASE WHEN doc_id % 4 = 0 THEN 'HTTPS' ELSE 'https' END, '://',
      |  CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END,
      |  CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END,
      |  '.example.com',
      |  CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END,
      |  '/docs/', cast(doc_id % 50 AS string),
      |  CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END,
      |  CASE WHEN doc_id % 2 = 0
      |    THEN concat('?utm_source=feed&id=', cast(doc_id % 25 AS string), '&v=2')
      |    ELSE concat('?v=2&id=', cast(doc_id % 25 AS string)) END,
      |  CASE WHEN doc_id % 9 = 0 THEN concat('&gclid=', cast(doc_id AS string)) ELSE '' END,
      |  CASE WHEN doc_id % 8 = 0 THEN '#frag' ELSE '' END)""".stripMargin

  /** Canonical-URL dedup census: every fetch variant of a page —
    * tracking params, host case, default port, trailing slash, param
    * order, fragment — collapses to one canonical row with its fetch
    * count and min-id survivor. Planted: ids −1/−2/−4/−5 are four raw
    * variants of ONE canonical URL (www+case+port+slash+utm noise,
    * param order scrambled, a gclid, a `user:pw@` userinfo prefix) and
    * must collapse to n_fetches=4 survivor −5; −3 is the same page
    * over plain http and must stay
    * its own row (scheme is identity-bearing). Scale: canonicalization
    * is row-local; the census is ONE map-side-combinable groupBy on
    * the canonical string, output bounded by distinct canonical URLs. */
  def q281UrlCanonical(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val planted = Seq(
      (-1L, "https://www.Example.ORG:443/a/b/?utm_source=x&z=1&a=2#top"),
      (-2L, "HTTPS://example.org/a/b?a=2&z=1"),
      (-3L, "http://example.org:80/a/b?a=2&z=1"),
      (-4L, "https://example.org/a/b?a=2&z=1&gclid=abc"),
      (-5L, "https://user:pw@example.org:443/a/b?z=1&a=2"))
      .toDF("doc_id", "url")
    val crawl = Tables.documents(s, d)
      .select(col("doc_id"), expr(synthUrl).as("url"))
      .unionByName(planted)
    Urls.canonicalDedup(crawl, "url", "doc_id")
      .orderBy("canonical_url")
  }

  /** Host-level quality priors: per canonical host, fetch count,
    * distinct canonical URLs, the fetch/canonical dup ratio, the share
    * of tracking-tagged fetches, and mean document length — the
    * signals a crawl pipeline gates hosts on before reading content.
    * Scale: one groupBy(host) with a distinct-count over (host,
    * canonical) pairs — host cardinality is web-scale-small (~1e8)
    * next to page count, and the distinct partial-aggregates
    * map-side. */
  def q282HostPriors(s: SparkSession, d: String): DataFrame = {
    val crawl = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), expr(synthUrl).as("url"))
    Urls.hostPriors(crawl, "url",
        extraAggs = Seq(round(avg(col("n_chars")), 4).as("avg_chars")))
      .orderBy("host")
  }

  /** Incremental canonical-URL census merge — the q140 additive-merge
    * discipline applied to the crawl front door: the persisted census
    * (everything but the "new crawl day", doc_id % 7 = 3) absorbs the
    * day's batch with untouched canonical keys passing through a
    * left-anti untouched; only touched keys re-merge partials
    * (sum fetch counts, min survivor — both mergeable). The ORACLE is
    * the full-corpus REBUILD, so the hash match IS the incremental ≡
    * batch proof (the q129/q140 shape). At 100 TB history is never
    * re-aggregated: the merge costs one anti/semi join of the census
    * against the batch's canonical keys plus a batch-sized
    * re-aggregate. The touched-key side carries NO broadcast hint —
    * a real crawl day is ~10⁸ canonical keys (census-scale), past any
    * safe broadcast; AQE sizes the join at runtime (small batch →
    * runtime broadcast, census-scale batch → shuffle), the q286
    * idiom, with q84's Bloom gate as the next tier if even the
    * shuffled anti-join dominates. */
  def q285UrlCensusMerge(s: SparkSession, d: String): DataFrame = {
    val crawl = Tables.documents(s, d)
      .select(col("doc_id"), expr(synthUrl).as("url"))
    val isBatch = col("doc_id") % 7 === 3
    val base = Urls.canonicalDedup(crawl.filter(!isBatch), "url", "doc_id")
      .transform(graft.plans.Pin.eager) // the persisted-census stand-in
    val batch = Urls.canonicalDedup(crawl.filter(isBatch), "url", "doc_id")
    val touched = batch.select("canonical_url")
    val untouched = base.join(touched, Seq("canonical_url"), "left_anti")
    val merged = base.join(touched, Seq("canonical_url"), "left_semi")
      .unionByName(batch)
      .groupBy("canonical_url")
      .agg(sum("n_fetches").as("n_fetches"), min("survivor_id").as("survivor_id"))
    untouched.unionByName(merged).orderBy("canonical_url")
  }

  /** Crawl-frontier scoring — what a 100 TB crawler computes before
    * fetching: the day's candidate URLs (doc_id % 7 = 3), NOVEL only
    * (anti-join against the seen census; the Bloom-gated variant is
    * q84's discipline when the census outgrows a shuffle), ranked
    * within each host by path depth (shallow pages first — the
    * classic frontier heuristic) and gated by the host prior
    * (organic share / dup ratio from q282's signals). Top-3 per host
    * via a rank window (WindowGroupLimit-bounded). The anti join is
    * the only row-scale shuffle; priors are host-scale and the
    * candidate frame is batch-scale. */
  def q286CrawlFrontier(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // planted candidates: the synthetic batch's canonicals all exist in
    // the census (the generator cycles a bounded key space), so novelty
    // is planted — three genuinely-new pages across two hosts exercising
    // the depth ranking, plus −4, a raw VARIANT of a seen page (case/
    // slash/tracking noise over docs/0) that the anti join MUST drop
    val planted = Seq(
      (-1L, "https://src0.example.com/fresh/a"),
      (-2L, "https://src0.example.com/fresh/a/b/c?utm_source=x"),
      (-3L, "https://WWW.src1.example.com/fresh"),
      (-4L, "https://src0.example.com/docs/0/?utm_campaign=z&v=2&id=0#x"),
      // −5: a host the census has NEVER seen — exercises the
      // unseen-host neutral prior (a frontier that can only rank hosts
      // it already crawled can never discover a new one)
      (-5L, "https://brand-new.example.net/landing"))
      .toDF("doc_id", "url")
    val crawl = Tables.documents(s, d)
      .select(col("doc_id"), expr(synthUrl).as("url"))
      .unionByName(planted)
    val isBatch = col("doc_id") % 7 === 3 || col("doc_id") < 0
    val seen = Urls.canonicalDedup(crawl.filter(!isBatch), "url", "doc_id")
      .select("canonical_url")
    val priors = Urls.hostPriors(crawl.filter(!isBatch), "url")
      .withColumn("host_score",
        round((lit(100.0) - col("tracking_pct")) / col("dup_ratio"), 4))
      .select("host", "host_score")
    val candidates = crawl.filter(isBatch)
      .select(Urls.canonicalHost(col("url")).as("host"),
        Urls.canonicalize(col("url")).as("canonical_url"))
      .distinct()
      .join(seen, Seq("canonical_url"), "left_anti")
    val path = regexp_extract(col("canonical_url"),
      "^[a-z0-9+.-]+://[^/?]*([^?]*)", 1)
    candidates
      // LEFT join: a novel URL on a host absent from the census must
      // survive with a neutral prior (100.0 = zero tracking at
      // dup_ratio 1 — "no evidence against"), or the frontier could
      // never discover a new host. Host-scale: no hint, AQE sizes it.
      .join(priors, Seq("host"), "left")
      .withColumn("host_score", coalesce(col("host_score"), lit(100.0)))
      .withColumn("path_depth",
        size(filter(split(path, "/"), x => x =!= "")).cast("int"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("host")
          .orderBy(col("path_depth"), col("canonical_url"))))
      .filter(col("rank") <= 3)
      .select(col("host"), col("rank"), col("canonical_url"),
        col("path_depth"), col("host_score"))
      .orderBy("host", "rank")
  }

  /** The DuckDB canonicalizer: the same regex parts and list ops as
    * [[Urls.canonicalize]] (regexp_extract group-1 semantics and
    * empty-on-no-match agree across engines; params are ASCII so
    * list_sort and array_sort share one order). */
  private val duckSynthUrl =
    """concat(
      |      CASE WHEN doc_id % 4 = 0 THEN 'HTTPS' ELSE 'https' END, '://',
      |      CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END,
      |      CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END,
      |      '.example.com',
      |      CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END,
      |      '/docs/', cast(doc_id % 50 AS VARCHAR),
      |      CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END,
      |      CASE WHEN doc_id % 2 = 0
      |        THEN concat('?utm_source=feed&id=', cast(doc_id % 25 AS VARCHAR), '&v=2')
      |        ELSE concat('?v=2&id=', cast(doc_id % 25 AS VARCHAR)) END,
      |      CASE WHEN doc_id % 9 = 0 THEN concat('&gclid=', cast(doc_id AS VARCHAR)) ELSE '' END,
      |      CASE WHEN doc_id % 8 = 0 THEN '#frag' ELSE '' END)""".stripMargin

  private val duckCanonParts =
    """parts AS (
      |  SELECT doc_id, n_chars, url,
      |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |    regexp_replace(
      |      regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
      |      '^[^/@]*@', '') AS auth,
      |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
      |    regexp_extract(url, '\?([^#]*)', 1) AS query
      |  FROM u),
      |withp AS (
      |  SELECT *,
      |    regexp_extract(auth, ':([0-9]+)$', 1) AS port,
      |    regexp_replace(lower(regexp_extract(auth, '^([^:]*)', 1)), '^www\.', '')
      |      AS host,
      |    regexp_replace(rawpath, '/+$', '') AS tpath,
      |    list_sort(list_filter(string_split(query, '&'),
      |      x -> x <> '' AND NOT regexp_matches(x,
      |        '^(utm_[^=]*|gclid|fbclid|ref|sessionid|msclkid)(=|$)'))) AS params,
      |    len(list_filter(string_split(query, '&'),
      |      x -> regexp_matches(x,
      |        '^(utm_[^=]*|gclid|fbclid|ref|sessionid|msclkid)(=|$)'))) > 0
      |      AS has_tracking
      |  FROM parts),
      |c AS (
      |  SELECT doc_id, n_chars, host, has_tracking,
      |    concat(scheme, '://', host,
      |      CASE WHEN port = '' OR (scheme = 'https' AND port = '443')
      |        OR (scheme = 'http' AND port = '80')
      |        THEN '' ELSE concat(':', port) END,
      |      CASE WHEN tpath = '' THEN '/' ELSE tpath END,
      |      CASE WHEN len(params) > 0
      |        THEN concat('?', array_to_string(params, '&')) ELSE '' END)
      |      AS canonical_url
      |  FROM withp)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q281_url_canonical", q281UrlCanonical,
      s"""WITH u AS (
         |  SELECT doc_id, 0 AS n_chars, $duckSynthUrl AS url FROM documents
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |    (-1, 0, 'https://www.Example.ORG:443/a/b/?utm_source=x&z=1&a=2#top'),
         |    (-2, 0, 'HTTPS://example.org/a/b?a=2&z=1'),
         |    (-3, 0, 'http://example.org:80/a/b?a=2&z=1'),
         |    (-4, 0, 'https://example.org/a/b?a=2&z=1&gclid=abc'),
         |    (-5, 0, 'https://user:pw@example.org:443/a/b?z=1&a=2'))
         |    v(doc_id, n_chars, url)),
         |$duckCanonParts
         |SELECT canonical_url, count(*) AS n_fetches,
         |  min(doc_id) AS survivor_id
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),
    QuerySpec("q282_host_priors", q282HostPriors,
      s"""WITH u AS (
         |  SELECT doc_id, n_chars, $duckSynthUrl AS url FROM documents),
         |$duckCanonParts
         |SELECT host, count(*) AS n_fetches,
         |  count(DISTINCT canonical_url) AS n_canonical,
         |  round(count(*) / CAST(count(DISTINCT canonical_url) AS DOUBLE), 4)
         |    AS dup_ratio,
         |  round(100.0 * sum(CASE WHEN has_tracking THEN 1 ELSE 0 END)
         |    / count(*), 4) AS tracking_pct,
         |  round(avg(n_chars), 4) AS avg_chars
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),
    // the oracle is the FULL-corpus rebuild — the engine computes the
    // incremental merge, so the hash match proves incremental = batch
    QuerySpec("q285_url_census_merge", q285UrlCensusMerge,
      s"""WITH u AS (
         |  SELECT doc_id, 0 AS n_chars, $duckSynthUrl AS url FROM documents),
         |$duckCanonParts
         |SELECT canonical_url, count(*) AS n_fetches,
         |  min(doc_id) AS survivor_id
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),
    QuerySpec("q286_crawl_frontier", q286CrawlFrontier,
      s"""WITH u AS (
         |  SELECT doc_id, 0 AS n_chars, $duckSynthUrl AS url FROM documents
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |    (-1, 0, 'https://src0.example.com/fresh/a'),
         |    (-2, 0, 'https://src0.example.com/fresh/a/b/c?utm_source=x'),
         |    (-3, 0, 'https://WWW.src1.example.com/fresh'),
         |    (-4, 0, 'https://src0.example.com/docs/0/?utm_campaign=z&v=2&id=0#x'),
         |    (-5, 0, 'https://brand-new.example.net/landing'))
         |    v(doc_id, n_chars, url)),
         |$duckCanonParts,
         |base AS (SELECT * FROM c WHERE NOT (doc_id % 7 = 3) AND doc_id >= 0),
         |batch AS (SELECT * FROM c WHERE doc_id % 7 = 3 OR doc_id < 0),
         |seen AS (SELECT DISTINCT canonical_url FROM base),
         |pri AS (
         |  SELECT host,
         |    round((100.0 - round(100.0 * sum(CASE WHEN has_tracking THEN 1
         |        ELSE 0 END) / count(*), 4))
         |      / round(count(*) / CAST(count(DISTINCT canonical_url) AS DOUBLE),
         |        4), 4) AS host_score
         |  FROM base GROUP BY 1),
         |cand AS (
         |  SELECT DISTINCT b.host, b.canonical_url FROM batch b
         |  WHERE b.canonical_url NOT IN (SELECT canonical_url FROM seen)),
         |scored AS (
         |  SELECT cand.host, cand.canonical_url,
         |    coalesce(pri.host_score, 100.0) AS host_score,
         |    CAST(len(list_filter(string_split(
         |      regexp_extract(cand.canonical_url,
         |        '^[a-z0-9+.-]+://[^/?]*([^?]*)', 1), '/'),
         |      x -> x <> '')) AS INT) AS path_depth
         |  FROM cand LEFT JOIN pri USING (host))
         |SELECT host,
         |  CAST(row_number() OVER (PARTITION BY host
         |    ORDER BY path_depth, canonical_url) AS INT) AS rank,
         |  canonical_url, path_depth, host_score
         |FROM scored QUALIFY rank <= 3
         |ORDER BY host, rank""".stripMargin)
  )
}
