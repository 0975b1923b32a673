package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** URL/domain operators for web-corpus curation (round 8) — the
  * CCNet-style dimension the text family lacked: parse URLs, reduce hosts
  * to registrable domains under a (miniature) public-suffix rule, compute
  * per-domain corpus stats, and drop blocklisted domains with a broadcast
  * anti-join.
  *
  * The documents fixture carries no URL column, so a deterministic URL is
  * synthesized per document from (source, lang, doc_id) — the same move
  * [[graft.mm.Multimodal.syntheticMedia]] makes for binary payloads. Both
  * engines build the identical string, so every downstream PARSING step
  * (the actual operator surface) is oracle-exact: host extraction, the
  * public-suffix registrable-domain rule (last 2 labels, or 3 under
  * co.uk), subdomain stripping, and tracking-parameter extraction all run
  * as regex/string expressions inside whole-stage codegen.
  *
  * Scale: one scan, one hash aggregate on the domain key for stats; the
  * blocklist is a literal broadcast side — the anti-join never shuffles
  * the corpus. At 100 TB the blocklist join stays broadcast (real
  * blocklists are ≤ millions of rows) and the domain agg combines
  * map-side like any low-cardinality groupBy.
  */
object Web {
  /** Deterministic synthetic URL, mirrored verbatim in [[urlCteSql]]. */
  private def withUrl(docs: DataFrame): DataFrame =
    docs.withColumn("url", concat(
      lit("https://"),
      when(col("doc_id") % 7 === 0, lit("www."))
        .when(col("doc_id") % 5 === 0, lit("cdn.")).otherwise(lit("")),
      col("source"), lit("-"), col("lang"), lit("."),
      when(col("doc_id") % 3 === 0, lit("co.uk")).otherwise(lit("com")),
      lit("/p/"), col("doc_id").cast("string"),
      when(col("doc_id") % 4 === 0,
        concat(lit("?utm_source=feed&page="),
          (col("doc_id") % 10).cast("string"))).otherwise(lit(""))))

  private val urlCteSql =
    """u AS (
      |  SELECT doc_id, lang, source, n_chars,
      |    'https://' ||
      |    CASE WHEN doc_id % 7 = 0 THEN 'www.'
      |         WHEN doc_id % 5 = 0 THEN 'cdn.' ELSE '' END ||
      |    source || '-' || lang || '.' ||
      |    CASE WHEN doc_id % 3 = 0 THEN 'co.uk' ELSE 'com' END ||
      |    '/p/' || CAST(doc_id AS VARCHAR) ||
      |    CASE WHEN doc_id % 4 = 0
      |      THEN '?utm_source=feed&page=' || CAST(doc_id % 10 AS VARCHAR)
      |      ELSE '' END AS url
      |  FROM documents
      |)""".stripMargin

  /** Host from a URL: authority up to port/path/query/fragment. */
  def host(url: Column): Column =
    regexp_extract(url, "^https?://([^/:?#]+)", 1)

  /** Registrable domain under the miniature public-suffix rule: the last
    * two host labels, or three when the suffix is co.uk. */
  def registrableDomain(h: Column): Column = {
    val parts = split(h, "\\.")
    when(h.endsWith(".co.uk"),
      array_join(slice(parts, size(parts) - 2, lit(3)), "."))
      .otherwise(array_join(slice(parts, size(parts) - 1, lit(2)), "."))
  }

  /** Value of a query parameter (empty string when absent, both engines). */
  def queryParam(url: Column, name: String): Column =
    regexp_extract(url, s"[?&]$name=([^&]*)", 1)

  private def parsed(s: SparkSession, dir: String): DataFrame = {
    val u = withUrl(Tables.documents(s, dir))
    u.select(col("doc_id"), col("n_chars"),
      host(col("url")).as("host"),
      queryParam(col("url"), "utm_source").as("utm"))
      .withColumn("domain", registrableDomain(col("host")))
  }

  private val parsedCteSql =
    s"""$urlCteSql, p AS (
       |  SELECT doc_id, n_chars,
       |    regexp_extract(url, '^https?://([^/:?#]+)', 1) AS host,
       |    regexp_extract(url, '[?&]utm_source=([^&]*)', 1) AS utm
       |  FROM u
       |), d AS (
       |  SELECT doc_id, n_chars, host, utm,
       |    CASE WHEN host LIKE '%.co.uk' THEN
       |      string_split(host, '.')[-3] || '.' ||
       |      string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
       |    ELSE
       |      string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
       |    END AS domain
       |  FROM p
       |)""".stripMargin

  /** Per-domain corpus stats: docs, distinct hosts (www/cdn variants),
    * total chars, tracked-referral count. */
  private val domainStats: Q = (s, dir) =>
    parsed(s, dir)
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("host")).as("n_hosts"),
        sum(col("n_chars")).as("sum_chars"),
        sum(when(col("utm") =!= "", 1L).otherwise(0L)).as("n_tracked"))
      .orderBy("domain")

  private val domainStatsSql =
    s"""WITH $parsedCteSql
       |SELECT domain, COUNT(*) AS n_docs,
       |  COUNT(DISTINCT host) AS n_hosts,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(SUM(CASE WHEN utm <> '' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_tracked
       |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  /** The blocklisted registrable domains (a literal dimension — in
    * production a table of millions of rows, still broadcast-sized). */
  val Blocklist: Seq[String] = for {
    src <- Seq("src1", "src7")
    lang <- Seq("de", "en", "es", "fr", "zh")
    tld <- Seq("com", "co.uk")
  } yield s"$src-$lang.$tld"

  /** Surviving per-domain doc counts after the blocklist anti-join. The
    * corpus side never shuffles: the blocklist broadcasts and the
    * BroadcastHashJoin(LeftAnti) drops blocked rows at the scan. */
  private val blocklistFilter: Q = (s, dir) => {
    import s.implicits._
    val bl = Blocklist.toDF("domain")
    parsed(s, dir)
      .join(broadcast(bl), Seq("domain"), "left_anti")
      .groupBy("domain").agg(count(lit(1)).as("n_docs"))
      .orderBy("domain")
  }

  private val blocklistFilterSql = {
    val srcs = "['src1','src7']"
    val langs = "['de','en','es','fr','zh']"
    val tlds = "['com','co.uk']"
    s"""WITH $parsedCteSql, bl AS (
       |  SELECT s || '-' || l || '.' || t AS domain
       |  FROM (SELECT unnest($srcs) AS s),
       |       (SELECT unnest($langs) AS l),
       |       (SELECT unnest($tlds) AS t)
       |)
       |SELECT domain, COUNT(*) AS n_docs FROM d
       |WHERE domain NOT IN (SELECT domain FROM bl)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Per-domain curation outcomes — the CCNet-style per-domain quality
    * signal: join each document's registrable domain to its curation
    * verdict ([[Extensions.curationFrame]]) and aggregate keep/drop
    * counts plus the mean quality score per domain. The table a crawler
    * feeds back into its seed list (domains with low keep rates get
    * down-prioritized at the SOURCE, before fetch cost is paid). One
    * extra broadcast-sized join over the two existing chains; the mean
    * rounds to 6 dp off a decimal-exact sum so the float is identical in
    * both engines. */
  private val domainCuration: Q = (s, dir) =>
    parsed(s, dir).select("doc_id", "domain")
      .join(Extensions.curationFrame(s, dir), "doc_id")
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("verdict") === "keep", 1L).otherwise(0L)).as("n_keep"),
        round(sum(col("quality_score").cast("decimal(38,12)"))
          .cast("double") / count(lit(1)), 6).as("mean_quality"))
      .orderBy("domain")

  private val domainCurationSql =
    s"""WITH $parsedCteSql, ${Extensions.curationCtesSql}
       |SELECT d.domain, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN v.verdict = 'keep' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_keep,
       |  ROUND(CAST(CAST(SUM(CAST(v.quality_score AS DECIMAL(38,12)))
       | AS VARCHAR) AS DOUBLE) / COUNT(*), 6) AS mean_quality
       |FROM d JOIN verdicts v USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Canonical-URL dedup — the crawl-frontier collapse every web corpus
    * runs before fetch: the same resource arrives as host variants
    * (www./cdn. prefixes) and tracking-parameter variants (utm_*); the
    * canonical key is registrable domain + path + the SORTED non-tracking
    * query params, and grouping on it collapses all variants. The fixture
    * plants three variants per document (original, a www+utm_campaign
    * share link, a cdn+utm_source feed link) that the canonicalizer must
    * re-unite — `n_urls` is 3 for every group, `n_hosts` counts the
    * surviving host spellings. Pure string/array expressions inside
    * whole-stage codegen; one groupBy on the canonical key. */
  private val canonicalDedup: Q = (s, dir) => {
    val u = withUrl(Tables.documents(s, dir)).select(col("doc_id"), col("url"))
    val sep = when(col("url").contains("?"), lit("&")).otherwise(lit("?"))
    val hostless = regexp_extract(col("url"),
      "^https://(?:www\\.|cdn\\.)?(.*)$", 1)
    val variants = u.select(col("doc_id"), explode(array(
      col("url"),
      concat(lit("https://www."), hostless, sep, lit("utm_campaign=share")),
      concat(lit("https://cdn."), hostless, sep, lit("utm_source=feed"))))
      .as("vurl"))
    val h = host(col("vurl"))
    val path = regexp_extract(col("vurl"), "^https?://[^/?#]+([^?#]*)", 1)
    val qs = regexp_extract(col("vurl"), "\\?([^#]*)", 1)
    val keep = array_sort(filter(
      when(qs === "", array().cast("array<string>")).otherwise(split(qs, "&")),
      p => !p.startsWith("utm_")))
    val canon = concat(registrableDomain(h), path,
      when(array_join(keep, "&") === "", lit(""))
        .otherwise(concat(lit("?"), array_join(keep, "&"))))
    variants.select(col("doc_id"), col("vurl"), h.as("host"),
        canon.as("canonical"))
      .groupBy("canonical")
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("host")).as("n_hosts"))
      .orderBy("canonical")
  }

  private val canonicalDedupSql =
    s"""WITH $urlCteSql, vs AS (
       |  SELECT doc_id, unnest([
       |    url,
       |    'https://www.' || regexp_extract(url,
       |      '^https://(?:www\\.|cdn\\.)?(.*)$$', 1) ||
       |      CASE WHEN contains(url, '?') THEN '&' ELSE '?' END ||
       |      'utm_campaign=share',
       |    'https://cdn.' || regexp_extract(url,
       |      '^https://(?:www\\.|cdn\\.)?(.*)$$', 1) ||
       |      CASE WHEN contains(url, '?') THEN '&' ELSE '?' END ||
       |      'utm_source=feed']) AS vurl
       |  FROM u
       |), parts AS (
       |  SELECT doc_id, vurl,
       |    regexp_extract(vurl, '^https?://([^/:?#]+)', 1) AS host,
       |    regexp_extract(vurl, '^https?://[^/?#]+([^?#]*)', 1) AS path,
       |    regexp_extract(vurl, '\\?([^#]*)', 1) AS qs
       |  FROM vs
       |), canon AS (
       |  SELECT doc_id, vurl, host,
       |    (CASE WHEN host LIKE '%.co.uk' THEN
       |       string_split(host, '.')[-3] || '.' ||
       |       string_split(host, '.')[-2] || '.' ||
       |       string_split(host, '.')[-1]
       |     ELSE
       |       string_split(host, '.')[-2] || '.' ||
       |       string_split(host, '.')[-1]
       |     END) || path ||
       |    CASE WHEN kq = '' THEN '' ELSE '?' || kq END AS canonical
       |  FROM (
       |    SELECT doc_id, vurl, host, path,
       |      -- DuckDB array_to_string returns NULL (not '') on an empty
       |      -- list, which would NULL out the whole canonical concat
       |      COALESCE(array_to_string(list_sort(list_filter(
       |        CASE WHEN qs = '' THEN [] ELSE string_split(qs, '&') END,
       |        p -> NOT starts_with(p, 'utm_'))), '&'), '') AS kq
       |    FROM parts
       |  )
       |)
       |SELECT canonical, COUNT(*) AS n_urls,
       |  COUNT(DISTINCT host) AS n_hosts
       |FROM canon GROUP BY 1 ORDER BY 1""".stripMargin

  /** Longest-prefix-match rule table — the robots.txt / URL-policy
    * semantics flat blocklists can't express: a domain-level block can be
    * overridden by a deeper section-level allow (and vice versa), and the
    * DEEPEST matching rule wins, exactly like CIDR routing. Each doc's
    * policy key is domain/s<section>/p/<doc_id> (section = doc_id % 4, a
    * query-local deterministic path); its segment-prefix chain is bounded
    * (≤ 4 rows per doc, exploded inline — never a string-prefix LIKE
    * scan, which would false-hit "/s1" against "/s11"), the rule table
    * broadcasts, and the per-doc winner is one max_by keyed on doc_id.
    * Output attributes every doc to its winning rule ('(default)' when
    * nothing matches). */
  val PrefixRules: Seq[(String, String)] = Seq(
    "src1-en.com"            -> "block",
    "src1-en.com/s1"         -> "allow",  // section override of the block
    "src3-de.co.uk"          -> "block",
    "src3-de.co.uk/s2"       -> "allow",
    "src3-de.co.uk/s2/p"     -> "block",  // deepest rule re-blocks
    "src0-en.com/s0"         -> "block",
    "src2-es.com/s3/p"       -> "block",
    "src5-fr.co.uk"          -> "block",
    "src7-zh.com/s2"         -> "block",
    "src4-en.co.uk/s1/p"     -> "block")

  private val prefixPolicy: Q = (s, dir) => {
    import s.implicits._
    val rules = PrefixRules.toDF("rule", "action")
      .withColumn("depth", size(split(col("rule"), "/")))
    val d = withUrl(Tables.documents(s, dir))
      .select(col("doc_id"), registrableDomain(host(col("url"))).as("dom"),
        concat(lit("s"), (col("doc_id") % 4).cast("string")).as("sec"))
    val chain = d.select(col("doc_id"), posexplode(array(
      col("dom"),
      concat_ws("/", col("dom"), col("sec")),
      concat_ws("/", col("dom"), col("sec"), lit("p")),
      concat_ws("/", col("dom"), col("sec"), lit("p"),
        col("doc_id").cast("string")))))
      .select(col("doc_id"), col("col").as("prefix"))
    val best = chain.join(broadcast(rules),
        col("prefix") === col("rule"))
      .groupBy("doc_id")
      .agg(max_by(col("rule"), col("depth")).as("rule"),
        max_by(col("action"), col("depth")).as("action"))
    d.select(col("doc_id")).join(best, Seq("doc_id"), "left")
      .select(coalesce(col("rule"), lit("(default)")).as("rule"),
        coalesce(col("action"), lit("allow")).as("action"))
      .groupBy("rule", "action").agg(count(lit(1)).as("n_docs"))
      .orderBy("rule")
  }

  private val prefixPolicySql = {
    val vals = PrefixRules
      .map { case (r, a) => s"('$r', '$a')" }.mkString(", ")
    s"""WITH $urlCteSql, rules(rule, action) AS (VALUES $vals),
       |rd AS (SELECT rule, action, len(string_split(rule, '/')) AS depth
       |       FROM rules),
       |d2 AS (
       |  SELECT doc_id,
       |    (CASE WHEN host LIKE '%.co.uk' THEN
       |       string_split(host, '.')[-3] || '.' ||
       |       string_split(host, '.')[-2] || '.' ||
       |       string_split(host, '.')[-1]
       |     ELSE
       |       string_split(host, '.')[-2] || '.' ||
       |       string_split(host, '.')[-1]
       |     END) AS dom,
       |    's' || CAST(doc_id % 4 AS VARCHAR) AS sec
       |  FROM (SELECT doc_id,
       |          regexp_extract(url, '^https?://([^/:?#]+)', 1) AS host
       |        FROM u)
       |), chain AS (
       |  SELECT doc_id, unnest([
       |    dom, dom || '/' || sec, dom || '/' || sec || '/p',
       |    dom || '/' || sec || '/p/' || CAST(doc_id AS VARCHAR)])
       |    AS prefix
       |  FROM d2
       |), best AS (
       |  SELECT c.doc_id, arg_max(rd.rule, rd.depth) AS rule,
       |    arg_max(rd.action, rd.depth) AS action
       |  FROM chain c JOIN rd ON c.prefix = rd.rule
       |  GROUP BY 1
       |)
       |SELECT COALESCE(best.rule, '(default)') AS rule,
       |  COALESCE(best.action, 'allow') AS action,
       |  COUNT(*) AS n_docs
       |FROM d2 LEFT JOIN best ON best.doc_id = d2.doc_id
       |GROUP BY 1, 2 ORDER BY 1""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("text_domain_stats", domainStats, domainStatsSql),
    Entry("text_blocklist_filter", blocklistFilter, blocklistFilterSql),
    Entry("text_domain_curation", domainCuration, domainCurationSql),
    Entry("web_canonical_dedup", canonicalDedup, canonicalDedupSql),
    Entry("web_prefix_policy", prefixPolicy, prefixPolicySql),
  )
}
