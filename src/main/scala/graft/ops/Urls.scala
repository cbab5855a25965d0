package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization + URL-keyed deduplication — the first dedup pass of
  * every web-scale corpus pipeline (Common-Crawl-style curation dedups by
  * canonical URL before any content hashing: it's free, exact, and removes
  * the bulk of recrawl duplicates).
  *
  * Canonical form (the conservative, always-safe subset of RFC 3986 §6
  * normalization):
  *   - scheme and host lowercased
  *   - default ports stripped (`:80` for http, `:443` for https)
  *   - fragment dropped (`#...` — never reaches the server)
  *   - query parameters sorted byte-wise (param ORDER is almost always
  *     insignificant; sorting makes `?b=2&a=1` ≡ `?a=1&b=2`)
  *   - empty query's dangling `?` dropped, trailing slash on a bare
  *     authority kept as-is (path semantics are the server's business)
  *
  * Everything is a column-expression pipeline (regexp_extract / split /
  * array_sort / concat) — codegen'd, no UDF, map-only until the dedup's one
  * hash-aggregate on the canonical key.
  */
object Urls {

  /** All `http(s)://...` URLs in `textCol`, one row per match:
    * (…input cols…, url). */
  def extractUrls(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("url",
      explode(expr(s"regexp_extract_all($textCol, '(?i)https?://[^\\\\s]+', 0)")))

  /** The canonical form of a URL column (see object doc). Non-URL strings
    * pass through unchanged (every component regex just fails to match). */
  def canonicalUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    // authority = host[:port]; userinfo is rare and preserved verbatim ahead
    // of the host match failing — conservative
    val hostPort = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    val host = lower(regexp_extract(hostPort, "^([^:]*)", 1))
    val port = regexp_extract(hostPort, ":(\\d+)$", 1)
    val keepPort = port =!= "" &&
      !(scheme === "http" && port === "80") &&
      !(scheme === "https" && port === "443")
    // path: after authority, before ? or #
    val path = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    // anchored to the FIRST '?' of the pre-fragment prefix: the [^?#]* head
    // refuses to skip past a '?' (RFC 3986 allows '?' INSIDE a query, so a
    // greedy [^#]* head would anchor at the LAST one and drop 'a=1?' from
    // '?a=1?b=2'), while still never matching a '?' inside the fragment
    val query = regexp_extract(url, "^[^?#]*\\?([^#]*)", 1)
    val sortedQuery = when(query === "", lit(""))
      .otherwise(concat(lit("?"), array_join(array_sort(split(query, "&")), "&")))
    when(scheme === "", url) // not a URL: pass through
      .otherwise(concat(
        scheme, lit("://"), host,
        when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
        path, sortedQuery))
  }

  /** Dedup by canonical URL: one row per canonical key with its occurrence
    * count and the lexicographically-first raw form as the survivor
    * (deterministic, engine-neutral). */
  def dedupByUrl(urls: DataFrame, urlCol: String): DataFrame =
    urls
      .withColumn("canonical_url", canonicalUrl(col(urlCol)))
      .groupBy("canonical_url")
      .agg(count(lit(1)).as("n_raw"), min(col(urlCol)).as("first_raw"))

  /** `(href, anchor)` pairs from an HTML markup column, one row per
    * `<a href="...">text</a>` tag, input columns preserved. Both capture
    * groups come from the SAME pattern via two `regexp_extract_all` calls,
    * so the arrays align by construction and `zip_with` pairs them — the
    * `extract_patterns` idiom, fully codegen'd, no UDF.
    */
  def extractAnchors(df: DataFrame, htmlCol: String): DataFrame = {
    val pat = """'<a [^>]*href="([^"]*)"[^>]*>([^<]*)</a>'"""
    df.withColumn("pair", explode(expr(
      s"""zip_with(regexp_extract_all($htmlCol, $pat, 1),
         |  regexp_extract_all($htmlCol, $pat, 2),
         |  (h, a) -> struct(h AS href, a AS anchor))""".stripMargin)))
      .withColumn("href", col("pair.href"))
      .withColumn("anchor", col("pair.anchor"))
      .drop("pair")
  }

  /** Anchor-text index: per link target, in-link count and the sorted
    * distinct anchor texts pointing at it — the web-graph signal search
    * and corpus-quality pipelines aggregate (anchors describe the TARGET
    * page better than its own boilerplate). Map-side extraction + one
    * hash-agg on the href; anchors are '|'-joined so the table stays flat.
    * At web scale, cap per-target list size before collect (df-bounded,
    * same caveat as the inverted index).
    */
  def anchorTextIndex(df: DataFrame, htmlCol: String): DataFrame =
    extractAnchors(df, htmlCol)
      .groupBy("href")
      .agg(count(lit(1)).as("n_links"),
        array_join(array_sort(array_distinct(collect_list(col("anchor")))), "|")
          .as("anchors"))

  /** Lowercased host of a URL (port and userinfo excluded); "" for
    * non-URLs. Pure codegen'd expression.
    */
  def host(url: Column): Column =
    lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)", 1))

  /** Per-host corpus accounting — the table domain mixing, blocklisting,
    * and crawl-budget decisions read: URL count, distinct-URL count, and
    * (optionally) the sum of a per-row weight such as a token count, so
    * "how much training mass comes from host X" is one lookup. One
    * hash-agg on the host (hosts are the canonical example of a skewed
    * key — counts/sums partial-aggregate map-side, and the distinct
    * count rides Spark's two-phase partial_count(distinct ...) expand,
    * so no single reducer sees a whole mega-host's rows unaggregated).
    */
  def domainStats(df: DataFrame, urlCol: String,
                  weightCol: Option[String] = None): DataFrame = {
    val base = df.groupBy(host(col(urlCol)).as("host"))
    val aggs = Seq(count(lit(1)).as("n_urls"),
      countDistinct(col(urlCol)).as("n_distinct_urls")) ++
      weightCol.map(w => sum(col(w)).as("weight_sum"))
    base.agg(aggs.head, aggs.tail: _*)
  }

  // -------------------------------------------------- robots.txt (RFC 9309)

  /** Parse robots.txt bodies into flat per-agent rules: one row per
    * (host, agent, rule_type, path_pattern, ln). Group structure per RFC
    * 9309 §2.2.1 — consecutive `User-agent` lines share the rule block that
    * follows; comments are stripped; empty Disallow/Allow values are
    * dropped (an empty pattern matches nothing). Column expressions plus
    * two narrow windows over (host, line№) — robots tables are KBs per
    * host, control-plane scale next to the URL table they gate.
    *
    * (rules, agentGroups): non-empty rules flattened per agent, AND the
    * full (host, grp, agent) group table — the latter includes groups whose
    * only directive is the canonical empty `Disallow:` (allow-all), which
    * the rules table by definition cannot represent.
    */
  private def parsedRobots(robots: DataFrame, hostCol: String,
                           bodyCol: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val lines = robots.select(col(hostCol).as("host"),
        posexplode(split(col(bodyCol), "\n")).as(Seq("ln", "line")))
      .withColumn("line", trim(regexp_replace(col("line"), "#.*$", "")))
      .withColumn("field", lower(regexp_extract(col("line"), "^([A-Za-z-]+)\\s*:", 1)))
      .withColumn("value", trim(regexp_extract(col("line"), ":\\s*(.*)$", 1)))
      .filter(col("field").isin("user-agent", "allow", "disallow"))
    val w = Window.partitionBy("host").orderBy("ln")
    val grouped = lines
      .withColumn("is_ua", (col("field") === "user-agent").cast("int"))
      .withColumn("new_grp", (col("is_ua") === 1 &&
        coalesce(lag("is_ua", 1).over(w), lit(0)) === 0).cast("int"))
      .withColumn("grp", sum("new_grp").over(w))
    val agents = grouped.filter(col("field") === "user-agent")
      .select(col("host"), col("grp"), lower(col("value")).as("agent")).distinct()
    val rules = grouped
      .filter(col("field") =!= "user-agent" && col("value") =!= "")
      .select(col("host"), col("grp"), col("field").as("rule_type"),
        col("value").as("path_pattern"), col("ln"))
      .join(agents, Seq("host", "grp"))
      .select("host", "agent", "rule_type", "path_pattern", "ln")
    (rules, agents)
  }

  /** A robots path pattern as a SQL LIKE pattern: `%`/`_`/`\` escaped, `*`
    * → `%`, a terminal `$` anchors the end (a LIKE with no trailing `%` is
    * already end-anchored), otherwise the prefix match gets a trailing `%`.
    * Identical construction exists in the DuckDB oracle (both engines
    * default the LIKE escape to backslash — DuckDB via explicit ESCAPE).
    */
  private def robotsLikePattern(p: Column): Column = {
    val esc = replace(replace(replace(p, lit("\\"), lit("\\\\")),
      lit("%"), lit("\\%")), lit("_"), lit("\\_"))
    val starred = replace(esc, lit("*"), lit("%"))
    when(starred.endsWith("$"), starred.substr(lit(1), length(starred) - 1))
      .otherwise(concat(starred, lit("%")))
  }

  /** Per-URL crawl verdict for `agent` under RFC 9309 longest-match-wins:
    * (url, allowed) over the DISTINCT URLs of `urls`. The agent's own
    * group is used when the host defines one, else the `*` group; among
    * matching rules the longest original pattern decides and ties prefer
    * Allow; no matching rule — including hosts with no robots.txt at all —
    * means allowed. `*` wildcards and terminal `$` anchors supported.
    *
    * Scale shape: the rules table (KBs/host) is broadcast; the URL side
    * pays one distinct + one hash-agg on the url — no all-pairs, no
    * skew-prone shuffle (rules fan-out per URL is the host's rule count,
    * bounded and tiny).
    */
  def robotsVerdict(urls: DataFrame, urlCol: String, robots: DataFrame,
                    hostCol: String, bodyCol: String, agent: String): DataFrame = {
    val a = agent.toLowerCase
    val (allRules, agentGroups) = parsedRobots(robots, hostCol, bodyCol)
    val rules0 = allRules.filter(col("agent").isin(a, "*"))
    // group presence comes from the AGENT table, not surviving rules: a
    // host whose agent-specific group is the canonical empty `Disallow:`
    // (allow-all) has an exact group with zero rules — it must NOT fall
    // back to the `*` rules (the textbook allow-this-bot-block-others file)
    val hostHasExact = agentGroups.groupBy("host")
      .agg(max((col("agent") === a).cast("int")).as("has_exact"))
    val rules = rules0.join(hostHasExact, Seq("host"))
      .filter((col("agent") === a) === (col("has_exact") === 1))
      .select(col("host").as("rhost"), col("rule_type"),
        robotsLikePattern(col("path_pattern")).as("like_pat"),
        length(col("path_pattern")).as("pat_len"))
    val withPath = urls.select(col(urlCol).as("url")).distinct()
      .withColumn("uhost", host(col("url")))
      .withColumn("upath", {
        val p = regexp_extract(col("url"),
          "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1)
        when(p === "", lit("/")).otherwise(p)
      })
    withPath.join(broadcast(rules), col("uhost") === col("rhost"), "left")
      .withColumn("hit", col("like_pat").isNotNull &&
        expr("upath LIKE like_pat"))
      .groupBy("url")
      .agg(max(when(col("hit"), struct(col("pat_len").as("l"),
        (col("rule_type") === "allow").cast("int").as("a")))).as("win"))
      .select(col("url"),
        (col("win").isNull || col("win.a") === 1).as("allowed"))
  }

  // ----------------------------------------------------------- sitemap XML

  /** URLs from sitemap bodies (the sitemaps.org protocol): one row per
    * `<url>` / `<sitemap>` block — (…input cols…, loc, lastmod) with
    * lastmod "" when absent. Linear regex scan with (?s) blocks (crawled
    * sitemaps are rarely well-formed XML end-to-end — same zero-dep ethos
    * as the HTML scanner), map-only, no shuffle.
    */
  def sitemapUrls(df: DataFrame, xmlCol: String): DataFrame =
    df.withColumn("_block", explode(expr(
        s"regexp_extract_all($xmlCol, '(?s)<(?:url|sitemap)>(.*?)</(?:url|sitemap)>', 1)")))
      .withColumn("loc", trim(regexp_extract(col("_block"), "(?s)<loc>([^<]*)</loc>", 1)))
      .withColumn("lastmod",
        trim(regexp_extract(col("_block"), "(?s)<lastmod>([^<]*)</lastmod>", 1)))
      .filter(col("loc") =!= "").drop("_block")
}
