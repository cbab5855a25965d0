package graft

import graft.ops.Urls
import org.apache.spark.sql.functions._

class UrlsSpec extends SparkSpec {
  import spark.implicits._

  private def canon(urls: String*): Seq[String] =
    urls.toDF("url").select(Urls.canonicalUrl(col("url"))).collect()
      .map(_.getString(0)).toSeq

  test("canonicalUrl: scheme/host case, default ports, fragments, param order") {
    assert(canon("HTTP://Example.COM:80/p/1?b=2&a=1#frag") ==
      Seq("http://example.com/p/1?a=1&b=2"))
    assert(canon("https://EXAMPLE.com:443/x") == Seq("https://example.com/x"))
    // non-default port survives; path case is preserved
    assert(canon("https://cdn.example.com:8080/Asset/Big") ==
      Seq("https://cdn.example.com:8080/Asset/Big"))
    // no query -> no dangling '?'; fragment alone just drops
    assert(canon("http://a.b/p#top") == Seq("http://a.b/p"))
    // bare authority: path stays as-is (empty)
    assert(canon("http://A.B") == Seq("http://a.b"))
    // already-canonical input is a fixed point
    val c = "http://example.com/p/1?a=1&b=2"
    assert(canon(c) == Seq(c))
    // a '?' INSIDE the fragment is fragment content, not a query — the
    // whole fragment drops and nothing is resurrected as a query
    assert(canon("http://h/p#sec?x=1") == Seq("http://h/p"))
    // real query before the fragment still survives alongside a '?' inside it
    assert(canon("http://h/p?b=2&a=1#sec?x=1") == Seq("http://h/p?a=1&b=2"))
    // RFC 3986 allows '?' INSIDE the query: the query anchors at the FIRST
    // '?', so 'a=1?b=2' is ONE parameter value, not two ('a=1?' must not drop)
    assert(canon("http://h/p?a=1?b=2") == Seq("http://h/p?a=1?b=2"))
    assert(canon("http://h/p?c=3&a=1?b=2#f") == Seq("http://h/p?a=1?b=2&c=3"))
  }

  test("canonicalUrl: non-URL strings pass through unchanged") {
    assert(canon("not a url", "ftp:/missing-slashes", "") ==
      Seq("not a url", "ftp:/missing-slashes", ""))
  }

  test("dedupByUrl groups raw variants under one canonical key") {
    val raw = Seq(
      "HTTP://Example.COM:80/p?b=2&a=1#f",
      "http://example.com/p?a=1&b=2",
      "https://other.example/q"
    ).toDF("url")
    val out = Urls.dedupByUrl(raw, "url").orderBy("canonical_url").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(out == Seq(
      ("http://example.com/p?a=1&b=2", 2L, "HTTP://Example.COM:80/p?b=2&a=1#f"),
      ("https://other.example/q", 1L, "https://other.example/q")))
  }

  test("extractAnchors pairs href with its anchor text; index aggregates per target") {
    val pages = Seq(
      (1L, """<a href="/x">home</a> mid <a class="b" href="/y">to Y</a>"""),
      (2L, """<a href="/x">start</a><p>no link</p>"""),
      (3L, """nothing here""")
    ).toDF("id", "html")
    val pairs = Urls.extractAnchors(pages, "html")
      .select("id", "href", "anchor").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(pairs == Seq((1L, "/x", "home"), (1L, "/y", "to Y"), (2L, "/x", "start")))
    val idx = Urls.anchorTextIndex(pages, "html").orderBy("href").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(idx == Seq(("/x", 2L, "home|start"), ("/y", 1L, "to Y")))
  }

  test("robotsVerdict: longest-match-wins, agent groups, wildcards, anchors") {
    val robots = Seq(
      // Allow /p/12 (len 6... actually 5) outranks Disallow /p/1
      ("a.example.com", "User-agent: *\nDisallow: /p/1\nAllow: /p/12"),
      // agent-specific group beats the catch-all; empty Disallow = allow-all
      ("b.example.org", "User-agent: graftbot\nDisallow: /\n\nUser-agent: *\nDisallow:"),
      // * wildcard + terminal $ anchor
      ("cdn.example.net", "User-agent: *\nDisallow: /*/7$"),
      // no group for us or * → unrestricted
      ("static.example.io", "User-agent: otherbot\nDisallow: /"),
      // textbook allow-this-bot file: the agent's own group is the EMPTY
      // Disallow (allow-all) — it must shadow the blocking * group even
      // though it contributes zero rule rows
      ("open.example.dev", "User-agent: graftbot\nDisallow:\n\nUser-agent: *\nDisallow: /")
    ).toDF("host", "body")
    val urls = Seq(
      "https://a.example.com/p/15",  // Disallow /p/1 prefix → blocked
      "https://a.example.com/p/12",  // longer Allow wins → allowed
      "https://a.example.com/p/120", // Allow /p/12 still longest → allowed
      "https://a.example.com/q/1",   // no rule matches → allowed
      "https://b.example.org/x",     // exact-agent Disallow / → blocked
      "https://cdn.example.net/p/7", // /*/7$ → blocked
      "https://cdn.example.net/p/77",// $ anchor: not /7 at end → allowed
      "https://static.example.io/z", // otherbot-only rules → allowed
      "https://no-robots.example/y", // host absent from robots → allowed
      "https://open.example.dev/q"   // empty exact group shadows blocking *
    ).toDF("url")
    val out = Urls.robotsVerdict(urls, "url", robots, "host", "body", "GraftBot")
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(!out("https://a.example.com/p/15"))
    assert(out("https://a.example.com/p/12"))
    assert(out("https://a.example.com/p/120"))
    assert(out("https://a.example.com/q/1"))
    assert(!out("https://b.example.org/x"))
    assert(!out("https://cdn.example.net/p/7"))
    assert(out("https://cdn.example.net/p/77"))
    assert(out("https://static.example.io/z"))
    assert(out("https://no-robots.example/y"))
    assert(out("https://open.example.dev/q"))
  }

  test("sitemapUrls: url and sitemap blocks, lastmod optional, junk skipped") {
    val xml = """<?xml version="1.0"?><urlset>
      |<url><loc> https://e.com/a </loc><lastmod>2026-01-15</lastmod></url>
      |<url><loc>https://e.com/b</loc></url>
      |<url><priority>0.5</priority></url>
      |<sitemap><loc>https://e.com/maps/2.xml</loc></sitemap>
      |</urlset>""".stripMargin
    val out = Urls.sitemapUrls(Seq(xml).toDF("xml"), "xml")
      .select("loc", "lastmod").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out == Seq(("https://e.com/a", "2026-01-15"),
      ("https://e.com/b", ""), ("https://e.com/maps/2.xml", "")))
  }

  test("host extracts the lowercased host; domainStats aggregates counts and mass") {
    val urls = Seq(
      ("https://A.Example.COM:8443/x?q=1", 10L),
      ("https://a.example.com/y", 5L),
      ("https://a.example.com/y", 5L), // duplicate URL
      ("http://user:pw@b.example.org/z", 2L),
      ("not a url", 1L)
    ).toDF("url", "w")
    val hosts = urls.select(Urls.host(col("url"))).collect().map(_.getString(0)).toSeq
    assert(hosts == Seq("a.example.com", "a.example.com", "a.example.com",
      "b.example.org", ""))
    val stats = Urls.domainStats(urls, "url", Some("w")).orderBy("host").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(stats == Seq(("", 1L, 1L, 1L), ("a.example.com", 3L, 2L, 20L),
      ("b.example.org", 1L, 1L, 2L)))
  }
}
