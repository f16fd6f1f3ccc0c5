package graft.ops.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class WebSpec extends SparkSpec {

  private def canon(urls: String*): Seq[String] = {
    val spark2 = spark
    import spark2.implicits._
    urls.toDF("url").select(Web.canonicalUrl(col("url"))).as[String].collect().toSeq
  }

  test("canonicalUrl collapses scheme/www/query/fragment/trailing-slash variants") {
    assert(canon(
      "HTTPS://WWW.Example.COM/Wiki/Page?utm_source=x#sec",
      "http://example.com/Wiki/Page/",
      "https://example.com/Wiki/Page"
    ).distinct === Seq("example.com/Wiki/Page"))
  }

  test("canonicalUrl keeps path case, ports, and bare hosts") {
    assert(canon("http://Example.com") === Seq("example.com"))
    assert(canon("https://Example.com:8080/A/b") === Seq("example.com:8080/A/b"))
    // only ONE trailing slash and ONE www. prefix are stripped
    assert(canon("http://www.www.example.com/a//") === Seq("www.example.com/a/"))
    // root path: "/" strips to the bare host, same as no path
    assert(canon("http://example.com/") === Seq("example.com"))
  }

  test("extractUrls finds every URL in document order, stopping at whitespace") {
    val spark2 = spark
    import spark2.implicits._
    val out = Seq("see http://a.com/x and HTTPS://B.org, plus ftp://no")
      .toDF("text").select(Web.extractUrls(col("text"))).as[Seq[String]].head()
    // ",", like any non-whitespace, is legal URL-path material — the
    // matcher is crawl-grade; here B.org has no path so the host regex
    // stops at the comma. ftp is not matched.
    assert(out === Seq("http://a.com/x", "HTTPS://B.org"))
  }

  test("registeredDomain takes the last two host labels") {
    val spark2 = spark
    import spark2.implicits._
    val out = Seq("sub.host.example.com/path", "example.org", "localhost")
      .toDF("c").select(Web.registeredDomain(col("c"))).as[String].collect()
    assert(out(0) === "example.com")
    assert(out(1) === "example.org")
    assert(out(2) === "") // single label: no registered domain
  }

  test("urlInventory aggregates refs, collapsed forms, docs, and first citer") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "x http://example.com/A?q=1 y https://WWW.example.com/A"),
      (2L, "z http://example.com/A"),
      (3L, "w http://other.net/B http://other.net/B")
    ).toDF("doc_id", "text")
    val out = Web.urlInventory(docs, col("text"), "doc_id")
      .select(col("canonical"), col("domain"), col("n_refs"), col("n_forms"),
        col("n_docs"), col("first_doc"))
      .as[(String, String, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out === Array(
      // three spellings (query, www+scheme, plain) -> one canonical key
      ("example.com/A", "example.com", 3L, 3L, 2L, 1L),
      // same raw spelling twice in one doc: 2 refs, 1 form, 1 doc
      ("other.net/B", "other.net", 2L, 1L, 1L, 3L)))
  }

  test("registeredDomain with a public-suffix list takes three labels under a suffix") {
    val spark2 = spark
    import spark2.implicits._
    val psl = Seq("co.uk", "com.au")
    val out = Seq(
      "www.shop.co.uk/item",  // co.uk is a suffix -> shop.co.uk
      "a.b.example.com/x",    // com is not listed -> example.com
      "co.uk",                // bare suffix: no third label to take
      "news.com.au/story"     // exactly three labels, suffixed
    ).toDF("c").select(Web.registeredDomain(col("c"), psl)).as[String].collect()
    assert(out === Array("shop.co.uk", "example.com", "co.uk", "news.com.au"))
  }

  test("registeredDomain takes four labels under a 3-label suffix (pref.aichi.jp)") {
    val spark2 = spark
    import spark2.implicits._
    val psl = Seq("co.uk", "aichi.jp", "pref.aichi.jp")
    val out = Seq(
      "shop.pref.aichi.jp/x",    // 3-label suffix -> 4-label registered
      "a.shop.pref.aichi.jp/x",  // deeper host: still the last four
      "city.aichi.jp/x",         // only the 2-label suffix applies here
      "pref.aichi.jp",           // bare 3-label suffix: cascade falls back
      "example.com/x"            // unlisted: plain two labels
    ).toDF("c").select(Web.registeredDomain(col("c"), psl)).as[String].collect()
    assert(out === Array("shop.pref.aichi.jp", "shop.pref.aichi.jp",
      "city.aichi.jp", "pref.aichi.jp", "example.com"))
  }

  test("PSL snapshot loads from classpath and filesystem; rules structured by kind") {
    val bundled = Web.bundledPublicSuffixRules()
    assert(bundled.exact.contains("co.uk") && bundled.exact.contains("pref.aichi.jp"))
    assert(bundled.exact.contains("ck"))
    assert(bundled.wildcardBases === Set("ck"))
    assert(bundled.exceptions === Set("www.ck"))
    assert(!bundled.exact.exists(r => r.contains("*") || r.startsWith("!") || r.startsWith("//")))
    // the FS loader parses the same format from any Hadoop path
    val tmp = java.nio.file.Files.createTempFile("psl", ".dat")
    java.nio.file.Files.writeString(tmp,
      "// comment\n\nCOM\nco.uk\n*.ck\n!www.ck\npref.aichi.jp\n")
    try {
      val loaded = Web.loadPublicSuffixRules(spark, tmp.toString)
      assert(loaded === Web.PslRules(Set("com", "co.uk", "pref.aichi.jp"),
        Set("ck"), Set("www.ck"))) // lowercased, structured
    } finally java.nio.file.Files.delete(tmp)
  }

  test("registeredDomain full-rule cascade: wildcards and exceptions") {
    val spark2 = spark
    import spark2.implicits._
    val rules = Web.PslRules(
      exact = Set("com", "co.uk", "kawasaki.jp"),
      wildcardBases = Set("ck", "kawasaki.jp"),
      exceptions = Set("www.ck", "city.kawasaki.jp"))
    val out = Seq(
      "shop.free.ck/x",        // *.ck: free.ck is a suffix -> 3 labels
      "a.shop.free.ck/x",      // deeper host, same suffix -> last three
      "foo.www.ck/x",          // !www.ck: registers as www.ck itself
      "www.ck",                // the exception host itself
      "x.y.kawasaki.jp/x",     // *.kawasaki.jp -> y.kawasaki.jp suffix -> 4
      "a.city.kawasaki.jp/x",  // !city.kawasaki.jp beats the wildcard
      "example.com/x"          // plain exact 1-label suffix
    ).toDF("c").select(Web.registeredDomain(col("c"), rules)).as[String].collect()
    assert(out === Array("shop.free.ck", "shop.free.ck", "www.ck", "www.ck",
      "x.y.kawasaki.jp", "city.kawasaki.jp", "example.com"))
  }

  test("dedupByUrl keeps the lowest-id doc per canonical key") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (5L, "https://example.com/A?q=1", "a"),
      (2L, "HTTP://WWW.example.com/A", "b"), // same page, lower id -> wins
      (9L, "https://example.com/B", "c")
    ).toDF("doc_id", "url", "payload")
    val out = Web.dedupByUrl(docs, col("url"), "doc_id")
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(out === Array(
      (2L, "HTTP://WWW.example.com/A", "b"),
      (9L, "https://example.com/B", "c")))
    // the election partial-aggregates: min(doc_id) must plan as a
    // partial_min before its Exchange (the skew guard — a million
    // fetches of one URL collapse map-side)
    val plan = Web.dedupByUrl(docs, col("url"), "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_min"), plan)
  }

  test("blockDomains drops listed registered domains, map-side") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "https://spam.bad.com/x"), // registered domain bad.com
      (2L, "https://ok.net/y"),
      (3L, "http://www.bad.com/z")
    ).toDF("doc_id", "url")
    val kept = Web.blockDomains(docs, col("url"), Seq("bad.com"))
      .select(col("doc_id")).as[Long].collect().sorted
    assert(kept.toSeq === Seq(2L))
    val plan = Web.blockDomains(docs, col("url"), Seq("bad.com"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan) // pure filter, no shuffle
  }

  test("domainStats: ratio-of-sums alpha bp and the zero-chars guard") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      ("https://a.com/1", "abcde"),      // 5 alpha / 5 chars
      ("https://www.a.com/2", "ab cd!"), // 4 alpha / 6 chars
      ("https://b.org/1", "")            // empty text -> guard path
    ).toDF("url", "text")
    val out = Web.domainStats(docs, col("url"), col("text"))
      .as[(String, Long, Long, Long)].collect().sortBy(_._1)
    assert(out === Array(
      ("a.com", 2L, 11L, 9L * 10000 / 11L), // ratio of SUMS, not mean of ratios
      ("b.org", 1L, 0L, 0L)))
  }

  test("stripHtml drops script/style/comments, strips tags, decodes entities") {
    val spark2 = spark
    import spark2.implicits._
    val cases = Seq(
      (1L, "<p>hello <b>world</b></p>", "hello world"),
      (2L, "<script>var a = '<p>not text</p>';</script>after", "after"),
      (3L, "<STYLE type=\"x\">p { }</STYLE>body", "body"), // case-insensitive
      (4L, "a <!-- <b>gone</b> --> b", "a b"),
      (5L, "x &amp;&nbsp;&lt;tag&gt; &quot;q&quot; &#39;s&#39;", "x & <tag> \"q\" 's'"),
      (6L, "a&amp;lt;b", "a&lt;b"), // amp decoded LAST: no double-decode
      (7L, "  spaced\n\nout\ttext  ", "spaced out text"),
      (8L, "plain text stays", "plain text stays"))
    val out = cases.toDF("id", "html", "want")
      .select(col("id"), Web.stripHtml(col("html")).as("got"), col("want"))
      .as[(Long, String, String)].collect().sortBy(_._1)
    out.foreach { case (id, got, want) => assert(got === want, s"case $id") }
  }
}
