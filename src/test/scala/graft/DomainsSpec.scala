package graft

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers
import org.scalatest.wordspec.AnyWordSpec

import graft.pipeline.Domains

class DomainsSpec extends AnyWordSpec with Matchers with SparkSpec {

  "urlHost" should {
    "extract the lowercased host, stripping scheme, userinfo, port, path" in {
      val s = spark
      import s.implicits._
      val out = Seq(
        "https://Example.COM/path?q=1",
        "http://user:pw@site.org:8080/x",
        "ftp://files.net",
        "https://host.io#frag",
        "https://[2001:DB8::1]:8080/page",  // bracketed IPv6 literal
        "not a url",
        "/relative/only",
        null.asInstanceOf[String]
      ).toDF("url")
        .select(Domains.urlHost(col("url")).as("h"))
        .collect().map(r => Option(r.getString(0)))
      out shouldBe Seq(Some("example.com"), Some("site.org"),
        Some("files.net"), Some("host.io"), Some("[2001:db8::1]"),
        None, None, None)
    }
  }

  "domainStats" should {
    "aggregate docs, tokens, distincts, quality per domain" in {
      val s = spark
      import s.implicits._
      val df = Seq(
        ("a.com", "one two three"),
        ("a.com", "one two three"),          // exact dup
        ("a.com", null.asInstanceOf[String]),
        ("b.com", "four five"),
        (null.asInstanceOf[String], "dropped from stats")
      ).toDF("domain", "text")
      val out = Domains.domainStats(df, "domain", "text")
        .orderBy(col("domain")).collect()
      out.length shouldBe 2
      val a = out(0)
      a.getAs[String]("domain") shouldBe "a.com"
      a.getAs[Long]("n_docs") shouldBe 3L
      a.getAs[Long]("n_text_docs") shouldBe 2L
      a.getAs[Long]("n_tokens") shouldBe 6L
      a.getAs[Long]("n_distinct_texts") shouldBe 1L
      a.getAs[Double]("dup_rate") shouldBe 0.5 +- 1e-15
      out(1).getAs[Double]("dup_rate") shouldBe 0.0 +- 1e-15
    }
  }

  "blockedByPolicy + filterBlockedDomains" should {
    "block on either leg and keep null-domain rows through the filter" in {
      val s = spark
      import s.implicits._
      val df = Seq(
        (1L, "dupy.com", "same text here"),
        (2L, "dupy.com", "same text here"),
        (3L, "dupy.com", "same text here"),
        (4L, "ok.com", "the quick brown fox jumps over the lazy dog and it is fine"),
        (5L, "ok.com", "another perfectly reasonable document with the usual words in it"),
        (6L, null.asInstanceOf[String], "hostless row stays")
      ).toDF("doc_id", "domain", "text")
      val stats = Domains.domainStats(df, "domain", "text")
      val blocked = Domains.blockedByPolicy(stats,
        maxDupRate = 0.5, minMeanQuality = 0.0)
        .collect().map(_.getString(0))
      blocked shouldBe Array("dupy.com")
      val kept = Domains.filterBlockedDomains(df, "domain",
        Seq("dupy.com"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      kept shouldBe Set(4L, 5L, 6L)
      // a stray null blocklist entry must NOT delete hostless rows
      val keptWithNull = Domains.filterBlockedDomains(df, "domain",
        Seq("dupy.com", null))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      keptWithNull shouldBe Set(4L, 5L, 6L)
    }
  }

  "withCanonicalUrl" should {
    "normalize scheme, host, port, path, params and fragment" in {
      val s = spark
      import s.implicits._
      val cases = Seq(
        // the five q85 disguises of one page
        "https://www.s1.example.com/p/9" -> "https://s1.example.com/p/9",
        "HTTPS://s1.example.com:443/p/9/" -> "https://s1.example.com/p/9",
        "https://user:pw@s1.example.com/p/9?utm_source=x&fbclid=7" ->
          "https://s1.example.com/p/9",
        "https://s1.example.com/p/9?b=2&a=1#frag" ->
          "https://s1.example.com/p/9?a=1&b=2",
        "https://s1.example.com/p/9?a=1&utm_medium=y&b=2" ->
          "https://s1.example.com/p/9?a=1&b=2",
        // non-default port kept; http default port dropped; empty path
        "http://A.com:8080" -> "http://a.com:8080/",
        "http://a.com:80/x" -> "http://a.com/x",
        // IPv6 literal with port survives bracketed
        "https://[2001:DB8::1]:8443/x" -> "https://[2001:db8::1]:8443/x",
        // unparseable -> null
        "page moved" -> null,
        "/relative/only" -> null)
      val got = Domains.withCanonicalUrl(cases.map(_._1).toDF("url"), col("url"))
        .select("canonical_url").collect()
        .map(r => if (r.isNullAt(0)) null else r.getString(0))
      got.toSeq shouldBe cases.map(_._2)
    }
  }

  "dedupByCanonicalUrl" should {
    "keep one min-id survivor per canonical url and all null-key rows" in {
      val s = spark
      import s.implicits._
      val df = Seq(
        (1L, "https://www.a.com/x"),
        (2L, "https://a.com/x/"),
        (3L, "HTTPS://a.com:443/x?utm_source=z"),
        (4L, "https://b.com/y"),
        (5L, "nope"),
        (6L, "still nope"),
        // a whole-row duplicate with an unparseable URL, and a null URL:
        // each null-key row is its own group, so none collapses
        (6L, "still nope"),
        (7L, null.asInstanceOf[String]))
        .toDF("doc_id", "url")
      val dd = Domains.dedupByCanonicalUrl(df, "url", "doc_id")
      val rows = dd.select("doc_id", "canonical_url").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else r.getString(1))).toSeq
      rows.sortBy(_._1) shouldBe Seq(
        (1L, "https://a.com/x"),
        (4L, "https://b.com/y"),
        (5L, null), (6L, null), (6L, null), (7L, null))
    }

    "replace an input canonical_url column" in {
      val s = spark
      import s.implicits._
      val df = Seq((1L, "https://a.com/x", "x"), (2L, "https://a.com/x/", "y"))
        .toDF("doc_id", "url", "canonical_url")
      val out = Domains.dedupByCanonicalUrl(df, "url", "doc_id")
      out.columns.toSeq shouldBe Seq("doc_id", "url", "canonical_url")
      out.collect().map(r => (r.getLong(0), r.getString(2))).toSeq shouldBe
        Seq((1L, "https://a.com/x"))
    }
  }
}
