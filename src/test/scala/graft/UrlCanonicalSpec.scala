package graft

import graft.etl.CorpusPipeline

/** URL canonicalization + per-domain caps: the crawl-side exact-dedup
  * passes that precede content dedup. Pins each normalization rule on a
  * hand-built URL and the cap/tiebreak ordering on a tiny skewed domain. */
class UrlCanonicalSpec extends SparkTestBase {
  import spark.implicits._

  private def canon(urls: (Long, String)*): Map[Long, String] =
    CorpusPipeline.canonicalizeUrls(urls.toDF("doc_id", "raw_url"))
      .select("doc_id", "canon_url").as[(Long, String)].collect().toMap

  test("each canonicalization rule fires: case, www, fragment, utm, trailing slash") {
    val c = canon(
      1L -> "HTTPS://WWW.Src1-Example.COM/A/b3/?utm_source=feed&id=4#sec",
      2L -> "https://src2-example.org/A/b5?id=9&utm_campaign=x",
      3L -> "https://www.src3-example.net/A/b0/",
      4L -> "https://src4-example.dev/A/b1",
      // path case is significant and must survive untouched
      5L -> "http://WWW.Host-Example.com/CaseSensitive/Path")
    assert(c(1L) == "https://src1-example.com/A/b3?id=4")
    assert(c(2L) == "https://src2-example.org/A/b5?id=9")
    assert(c(3L) == "https://src3-example.net/A/b0")
    assert(c(4L) == "https://src4-example.dev/A/b1")
    assert(c(5L) == "http://host-example.com/CaseSensitive/Path")
  }

  test("utm-only query collapses to no query at all") {
    val c = canon(7L -> "https://a-b.com/x?utm_source=s", 8L -> "https://a-b.com/x")
    assert(c(7L) == c(8L))
    assert(c(8L) == "https://a-b.com/x")
  }

  test("utm strip is boundary-anchored: lookalike params survive, multi-utm runs don't") {
    val c = canon(
      // a param whose NAME merely ends in 'utm_' is not a tracking param
      // and must pass through untouched (the r11 ADVICE mangling case:
      // the unanchored regex turned ?myutm_x=1&b=2 into ?myb=2)
      10L -> "https://a-b.com/x?myutm_x=1&b=2",
      // two utm params, utm first and last
      11L -> "https://a-b.com/x?utm_source=s&id=1&utm_campaign=c",
      // consecutive non-first utm params
      12L -> "https://a-b.com/x?id=1&utm_a=1&utm_b=2",
      // consecutive utm params from position one, then a survivor
      13L -> "https://a-b.com/x?utm_a=1&utm_b=2&id=3",
      // all params are utm
      14L -> "https://a-b.com/x?utm_a=1&utm_b=2&utm_c=3")
    assert(c(10L) == "https://a-b.com/x?myutm_x=1&b=2")
    assert(c(11L) == "https://a-b.com/x?id=1")
    assert(c(12L) == "https://a-b.com/x?id=1")
    assert(c(13L) == "https://a-b.com/x?id=3")
    assert(c(14L) == "https://a-b.com/x")
  }

  test("domain cap keeps exactly `cap` docs per domain, n_chars DESC with doc_id tiebreak") {
    // one skewed domain (20 docs via one source, ids sharing parity so the
    // synthesized hosts collide) would need the full pipeline; instead pin
    // the window contract through domainCap's public (s, dir) form on a
    // staged corpus: 20 docs, one source, equal-length ties among the top
    val dir = Scratch.register(java.nio.file.Files.createTempDirectory("urlcap").toString)
    val docs = (0L until 20L).map { i =>
      // two length classes: ids 0-9 long (chars 100), ids 10-19 short (50)
      (i, "t", "en", "srcA", if (i < 10) 100L else 50L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = CorpusPipeline.domainCap(spark, dir, cap = 3)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // hosts split by doc_id % 4 over four TLDs: srca-example.{com,org,net,dev}
    assert(out.keySet == Set("srca-example.com", "srca-example.org",
      "srca-example.net", "srca-example.dev"))
    for ((dom, (_, nDocs, nKept, keptChars, minKept)) <- out) {
      assert(nDocs == 5L, s"$dom row count")
      assert(nKept == 3L, s"$dom cap")
      // .com/.org domains hold three long docs (ids 0,4,8 / 1,5,9) so the
      // cap keeps only longs; .net/.dev hold two longs and promote the
      // smallest short id — the doc_id tiebreak doing real work
      assert(keptChars == (if (dom.endsWith(".com") || dom.endsWith(".org")) 300L else 250L),
        s"$dom kept_chars=$keptChars")
      assert(minKept == (if (dom.endsWith(".com") || dom.endsWith(".org")) 100L else 50L))
    }
  }

  test("under-cap domains take the windowless path with identical aggregates") {
    // same staged corpus shape as above, but cap=10 > every domain's 5
    // docs: all four domains route through the no-sort branch and must
    // report everything kept
    val dir = Scratch.register(java.nio.file.Files.createTempDirectory("urlcapsmall").toString)
    val docs = (0L until 20L).map { i =>
      (i, "t", "en", "srcA", if (i < 10) 100L else 50L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = CorpusPipeline.domainCap(spark, dir, cap = 10)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(out.length == 4)
    for ((dom, nDocs, nKept, keptChars, minKept) <- out) {
      assert(nDocs == 5L && nKept == 5L, s"$dom must keep everything")
      assert(keptChars == (if (dom.endsWith(".com") || dom.endsWith(".org")) 400L else 350L))
      assert(minKept == 50L, s"$dom min")
    }
  }

  test("canonicalization is idempotent and output never carries stripped artifacts") {
    // 200 synthetic URLs sweeping every branch combination the generator
    // can produce, plus hand-built edge shapes
    val urls = (0L until 200L).map { i =>
      val scheme = if (i % 5 == 0) "HTTPS://" else if (i % 5 == 1) "http://" else "https://"
      val www = if (i % 3 == 0) "WWW." else if (i % 3 == 1) "www." else ""
      val q = (i % 4) match {
        case 0 => s"?utm_source=feed&id=${i % 11}"
        case 1 => s"?id=${i % 11}&utm_campaign=x"
        case 2 => s"?utm_medium=a"
        case _ => ""
      }
      (i, s"${scheme}${www}Host$i-Example.ORG/Path/${i % 7}" +
        (if (i % 2 == 0) "/" else "") + q + (if (i % 6 == 0) "#frag" else ""))
    } ++ Seq((900L, "https://bare-host.com"), (901L, "HTTP://WWW.X-Y.COM/#only-frag"))
    val once = CorpusPipeline.canonicalizeUrls(urls.toDF("doc_id", "raw_url"))
      .select("doc_id", "canon_url").as[(Long, String)].collect().toMap
    val twice = CorpusPipeline.canonicalizeUrls(
      once.toSeq.toDF("doc_id", "raw_url"))
      .select("doc_id", "canon_url").as[(Long, String)].collect().toMap
    for ((id, c) <- once) {
      assert(twice(id) == c, s"not idempotent for $id: $c -> ${twice(id)}")
      assert(!c.contains("#"), s"fragment survived: $c")
      assert(!c.contains("://www."), s"www survived: $c")
      assert(!c.contains("utm_"), s"utm param survived: $c")
      assert(!c.endsWith("/") || c.endsWith("://"), s"trailing slash survived: $c")
      assert(!c.endsWith("?"), s"dangling ? survived: $c")
      val host = c.split("://")(1).takeWhile(ch => ch != '/' && ch != '?')
      assert(host == host.toLowerCase, s"host not lowercased: $c")
      assert(c.takeWhile(_ != ':') == c.takeWhile(_ != ':').toLowerCase,
        s"scheme not lowercased: $c")
    }
  }

  test("urlCanonical keep flag marks exactly one doc per canonical URL") {
    val dir = Scratch.register(java.nio.file.Files.createTempDirectory("urlkeep").toString)
    // ids 0 and 9240 (lcm(2,3,4,5,6,7,11)=4620 -> same mods for all synth
    // branches) collapse to the same canonical URL under one source
    val docs = Seq(0L, 9240L, 13L).map(i => (i, "t", "en", "srcA", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = CorpusPipeline.urlCanonical(spark, dir)
      .as[(Long, String, String, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(rows(0L)._3 == rows(9240L)._3, "same-mod ids must collide canonically")
    assert(rows(0L)._4 && !rows(9240L)._4, "lowest doc_id wins")
    assert(rows(13L)._4)
    // id 13 (odd mods) must not join the 0/9240 canonical bucket
    assert(rows(13L)._3 != rows(0L)._3)
  }
}
