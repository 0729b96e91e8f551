package graft.llm

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Rule-by-rule canonicalization checks on hand-written URLs, plus the
  * cap/dedup policies the oracles exercise only in aggregate. */
class UrlsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def canon(url: String): (String, String) = {
    val r = Urls.canonicalize(Seq((1L, url)).toDF("id", "url"), "url")
      .select("host", "canonical_url").collect().head
    (r.getString(0), r.getString(1))
  }

  test("scheme/host lowercased, path case preserved") {
    assert(canon("HTTP://Example.COM/KeepCase") === ("example.com", "http://example.com/KeepCase"))
  }

  test("www prefix and trailing host dot stripped") {
    assert(canon("https://WWW.Site.org./a") === ("site.org", "https://site.org/a"))
  }

  test("default ports stripped, explicit ports kept") {
    assert(canon("http://a.com:80/x")._2 === "http://a.com/x")
    assert(canon("https://a.com:443/x")._2 === "https://a.com/x")
    assert(canon("http://a.com:8080/x")._2 === "http://a.com:8080/x")
    // the OTHER scheme's default is a real port
    assert(canon("http://a.com:443/x")._2 === "http://a.com:443/x")
  }

  test("fragment dropped, tracking params removed, survivor order kept") {
    assert(canon("https://a.com/p?utm_source=x&b=2&ref=r&a=1#frag")._2 ===
      "https://a.com/p?b=2&a=1")
    // all-tracking query loses its '?'
    assert(canon("https://a.com/p?utm_campaign=c&gclid=g")._2 === "https://a.com/p")
  }

  test("unparseable input passes through with a null host") {
    val r = Urls.canonicalize(Seq((1L, "not a url")).toDF("id", "url"), "url")
      .select("host", "canonical_url").collect().head
    assert(r.isNullAt(0) && r.getString(1) === "not a url")
  }

  test("dedupByUrl keeps the smallest id per canonical form") {
    val df = Seq(
      (5L, "http://A.com/x?utm_source=s"), (2L, "HTTP://a.com:80/x"),
      (9L, "https://b.com/y")).toDF("id", "url")
    val kept = Urls.dedupByUrl(df, "id", "url").select("id").as[Long].collect().toSet
    assert(kept === Set(2L, 9L))
  }

  test("hostCap keeps maxPerHost smallest ids, passes null hosts through") {
    val rows = (1L to 10L).map(i => (i, s"http://big.com/$i")) ++
      Seq((20L, "http://small.com/z"), (21L, "junk-no-scheme"))
    val out = Urls.hostCap(rows.toDF("id", "url"), "id", "url", maxPerHost = 3)
      .select("id").as[Long].collect().toSet
    assert(out === Set(1L, 2L, 3L, 20L, 21L))
  }

  test("dedupByUrl and hostCap equal their rank-window references row for row") {
    // ids in shuffled order, repeated canonical forms, one over-cap
    // host, under-cap hosts and unparseable urls
    val df = (0L until 400L).map { i =>
      val id = (i * 7919L) % 400L
      val url = (id % 5) match {
        case 0 => s"http://big.com/p${id % 40}?utm_source=s$id"
        case 1 => s"HTTP://WWW.Big.com:80/p${id % 40}"
        case 2 => s"https://h${id % 13}.example.org/q${id % 3}"
        case 3 => s"https://h${id % 13}.example.org/q${id % 3}#frag$id"
        case _ => s"junk-$id"
      }
      (id, url)
    }.toDF("id", "url")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).toSet
    val dedup = Urls.dedupByUrl(df, "id", "url")
    val dedupRef = UrlsReference.dedupByUrlWindow(df, "id", "url")
    assert(dedup.columns.toSeq === dedupRef.columns.toSeq)
    assert(rows(dedup) === rows(dedupRef))
    for (cap <- Seq(1, 5, 50)) {
      val capped = Urls.hostCap(df, "id", "url", maxPerHost = cap)
      val cappedRef = UrlsReference.hostCapWindow(df, "id", "url", maxPerHost = cap)
      assert(capped.columns.toSeq === cappedRef.columns.toSeq)
      assert(rows(capped) === rows(cappedRef), s"maxPerHost=$cap")
    }
  }

  test("hostStats reports counts, capped keeps, and rounded shares") {
    val rows = (1L to 8L).map(i => (i, "http://big.com/" + i)) ++
      Seq((30L, "https://small.com/a"), (31L, "junk"))
    val m = Urls.hostStats(rows.toDF("id", "url"), "id", "url", maxPerHost = 5)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(m("big.com") === ((8L, 5L, math.rint(8.0 / 9.0 * 1e6) / 1e6)))
    assert(m("small.com") === ((1L, 1L, math.rint(1.0 / 9.0 * 1e6) / 1e6)))
    assert(!m.contains(null))
  }
}
