package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** URL canonicalization rules, case by case, plus idempotence and
  * the non-URL NULL contract.
  */
class UrlSpec extends SparkSuite {
  private def canon(url: String): Option[String] = {
    val s = spark
    import s.implicits._
    val r = Seq(url).toDF("u")
      .select(Urls.canonicalizeUrl(col("u"))).head()
    if (r.isNullAt(0)) None else Some(r.getString(0))
  }

  private def host(url: String): Option[String] = {
    val s = spark
    import s.implicits._
    val r = Seq(url).toDF("u")
      .select(Urls.urlHost(col("u"))).head()
    if (r.isNullAt(0)) None else Some(r.getString(0))
  }

  test("the full rule set on one messy URL") {
    assert(canon("HTTP://WWW.Example.COM:80/Path/?b=2&a=1#x") ==
      Some("http://example.com/Path?a=1&b=2"))
  }

  test("default ports drop only for their scheme") {
    assert(canon("https://Example.com:443/") ==
      Some("https://example.com/"))
    assert(canon("http://example.com:443/") ==
      Some("http://example.com:443/"))
    assert(canon("https://example.com:8080/a") ==
      Some("https://example.com:8080/a"))
    assert(canon("ftp://Host.com:80/a") ==
      Some("ftp://host.com:80/a"))
  }

  test("path normalization: empty → '/', one trailing slash off") {
    assert(canon("http://a.com") == Some("http://a.com/"))
    assert(canon("http://a.com/") == Some("http://a.com/"))
    assert(canon("http://a.com/x/") == Some("http://a.com/x"))
    assert(canon("http://a.com//") == Some("http://a.com/"))
  }

  test("query params sort; bare or empty query drops") {
    assert(canon("http://a.com/p?z=1&a=2&m=3") ==
      Some("http://a.com/p?a=2&m=3&z=1"))
    assert(canon("http://a.com/p?") == Some("http://a.com/p"))
    assert(canon("http://a.com/p?a=1") == Some("http://a.com/p?a=1"))
  }

  test("fragment always drops; www strips; scheme lowers") {
    assert(canon("HtTpS://WWW.A.com/x#frag") ==
      Some("https://a.com/x"))
    assert(host("HtTpS://WWW.A.com/x#frag") == Some("a.com"))
    // www only strips as a PREFIX label
    assert(host("http://wwwx.com/") == Some("wwwx.com"))
  }

  test("non-URLs canonicalize to NULL") {
    assert(canon("example.com/x") == None)
    assert(canon("not a url") == None)
    assert(host("no-scheme.com") == None)
  }

  test("repeated www labels and slash runs normalize fully") {
    // one-label / one-slash stripping would need a second pass —
    // the fixed-point law found both
    assert(host("http://www.www.X.com/") == Some("x.com"))
    assert(canon("http://WWW.www.a.com/x///") ==
      Some("http://a.com/x"))
  }

  test("canonicalization is idempotent (fixed point), " +
      "including generated messy inputs") {
    val fixed = Seq(
      "HTTP://WWW.Example.COM:80/Path/?b=2&a=1#x",
      "https://Example.com:443/", "http://a.com//",
      "ftp://Host.com:80/a", "http://a.com/p?z=1&a=2&m=3",
      "http://www.www.a.com/x///?b=1&&a#z")
    val rnd = new scala.util.Random(5)
    val schemes = Seq("http", "HTTPS", "FtP")
    val hosts = Seq("A.com", "www.B.org", "WWW.www.C.net", "d.io")
    val ports = Seq("", ":80", ":443", ":0080", ":9")
    val paths = Seq("", "/", "//", "/P/q", "/P/q/", "/x//")
    val queries = Seq("", "?", "?b=2&a=1", "?a&&b", "?z")
    val frags = Seq("", "#f", "#")
    val gen = (1 to 120).map { _ =>
      schemes(rnd.nextInt(3)) + "://" + hosts(rnd.nextInt(4)) +
        ports(rnd.nextInt(5)) + paths(rnd.nextInt(6)) +
        queries(rnd.nextInt(5)) + frags(rnd.nextInt(3))
    }
    (fixed ++ gen).foreach { u =>
      val once = canon(u).get
      assert(canon(once) == Some(once), s"not idempotent: $u -> " +
        s"$once -> ${canon(once)}")
    }
  }
}
