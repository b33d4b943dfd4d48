"""URL kernel tests — mirror the reference's table-driven cases
(/root/reference/pkg/commoncrawl/wat_test.go:215-223, 288-307, 478-520)."""

from __future__ import annotations

from pyspark.sql import functions as F

from globallinks_spark.functions import urltools as U
from globallinks_spark.functions.psl import etld_plus_one_py


def _one(spark, expr, url):
    return (
        spark.createDataFrame([(url,)], "u string")
        .select(expr(F.col("u")).alias("v"))
        .first()["v"]
    )


class TestSchemeCode:
    # setScheme cases (wat_test.go:288-307)
    def test_https(self, spark):
        assert _one(spark, lambda u: U.scheme_code(U.url_scheme(u)),
                    "https://example.com/") == "2"

    def test_http(self, spark):
        assert _one(spark, lambda u: U.scheme_code(U.url_scheme(u)),
                    "http://example.com/") == "1"

    def test_other(self, spark):
        assert _one(spark, lambda u: U.scheme_code(U.url_scheme(u)),
                    "ftp://example.com/") == "0"

    def test_scheme_relative(self, spark):
        assert _one(spark, lambda u: U.scheme_code(U.url_scheme(u)),
                    "//example.com/x") == "0"


class TestUrlParts:
    # buildURLRecord full-field cases (wat_test.go:478-520)
    def test_host_lowercased(self, spark):
        assert _one(spark, U.url_host, "https://WWW.Example.COM/A/b") == \
            "www.example.com"

    def test_default_path(self, spark):
        assert _one(spark, U.url_path, "https://example.com") == "/"

    def test_path_kept(self, spark):
        assert _one(spark, U.url_path, "https://example.com/a/b.html") == \
            "/a/b.html"

    def test_query(self, spark):
        assert _one(spark, U.url_raw_query, "https://e.com/x?a=1&b=2") == \
            "a=1&b=2"

    def test_query_absent(self, spark):
        assert _one(spark, U.url_raw_query, "https://e.com/x") == ""

    def test_tracking_query_blanked(self, spark):
        # ignoreQuery (wat_test.go:388-408): lang*, utm_*, ref* prefixes
        for q in ("utm_source=x", "lang=en", "ref=home"):
            assert _one(spark, U.url_raw_query, f"https://e.com/x?{q}") == ""

    def test_tracking_query_mid_kept(self, spark):
        assert _one(spark, U.url_raw_query, "https://e.com/x?a=1&utm_s=x") \
            == "a=1&utm_s=x"

    def test_scheme_relative_host(self, spark):
        assert _one(spark, U.url_host, "//cdn.example.com/lib.js") == \
            "cdn.example.com"


class TestEtld1:
    # EffectiveTLDPlusOne parity on the shapes the pipeline meets
    def test_plain(self):
        assert etld_plus_one_py("www.example.com") == "example.com"

    def test_bare(self):
        assert etld_plus_one_py("example.com") == "example.com"

    def test_multilevel_suffix(self):
        assert etld_plus_one_py("news.bbc.co.uk") == "bbc.co.uk"

    def test_private_suffix(self):
        assert etld_plus_one_py("myblog.blogspot.com") == "myblog.blogspot.com"

    def test_unknown_tld_fallback(self):
        assert etld_plus_one_py("host.example.zz") == "example.zz"

    def test_bare_suffix_is_none(self):
        assert etld_plus_one_py("co.uk") is None
        assert etld_plus_one_py("com") is None

    def test_wildcard_rule(self):
        assert etld_plus_one_py("a.b.mm") == "a.b.mm"  # *.mm

    def test_exception_rule(self):
        assert etld_plus_one_py("www.ck") == "www.ck"  # !www.ck under *.ck


class TestSubdomain:
    # genSubdomain (wat_test.go:215-223)
    def test_empty_when_equal(self, spark):
        df = spark.createDataFrame(
            [("example.com", "example.com")], "host string, domain string"
        )
        assert df.select(
            U.subdomain(F.col("host"), F.col("domain")).alias("s")
        ).first()["s"] == ""

    def test_sub(self, spark):
        df = spark.createDataFrame(
            [("a.b.example.com", "example.com")], "host string, domain string"
        )
        assert df.select(
            U.subdomain(F.col("host"), F.col("domain")).alias("s")
        ).first()["s"] == "a.b"


class TestReconstruct:
    """P10 lives in the Arrow query layer (operators/linkdb.py)."""

    @staticmethod
    def _url(sc, sub, dom, p, q):
        import pyarrow as pa

        from globallinks_spark.operators.linkdb import reconstruct_url

        return reconstruct_url(*(pa.array([v], pa.string())
                                 for v in (sc, sub, dom, p, q)))[0].as_py()

    def test_full(self):
        v = self._url("2", "www", "e.com", "/a", "x=1")
        assert v == "https://www.e.com/a?x=1"

    def test_lossy_zero_scheme(self):
        # reference decoder maps '0' → https (controller.go:239-244)
        v = self._url("0", "", "e.com", "/", "")
        assert v == "https://e.com/"


class TestWatFileNumber:
    # ExtractWatFileNumber (wat_test.go:261-286)
    def test_number(self, spark):
        v = _one(
            spark, U.wat_file_number,
            "crawl-data/CC-MAIN-2024-10/segments/123/wat/"
            "CC-MAIN-20240101-00042.warc.wat.gz",
        )
        assert v == "00042"
