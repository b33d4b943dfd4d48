"""Golden end-to-end extraction test (SURVEY §5 item b, §7.2 minimum slice)."""

from __future__ import annotations

import datetime

import pytest

from globallinks_spark.operators import extract
from globallinks_spark.sources.wat import read_wat_pages
from tests.fixtures import WAT_RECORDS, _envelope, a, write_wat_file


@pytest.fixture(scope="module")
def links(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("wat") / "test-00000.warc.wat.gz"
    write_wat_file(str(p))
    pages = read_wat_pages(spark, str(p))
    return extract.extract_links(pages).collect()


def _by_key(rows):
    return {
        (r.link_domain, r.link_sub_domain, r.link_path, r.page_host): r
        for r in rows
    }


class TestGoldenExtraction:
    def test_row_count(self, links):
        # page1: target-one.org ×2 (bare + www; uppercase dup deduped),
        #        target-two.net (query blanked), nofollow-target.com
        # page2: target-one.org, target-two.net?x=1
        # page5: target-three.io (page-level nofollow)
        assert len(links) == 7

    def test_dedup_case_insensitive_host(self, links):
        # TARGET-ONE.org normalizes to target-one.org → A2 dedup
        one = [
            r for r in links
            if r.link_domain == "target-one.org" and r.link_sub_domain == ""
            and r.page_host == "alpha.example.com"
        ]
        assert len(one) == 1

    def test_filters_dropped(self, links):
        domains = {r.link_domain for r in links}
        assert "facebook.com" not in domains      # F11
        assert "spam.cn" not in domains           # F10
        assert "alpha.example.com" not in domains  # F5
        assert "beta.example.com" not in domains   # F6 (same eTLD+1)
        assert "i.example.com" not in domains      # F3 non-anchor
        assert not any(r.link_path.endswith(".jpg") for r in links)  # F12

    def test_noindex_and_canonical_pages_dropped(self, links):
        hosts = {r.page_host for r in links}
        assert "noindex.example.org" not in hosts  # F13
        assert "canon.example.org" not in hosts    # F14

    def test_field_values(self, links):
        k = _by_key(links)
        r = k[("target-one.org", "", "/article", "alpha.example.com")]
        assert r.link_scheme == "2"
        assert r.page_path == "/posts/1"
        assert r.page_raw_query == "id=7"
        assert r.page_scheme == "2"
        assert r.no_follow == 0
        assert r.no_index == 0
        assert r.date_imported == datetime.date(2023, 2, 4)
        assert r.ip == "10.0.0.1"

    def test_subdomain_split(self, links):
        r = _by_key(links)[("target-one.org", "www", "/article",
                            "alpha.example.com")]
        assert r.link_sub_domain == "www"

    def test_tracking_query_blanked(self, links):
        r = _by_key(links)[("target-two.net", "", "/a", "alpha.example.com")]
        assert r.link_raw_query == ""

    def test_kept_query(self, links):
        r = _by_key(links)[("target-two.net", "", "/a", "gamma.sample.net")]
        assert r.link_raw_query == "x=1"
        assert r.page_scheme == "1"  # http page

    def test_rel_nofollow(self, links):
        r = _by_key(links)[("nofollow-target.com", "", "/x",
                            "alpha.example.com")]
        assert r.no_follow == 1

    def test_page_level_nofollow_inherited(self, links):
        r = _by_key(links)[("target-three.io", "", "/x", "delta.sample.org")]
        assert r.no_follow == 1


class TestPageRows:
    @pytest.fixture(scope="class")
    def pages(self, spark, tmp_path_factory):
        p = tmp_path_factory.mktemp("wat2") / "test-00001.warc.wat.gz"
        write_wat_file(str(p))
        return extract.extract_pages(read_wat_pages(spark, str(p))).collect()

    def test_counters(self, pages):
        by_host = {r.host: r for r in pages}
        p1 = by_host["alpha.example.com"]
        # internal: /relative/path + same-host → 2
        assert p1.internal_links == 2
        # external: same-domain beta + facebook (blocked) + spam.cn
        # (quality) + emitted target-one ×2(+dup) + target-two + nofollow
        # (.jpg counts neither) → 8
        assert p1.external_links == 8

    def test_dropped_pages_absent(self, pages):
        hosts = {r.host for r in pages}
        assert "noindex.example.org" not in hosts
        assert "canon.example.org" not in hosts

    def test_page_without_emitted_links_not_written(
        self, spark, tmp_path_factory
    ):
        """Reference writes a page record only when the page emitted at
        least one external link (len(content.Links) > 0, wat.go:327);
        pages whose anchors are all internal/blocked/skipped are
        counted but never written."""
        import gzip
        import json

        from tests.fixtures import _envelope, a

        rec = _envelope(
            "https://onlyinternal.example.org/home",
            "2023-02-04T10:00:00Z", "10.0.0.9",
            [
                a("/relative/one"),                            # internal
                a("https://onlyinternal.example.org/two"),     # same host
                a("https://facebook.com/x"),                   # blocklisted
            ],
        )
        p = tmp_path_factory.mktemp("wat3") / "t-00002.warc.wat.gz"
        with gzip.open(str(p), "wt", encoding="utf-8") as f:
            f.write("WARC-Type: metadata\n")
            f.write(json.dumps(rec) + "\n")
        rows = extract.extract_pages(
            read_wat_pages(spark, str(p))
        ).collect()
        assert rows == []


class TestCorruptFiles:
    def test_truncated_gzip_skipped_not_fatal(self, spark, tmp_path):
        """A truncated .gz among good WAT files must not fail the import
        (reference: log + skip, main.go:257-263). Rows from the good
        files all survive; the corrupt file contributes what it can."""
        import gzip as _gzip
        import os

        from fixtures import write_wat_file
        from globallinks_spark.operators.extract import extract_links
        from globallinks_spark.sources.wat import read_wat_pages

        good = str(tmp_path / "good-00000.warc.wat.gz")
        write_wat_file(good)
        baseline = extract_links(read_wat_pages(spark, [good])).count()
        assert baseline > 0

        # truncate a valid gzip mid-stream: header survives, body dies
        blob = open(good, "rb").read()
        corrupt = str(tmp_path / "bad-00001.warc.wat.gz")
        with open(corrupt, "wb") as f:
            f.write(blob[: len(blob) // 2])

        total = extract_links(
            read_wat_pages(spark, [good, corrupt])
        ).count()
        assert total >= baseline  # good file fully processed, no crash


class TestMalformedWarcDate:
    def test_impossible_date_imports_as_null(self, spark, tmp_path):
        """An impossible WARC-Date (Feb 30) must not fail the segment
        under ANSI mode (the Spark 4 default): it imports like a missing
        date, as a NULL date_imported, and every other record's link
        rows come out unchanged."""
        from pyspark.sql import functions as F

        from globallinks_spark import runner

        def imported(name, records):
            wat = tmp_path / f"{name}-00000.warc.wat.gz"
            write_wat_file(str(wat), records)
            runner.run_import(spark, [str(wat)], str(tmp_path / name), "s1")
            return spark.read.parquet(
                str(tmp_path / name / "links" / "segment=s1"))

        bad = _envelope("https://bad-date.example.net/p",
                        "2024-02-30T00:00:00Z", "10.0.0.9",
                        [a("https://bad-date-target.org/x")])
        good = imported("good", WAT_RECORDS)
        mixed = imported("mixed", WAT_RECORDS + [bad])
        is_bad = F.col("link_domain") == "bad-date-target.org"
        assert sorted(map(tuple, mixed.filter(~is_bad).collect())) == \
            sorted(map(tuple, good.collect()))
        assert [r.date_imported for r in mixed.filter(is_bad).collect()] \
            == [None]
