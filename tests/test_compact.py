"""A5 compaction semantics + property tests (SURVEY §5 item d)."""

from __future__ import annotations

import datetime
import random

import pytest
from pyspark.sql import functions as F

from globallinks_spark.operators.compact import (
    compact_links,
    compact_segment,
)
from globallinks_spark.schemas import LINK_SCHEMA

D = datetime.date


def _row(
    domain="d.com", sub="", path="/p", query="", scheme="2",
    page_host="s.com", page_path="/a", page_query="", page_scheme="2",
    text="t", nofollow=0, noindex=0, date=D(2023, 2, 1), ip="1.1.1.1",
):
    return (domain, sub, path, query, scheme, page_host, page_path,
            page_query, page_scheme, text, nofollow, noindex, date, ip)


def _df(spark, rows):
    return spark.createDataFrame(rows, LINK_SCHEMA)


class TestCompactionMerge:
    def test_date_range_widen(self, spark):
        rows = [
            _row(date=D(2023, 2, 10)),
            _row(date=D(2023, 1, 5)),
            _row(date=D(2023, 3, 1)),
        ]
        out = compact_links(_df(spark, rows)).collect()
        assert len(out) == 1
        assert out[0].date_from == D(2023, 1, 5)
        assert out[0].date_to == D(2023, 3, 1)

    def test_dofollow_preference_discards_nofollow_dates(self, spark):
        # nofollow dup of a dofollow group contributes NOTHING
        # (main.go:578-580): its earlier date must not widen the range
        rows = [
            _row(nofollow=0, date=D(2023, 2, 1)),
            _row(nofollow=1, date=D(2022, 1, 1), ip="9.9.9.9"),
        ]
        out = compact_links(_df(spark, rows)).collect()
        assert len(out) == 1
        r = out[0]
        assert r.no_follow == 0
        assert r.date_from == D(2023, 2, 1)
        assert r.ip == "1.1.1.1"

    def test_all_nofollow_group_kept(self, spark):
        rows = [_row(nofollow=1), _row(nofollow=1, date=D(2023, 2, 2))]
        out = compact_links(_df(spark, rows)).collect()
        assert len(out) == 1
        assert out[0].no_follow == 1

    def test_ip_latest(self, spark):
        rows = [
            _row(date=D(2023, 1, 1), ip="1.1.1.1"),
            _row(date=D(2023, 5, 1), ip="5.5.5.5"),
            _row(date=D(2023, 3, 1), ip="3.3.3.3"),
        ]
        out = compact_links(_df(spark, rows)).collect()
        assert out[0].ip == "5.5.5.5"

    def test_shortest_page_representative(self, spark):
        rows = [
            _row(page_path="/long/path", page_query="a=1"),
            _row(page_path="/a", page_query="zzzz=1"),
            _row(page_path="/a", page_query="b=1"),
        ]
        out = compact_links(_df(spark, rows)).collect()
        r = out[0]
        assert r.page_path == "/a"
        assert r.page_query if False else r.page_raw_query == "b=1"

    def test_qty_counts_distinct_variants(self, spark):
        rows = [
            _row(page_path="/a", page_query=""),
            _row(page_path="/a", page_query=""),   # same variant
            _row(page_path="/b", page_query=""),
            _row(page_path="/a", page_query="x=1"),
        ]
        out = compact_links(_df(spark, rows).distinct()).collect()
        assert out[0].qty == 3

    def test_groups_not_merged_across_page_hosts(self, spark):
        rows = [_row(page_host="s1.com"), _row(page_host="s2.com")]
        out = compact_links(_df(spark, rows)).collect()
        assert len(out) == 2
        assert all(r.qty == 1 for r in out)


class TestCompactionProperties:
    """Merge invariants under shuffled input order (SURVEY §5 d)."""

    @pytest.fixture(scope="class")
    def corpus(self):
        rng = random.Random(7)
        rows = []
        for i in range(200):
            rows.append(_row(
                domain=f"d{rng.randrange(8)}.com",
                path=f"/p{rng.randrange(4)}",
                page_host=f"s{rng.randrange(3)}.com",
                page_path=f"/a{rng.randrange(5)}",
                page_query=rng.choice(["", "x=1", "yy=2"]),
                nofollow=rng.randrange(2),
                date=D(2023, 1 + rng.randrange(11), 1 + rng.randrange(27)),
                ip=f"10.0.0.{rng.randrange(9)}",
            ))
        return rows

    def test_zipfian_domain_skew_balanced(self, spark):
        """SURVEY §7.3's 100-TB risk: Zipfian link_domain (real crawl
        data — one hot domain can be a double-digit share of all links)
        must NOT concentrate compaction work on one task. The defense is
        structural: both aggregation phases hash-partition on the FULL
        composite key (5-part group key + variant columns), so a hot
        domain's rows still spread across its many (path, page_host,
        variant) combinations. This test pins that property via the
        deterministic proxy for task time — post-shuffle partition row
        counts: a plan change that repartitioned on link_domain alone
        would put ~60% of groups in one partition and fail the bound.
        """
        rng = random.Random(11)
        rows = []
        for j in range(20_000):
            # ~60% of rows on one hot domain, heavy tail after it
            u = rng.random()
            dom = ("hot.com" if u < 0.6
                   else f"d{int(1.0 / (1.0 - u)) % 500}.com")
            rows.append(_row(
                domain=dom,
                path=f"/p{j % 503}",
                page_host=f"s{j % 997}.com",
                page_path=f"/a{j % 13}",
                nofollow=j % 2,
                date=D(2023, 1 + j % 11, 1 + j % 27),
                ip=f"10.0.{j % 7}.{j % 9}",
            ))
        out = compact_segment(_df(spark, rows).repartition(16))
        counts = [
            r["count"]
            for r in out.withColumn("pid", F.spark_partition_id())
            .groupBy("pid").count().collect()
        ]
        # hot.com must really dominate the corpus for the test to mean
        # anything
        hot = out.filter(F.col("link_domain") == "hot.com").count()
        assert hot >= 0.5 * sum(counts)
        mean = sum(counts) / len(counts)
        assert max(counts) <= 3 * mean, (
            f"straggler partition: max={max(counts)} mean={mean:.0f} "
            f"over {len(counts)} partitions"
        )

    def test_order_invariance(self, spark, corpus):
        out1 = {
            tuple(r) for r in compact_segment(_df(spark, corpus)).collect()
        }
        shuffled = list(corpus)
        random.Random(99).shuffle(shuffled)
        out2 = {
            tuple(r) for r in compact_segment(_df(spark, shuffled)).collect()
        }
        assert out1 == out2

    def test_invariants(self, spark, corpus):
        for r in compact_segment(_df(spark, corpus)).collect():
            assert r.date_from <= r.date_to
            assert r.qty >= 1
            assert r.no_follow in (0, 1)

    def test_dofollow_dominates(self, spark, corpus):
        df = _df(spark, corpus)
        out = compact_segment(df)
        # any group containing a dofollow row must compact to no_follow=0
        has_dofollow = (
            df.filter(F.col("no_follow") == 0)
            .select("link_domain", "link_sub_domain", "link_path",
                    "link_raw_query", "page_host").distinct().collect()
        )
        keys_with_dofollow = {tuple(r) for r in has_dofollow}
        for r in out.collect():
            key = (r.link_domain, r.link_sub_domain, r.link_path,
                   r.link_raw_query, r.page_host)
            if key in keys_with_dofollow:
                assert r.no_follow == 0
