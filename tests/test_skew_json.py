"""Salted-aggregation skew utilities + K5 JSON response rendering."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from globallinks_spark.operators.skew import (
    salted_agg,
    salted_distinct_count,
    with_salt,
)


class TestSaltedAgg:
    def test_salted_count_matches_plain(self, spark):
        df = spark.range(1000).select(
            (F.col("id") % 3).alias("k"), (F.col("id") % 17).alias("v")
        )
        got = {
            r.k: r.n
            for r in salted_agg(
                df, ["k"],
                [F.count("*").alias("c")],
                [F.sum("c").cast("bigint").alias("n")],
            ).collect()
        }
        want = {
            r.k: r.n
            for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()
        }
        assert got == want

    def test_salted_distinct_exact(self, spark):
        # hot key: 90% of rows share k=0
        df = spark.range(2000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(1).alias("k"),
            (F.col("id") % 97).alias("v"),
        )
        got = {
            r.k: r.distinct_v
            for r in salted_distinct_count(df, ["k"], "v").collect()
        }
        want = {
            r.k: r.n
            for r in df.groupBy("k")
            .agg(F.countDistinct("v").alias("n")).collect()
        }
        assert got == want

    def test_salt_fans_out_hot_key(self, spark):
        df = spark.range(500).select(F.lit("hot").alias("k"), "id")
        n_shards = (
            with_salt(df).select("k", "_salt").distinct().count()
        )
        assert n_shards > 4  # one key spreads over many salt shards


class TestJsonResponse:
    def test_render(self):
        import datetime

        from globallinks_spark.operators.linkdb import (
            LinkQuery,
            get_domain_links,
            to_json_response,
        )
        from tests.fixtures import serving_rows

        rows = [(
            "d.com", "", "/p", "", "2", "s.com", "/a", "", "2", "t", 0, 0,
            datetime.date(2023, 1, 1), datetime.date(2023, 2, 1),
            "1.1.1.1", 2,
        )]
        serving = serving_rows(rows)
        out = to_json_response(
            get_domain_links(serving, LinkQuery(domain="d.com"))
        )
        assert len(out) == 1
        doc = json.loads(out[0])
        # field names must match the reference's LinkOut JSON tags
        # exactly (models.go:28-38)
        assert doc["link_url"] == "https://d.com/p"
        assert doc["page_url"] == "https://s.com/a"
        assert doc["date_from"] == "2023-01-01"
        assert doc["ip"] == ["1.1.1.1"]
        assert doc["qty"] == 2
        assert set(doc) == {
            "link_url", "page_url", "link_text", "no_follow", "no_index",
            "date_from", "date_to", "ip", "qty",
        }
