"""The Arrow query path against DuckDB over the same stored parquet:
every filter in both kinds, every sort in both orders, subdomains, IDN
punycode, NULL ips and NULL-only groups, merges across ip and dates, a
page past the end. Also the bucket layout: Spark's ``domain_bucket`` and
its Python twin pick the same directory, and a table without the
recorded hash refuses to answer."""

from __future__ import annotations

import datetime
import json
import os
import random
import string

import duckdb
import pytest

from globallinks_spark.operators.linkdb import (
    LinkQuery,
    query_serving,
    to_json_response,
)
from globallinks_spark.sources import serving as SV

D = datetime.date


def _row(domain="d.com", sub="", path="/p", query="", scheme="2",
         page_host="s.com", page_path="/a", page_query="", page_scheme="2",
         text="t", nofollow=0, noindex=0, date_from=D(2023, 1, 1),
         date_to=D(2023, 2, 1), ip="1.1.1.1", qty=1):
    return (domain, sub, path, query, scheme, page_host, page_path,
            page_query, page_scheme, text, nofollow, noindex,
            date_from, date_to, ip, qty)


ROWS = [
    # one output link over three rows: ips and dates merge, no_index
    # comes from the earliest row
    _row(ip="1.1.1.1", noindex=1),
    _row(ip="2.2.2.2", date_from=D(2022, 6, 1), date_to=D(2023, 6, 1),
         qty=3),
    _row(ip=None, date_from=D(2022, 7, 1), date_to=D(2023, 3, 1), qty=2),
    # a NULL-only ip group whose earliest row has a NULL no_index, and
    # one with NULL dates
    _row(path="/nulls", ip=None, scheme="1", text="Null Group"),
    _row(path="/nulls", ip=None, scheme="1", text="Null Group",
         date_from=D(2021, 1, 1), noindex=None, qty=4),
    _row(path="/undated", date_from=None, date_to=None, text="undated"),
    _row(path="/noscheme", scheme=None, page_scheme=None, text="no scheme"),
    _row(path="/q", query="a=1&b=2", page_query="ref=x", page_scheme="1",
         text="Query Link", nofollow=1, ip="9.9.9.9"),
    _row(path="/other", text=None, page_host="elsewhere.net",
         page_path="/deep/page", ip="10.0.0.1", date_to=D(2024, 1, 1)),
    _row(path="/ANCHOR", text="Click Here Now", page_host="third.org",
         nofollow=1, noindex=1, date_from=D(2020, 5, 5)),
    _row(sub="www", path="/w", text="sub link", ip="3.3.3.3"),
    _row(sub="www", path="/w", text="sub link", ip="4.4.4.4",
         page_host="s2.com", date_from=D(2019, 1, 1)),
    _row(sub="blog", path="/b", text="blog"),
    _row(domain="xn--bcher-kva.de", path="/buch", text="bücher",
         page_host="xn--mnchen-3ya.de", ip="5.5.5.5"),
    _row(domain="xn--bcher-kva.de", sub="www", path="/buch", text="bücher"),
    _row(domain="other.org", path="/x", qty=7),
] + [
    # enough rows for several pages
    _row(path=f"/many/{i:02d}", text=f"many {i}", ip=f"7.7.7.{i}",
         page_host=f"p{i % 5}.net", date_from=D(2023, 1 + i % 12, 1 + i),
         date_to=D(2024, 1 + i % 12, 1 + i), nofollow=i % 2)
    for i in range(24)
]

_FIELDS = ("link_url", "page_url", "link_text", "no_follow", "no_index",
           "date_from", "date_to", "ip", "qty")
_SORTS = {
    None: ["link_domain", "link_path", "link_raw_query", "page_host",
           "page_path", "page_raw_query", "date_from", "date_to"],
    "linkUrl": ["link_domain", "link_path", "link_raw_query"],
    "pageUrl": ["page_host", "page_path", "page_raw_query"],
    "linkText": ["link_text"],
    "dateFrom": ["date_from"],
    "dateTo": ["date_to"],
}
_FILTER_COLS = {"Link Path": "link_path", "Source Host": "page_host",
                "Source Path": "page_path", "Anchor": "link_text",
                "IP": "ip"}


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    from globallinks_spark.schemas import COMPACT_SCHEMA

    path = str(tmp_path_factory.mktemp("oracle") / "serving")
    SV.write_serving_table(
        spark.createDataFrame(ROWS, COMPACT_SCHEMA), path, buckets=4)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE serving AS SELECT * FROM read_parquet("
        f"'{path}/domain_bucket=*/*.parquet', hive_partitioning=true)")
    yield path, con
    con.close()


def _oracle(con, domain: str, sub: str | None, q: LinkQuery):
    """Every merged row of the query in its sort order, as (JSON text
    without NULL fields, sort key)."""
    where, params = ["link_domain = $d"], {"d": domain}
    if sub is not None:
        where.append("link_sub_domain = $s")
        params["s"] = sub
    for i, (name, val, kind) in enumerate(q.filters):
        if name == "No Follow":
            where.append(f"no_follow = {int(val)}")
        elif name in _FILTER_COLS:
            where.append(f"regexp_matches({_FILTER_COLS[name]}, $f{i}, 'i')")
            params[f"f{i}"] = f"^{val}$" if kind == "exact" else val
    desc = q.order == "desc"
    keys = _SORTS.get(q.sort, _SORTS[None])
    nulls = "DESC NULLS LAST" if desc else "ASC NULLS FIRST"
    order = ", ".join(f"{c} {nulls}" for c in keys)
    scheme = "CASE WHEN {0} = '1' THEN 'http' ELSE 'https' END"
    day = "coalesce(strftime({0}, '%Y%m%d'), '00000000')"
    rows = con.execute(f"""
    WITH r AS (
      SELECT *,
        {scheme.format('link_scheme')} || '://'
          || CASE WHEN coalesce(link_sub_domain, '') = '' THEN link_domain
                  ELSE link_sub_domain || '.' || link_domain END
          || link_path
          || CASE WHEN link_raw_query = '' THEN '' ELSE '?' || link_raw_query END
          AS link_url,
        {scheme.format('page_scheme')} || '://' || page_host || page_path
          || CASE WHEN page_raw_query = '' THEN '' ELSE '?' || page_raw_query END
          AS page_url
      FROM serving WHERE {' AND '.join(where)}),
    m AS (
      SELECT link_url, page_url, link_text, no_follow,
        arg_min_null(no_index,
                     {day.format('date_from')} || {day.format('date_to')})
          AS no_index,
        min(date_from) AS date_from, max(date_to) AS date_to,
        list_sort(list_distinct(list(ip))) AS ip,
        CAST(sum(qty) AS INTEGER) AS qty,
        min(link_domain) AS link_domain, min(link_path) AS link_path,
        min(link_raw_query) AS link_raw_query, min(page_host) AS page_host,
        min(page_path) AS page_path, min(page_raw_query) AS page_raw_query
      FROM r GROUP BY link_url, page_url, link_text, no_follow)
    SELECT link_url, page_url, link_text, no_follow, no_index,
      strftime(date_from, '%Y-%m-%d'), strftime(date_to, '%Y-%m-%d'), ip, qty,
      {", ".join(keys)}
    FROM m ORDER BY {order}
    """, params).fetchall()
    return [(_text({k: v for k, v in zip(_FIELDS, r) if v is not None}),
             r[len(_FIELDS):]) for r in rows]


def _text(row: dict) -> str:
    return json.dumps(row, sort_keys=True, ensure_ascii=False)


def _cases():
    out = [
        ("d.com", None, LinkQuery(domain="d.com")),
        ("d.com", "www", LinkQuery(domain="www.d.com")),
        ("d.com", "blog", LinkQuery(domain="Blog.D.com")),
        ("absent-domain.com", None, LinkQuery(domain="absent-domain.com")),
        # hashes to bucket 0 of 4, which no stored domain does
        ("nobucket18.com", None, LinkQuery(domain="nobucket18.com")),
        ("xn--bcher-kva.de", None, LinkQuery(domain="xn--bcher-kva.de")),
        ("xn--bcher-kva.de", "www", LinkQuery(domain="www.xn--bcher-kva.de")),
        ("d.com", None, LinkQuery(domain="d.com", limit=10, page=3)),
        ("d.com", None, LinkQuery(domain="d.com", limit=10, page=5)),
        ("d.com", None, LinkQuery(domain="d.com", page=100_000_000)),
    ]
    filters = [  # (name, exact value, any value)
        ("Link Path", "/many/1.", "/nulls"),
        ("Source Host", "P[0-2].NET", "s"),
        ("Source Path", "/deep/page", "deep"),
        ("Anchor", "null group", "click"),
        ("IP", "7\\.7\\.7\\.1[0-9]", "9.9"),
        ("No Follow", "1", "0"),
    ]
    for name, exact_val, any_val in filters:
        out.append(("d.com", None, LinkQuery(
            domain="d.com", filters=[(name, exact_val, "exact")])))
        out.append(("d.com", None, LinkQuery(
            domain="d.com", filters=[(name, any_val, "any")])))
    for sort in _SORTS:
        for order in ("asc", "desc"):
            out.append(("d.com", None, LinkQuery(
                domain="d.com", sort=sort, order=order, limit=7, page=2)))
    return out


@pytest.mark.parametrize("domain,sub,q", _cases(), ids=lambda v: (
    json.dumps(v.__dict__, sort_keys=True) if isinstance(v, LinkQuery)
    else None))
def test_arrow_path_matches_duckdb(table, domain, sub, q):
    """Rows with equal sort keys may come in either order, so the page
    must hold oracle rows whose keys match the oracle's page in order;
    with distinct keys that is the exact page."""
    path, con = table
    got = [_text(json.loads(r))
           for r in to_json_response(query_serving(path, q))]
    every = _oracle(con, domain, sub, q)
    limit = q.limit if 0 < q.limit <= 100 else 100
    offset = (max(q.page, 1) - 1) * limit
    want = every[offset:offset + limit]
    key = dict(every)
    assert len(got) == len(want)
    assert all(g in key for g in got), set(got) - set(key)
    assert [key[g] for g in got] == [k for _, k in want]


def test_cases_reach_the_edge_inputs(table):
    """The corpus must keep exercising what the cases claim to cover."""
    path, _ = table
    assert not os.path.isdir(SV.bucket_dir(path, "nobucket18.com"))
    rows = {r["link_url"]: r for r in (
        json.loads(x) for x in to_json_response(
            query_serving(path, LinkQuery(domain="d.com"))))}
    merged = rows["https://d.com/p"]
    assert merged["ip"] == ["1.1.1.1", "2.2.2.2"] and merged["qty"] == 6
    assert (merged["date_from"], merged["date_to"], merged["no_index"]) == (
        "2022-06-01", "2023-06-01", 0)
    assert rows["http://d.com/nulls"]["ip"] == []
    assert "no_index" not in rows["http://d.com/nulls"]
    assert "date_from" not in rows["https://d.com/undated"]
    assert "link_text" not in rows["https://d.com/other"]
    assert rows["https://d.com/noscheme"]["page_url"] == "https://s.com/a"


def test_bucket_twin_matches_spark(spark):
    """``bucket_of`` must name the directory Spark wrote a domain to."""
    from pyspark.sql import functions as F

    rng = random.Random(7)
    alphabet = string.ascii_letters + string.digits + "-"
    corpus = [
        "example.com", "Example.COM", "EXAMPLE.com", "xn--bcher-kva.de",
        "XN--BCHER-KVA.DE", "xn--80ak6aa92e.com", "www.xn--p1ai",
        "a-b.co.uk", "1.example.org", "x.y.z.w.example.net",
    ] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 40)))
        + rng.choice([".com", ".co.uk", ".Org", ".xn--p1ai"])
        for _ in range(300)
    ]
    df = spark.createDataFrame([(d,) for d in corpus], "d string")
    for buckets in (8, 256, 4096):
        got = [r.b for r in df.select(
            SV.domain_bucket(F.col("d"), buckets).alias("b")).collect()]
        assert got == [SV.bucket_of(d, buckets) for d in corpus], buckets


def test_table_without_recorded_hash_fails_loudly(table, tmp_path):
    """A table from before the crc32 layout would prune to the wrong
    directory and answer []; it must raise instead."""
    import shutil

    src, _ = table
    old = str(tmp_path / "old")
    shutil.copytree(src, old)
    with open(os.path.join(old, "_serving_meta.json"), "w") as f:
        json.dump({"buckets": 4, "bucket_col": "domain_bucket"}, f)
    with pytest.raises(ValueError, match="crc32"):
        query_serving(old, LinkQuery(domain="d.com"))
    os.remove(os.path.join(old, "_serving_meta.json"))
    with pytest.raises(ValueError, match="crc32"):
        query_serving(old, LinkQuery(domain="d.com"))
