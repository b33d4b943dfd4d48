"""Synthetic WAT fixture — the golden end-to-end corpus the reference never
had (SURVEY §5 rebuild test plan item b). Shapes follow the inline JSON
fixtures at /root/reference/pkg/commoncrawl/wat_test.go:319,330."""

from __future__ import annotations

import gzip
import json


def _envelope(uri, date, ip, links, metas=None, head_links=None, title="T"):
    return {
        "Envelope": {
            "WARC-Header-Metadata": {
                "WARC-Target-URI": uri,
                "WARC-Date": date,
                "WARC-IP-Address": ip,
                "WARC-Type": "response",
            },
            "Payload-Metadata": {
                "HTTP-Response-Metadata": {
                    "HTML-Metadata": {
                        "Head": {
                            "Title": title,
                            "Metas": metas or [],
                            "Link": head_links or [],
                        },
                        "Links": links,
                    }
                }
            },
        }
    }


def a(url, text="anchor", rel=""):
    return {"path": "A@/href", "url": url, "text": text, "rel": rel}


WAT_RECORDS = [
    # page 1: clean page on alpha.example.com with a mix of link classes
    _envelope(
        "https://alpha.example.com/posts/1?id=7",
        "2023-02-04T10:00:00Z",
        "10.0.0.1",
        [
            a("https://target-one.org/article"),          # emitted
            a("https://www.target-one.org/article"),      # emitted (www sub)
            a("https://TARGET-ONE.org/article"),          # dup of first (A2)
            a("/relative/path"),                          # internal (F4)
            a("https://alpha.example.com/other"),         # internal (F5)
            a("https://beta.example.com/x"),              # same domain (F6)
            a("https://facebook.com/share"),              # blocklisted (F11)
            a("https://target-one.org/img/pic.jpg"),      # extension (F12)
            a("https://target-two.net/a?utm_source=home"),  # query blanked
            a("https://spam.cn/x"),                       # blocked TLD (F10)
            a("https://nofollow-target.com/x", rel="nofollow me"),  # nofollow
            {"path": "IMG@/src", "url": "https://i.example.com/x.png",
             "text": "", "rel": ""},                      # not an anchor (F3)
        ],
    ),
    # page 2: same links seen later from another page (dates differ)
    _envelope(
        "http://gamma.sample.net/index",
        "2023-03-10T09:30:00Z",
        "10.0.0.2",
        [
            a("https://target-one.org/article", text="again"),
            a("https://target-two.net/a?x=1"),
        ],
    ),
    # page 3: noindex page — all links dropped (F13)
    _envelope(
        "https://noindex.example.org/secret",
        "2023-02-05T00:00:00Z",
        "10.0.0.3",
        [a("https://target-one.org/article")],
        metas=[{"name": "robots", "content": "noindex, nofollow"}],
    ),
    # page 4: canonical points elsewhere — dropped (F14)
    _envelope(
        "https://canon.example.org/dup",
        "2023-02-06T00:00:00Z",
        "10.0.0.4",
        [a("https://target-one.org/article")],
        head_links=[{"path": "LINK@/href", "url": "https://canon.example.org/main",
                     "rel": "canonical", "type": ""}],
    ),
    # page 5: page-level nofollow meta inherited by links (P9)
    _envelope(
        "https://delta.sample.org/p",
        "2023-02-07T12:00:00Z",
        "10.0.0.5",
        [a("https://target-three.io/x")],
        metas=[{"name": "robots", "content": "nofollow"}],
    ),
]


def write_wat_file(path: str, records: list[dict] = WAT_RECORDS) -> None:
    """Write ``records`` (default: the fixture) as a .gz of JSON lines
    interleaved with WARC header noise (exercising the line-level
    pre-filter)."""
    with gzip.open(path, "wt", encoding="utf-8") as f:
        f.write("WARC/1.0\n")
        for rec in records:
            f.write("WARC-Type: metadata\n")
            uri = rec["Envelope"]["WARC-Header-Metadata"]["WARC-Target-URI"]
            f.write(f"WARC-Target-URI: {uri}\n\n")
            f.write(json.dumps(rec) + "\n")


def serving_rows(rows):
    """Compacted serving rows (16-field tuples in COMPACT_COLUMNS order)
    as the Arrow table the query layer reads."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from globallinks_spark.schemas import COMPACT_SCHEMA

    schema = to_arrow_schema(COMPACT_SCHEMA)
    return pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=schema)


def collect(table):
    """A query result's rows, with attribute access like Spark Rows."""
    from types import SimpleNamespace

    return [SimpleNamespace(**r) for r in table.to_pylist()]
