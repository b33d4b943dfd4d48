"""Query-layer tests — filter build, A6 merge, sort, pagination (§3.3),
on in-memory Arrow serving rows."""

from __future__ import annotations

import datetime

import pytest

from globallinks_spark.operators.linkdb import (
    LinkQuery,
    get_domain_links,
    merge_links,
)
from tests.fixtures import collect, serving_rows

D = datetime.date


def _crow(
    domain="d.com", sub="", path="/p", query="", scheme="2",
    page_host="s.com", page_path="/a", page_query="", page_scheme="2",
    text="t", nofollow=0, noindex=0,
    date_from=D(2023, 1, 1), date_to=D(2023, 2, 1), ip="1.1.1.1", qty=1,
):
    return (domain, sub, path, query, scheme, page_host, page_path,
            page_query, page_scheme, text, nofollow, noindex,
            date_from, date_to, ip, qty)


@pytest.fixture()
def serving():
    rows = [
        _crow(),
        _crow(ip="2.2.2.2", date_from=D(2022, 6, 1), date_to=D(2023, 6, 1),
              qty=3),                        # same output link → merges
        _crow(path="/other"),
        _crow(sub="www", text="sub link"),
        _crow(domain="other.org"),
        _crow(nofollow=1, text="nf"),
        _crow(page_host="elsewhere.net", text="anchor two"),
    ]
    return serving_rows(rows)


class TestDomainPredicate:
    def test_bare_domain(self, serving):
        out = collect(get_domain_links(serving, LinkQuery(domain="d.com")))
        assert len(out) > 0
        assert all(r.link_url.split("://")[1].startswith(("d.com", "www.d.com"))
                   for r in out)

    def test_subdomain_query(self, serving):
        out = collect(get_domain_links(serving, LinkQuery(domain="www.d.com")))
        assert len(out) == 1
        assert out[0].link_text == "sub link"


class TestMerge:
    def test_merge_same_output_link(self, serving):
        out = collect(get_domain_links(serving, LinkQuery(domain="d.com")))
        merged = [r for r in out if r.link_url == "https://d.com/p"
                  and r.link_text == "t" and r.no_follow == 0
                  and "elsewhere" not in r.page_url]
        assert len(merged) == 1
        m = merged[0]
        assert m.qty == 4                      # 1 + 3
        assert sorted(m.ip) == ["1.1.1.1", "2.2.2.2"]
        assert m.date_from == D(2022, 6, 1)    # spec: widen, not narrow
        assert m.date_to == D(2023, 6, 1)

    def test_nofollow_not_merged_with_dofollow(self, serving):
        out = collect(get_domain_links(serving, LinkQuery(domain="d.com")))
        nf = [r for r in out if r.no_follow == 1]
        assert len(nf) == 1
        assert nf[0].link_text == "nf"


class TestFiltersSortPagination:
    def test_nofollow_filter(self, serving):
        q = LinkQuery(domain="d.com", filters=[("No Follow", "1", "any")])
        out = collect(get_domain_links(serving, q))
        assert all(r.no_follow == 1 for r in out)
        assert len(out) == 1

    def test_anchor_regex_any(self, serving):
        q = LinkQuery(domain="d.com", filters=[("Anchor", "ANCHOR", "any")])
        out = collect(get_domain_links(serving, q))
        assert len(out) == 1
        assert out[0].link_text == "anchor two"

    def test_anchor_regex_exact(self, serving):
        q = LinkQuery(domain="d.com", filters=[("Anchor", "t", "exact")])
        out = collect(get_domain_links(serving, q))
        assert all(r.link_text == "t" for r in out)
        assert len(out) == 2  # /p merged + /other

    def test_source_host_filter(self, serving):
        q = LinkQuery(domain="d.com",
                      filters=[("Source Host", "elsewhere", "any")])
        out = collect(get_domain_links(serving, q))
        assert len(out) == 1
        assert "elsewhere.net" in out[0].page_url

    def test_sort_datefrom_desc(self, serving):
        q = LinkQuery(domain="d.com", sort="dateFrom", order="desc")
        out = collect(get_domain_links(serving, q))
        dates = [r.date_from for r in out]
        assert dates == sorted(dates, reverse=True)

    def test_pagination_exact_boundaries(self, serving):
        q_all = LinkQuery(domain="d.com", limit=100)
        all_rows = collect(get_domain_links(serving, q_all))
        paged = []
        for p in (1, 2, 3, 4, 5, 6):
            paged += collect(get_domain_links(
                serving, LinkQuery(domain="d.com", limit=1, page=p)
            ))
        assert [r.link_url for r in paged[: len(all_rows)]] == [
            r.link_url for r in all_rows
        ]

    def test_limit_cap(self, serving):
        q = LinkQuery(domain="d.com", limit=5000)
        assert get_domain_links(serving, q).num_rows <= 100
