"""Query layer — the reference's backlink API (§3.3) over the serving table.

Re-expresses ``ControllerGetDomainLinks`` + ``generateFilter`` +
``cleanDomainLinks`` (/root/reference/pkg/linkdb/controller.go:22-280) as a
single DataFrame plan:

    partition-pruned scan → predicate → A6 group-merge → sort → offset/limit

Two deliberate upgrades over the reference, both documented there as
workarounds for Mongo's execution model:

- the merge (A6) runs *before* pagination, so the ×3 overscan
  (controller.go:95, SURVEY §4 X13) is unnecessary — page boundaries are
  exact.
- the reference merges only *adjacent* sorted rows (cleanDomainLinks is a
  streaming pass), so equal groups split across a page boundary stay
  split; the groupBy merges exactly.

Date-merge direction: the reference code *narrows* the range (max from,
min to — controller.go:222-228), contradicting its own docs
(LINKDB.md:203-204) and the compaction stage (A5). Per SURVEY §7.3 this is
treated as a reference bug: the engine implements the spec —
earliest date_from, latest date_to.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from globallinks_spark.functions.psl import etld_plus_one_py
from globallinks_spark.functions.urltools import reconstruct_url

MAX_LIMIT = 100

# API filter name → serving-table column (generateFilter,
# controller.go:139-185). All are case-insensitive regex filters; "No
# Follow" is integer equality.
_REGEX_FILTER_COLS = {
    "Link Path": "link_path",
    "Source Host": "page_host",
    "Source Path": "page_path",
    "Anchor": "link_text",
    "IP": "ip",
}

FILTER_KIND_EXACT = "exact"
FILTER_KIND_ANY = "any"


@dataclass
class LinkQuery:
    """Mirror of APIRequest (pkg/linkdb/models.go:40-58)."""

    domain: str
    limit: int = 100
    page: int = 1
    sort: str | None = None        # linkUrl | pageUrl | linkText | dateFrom | dateTo
    order: str = "asc"             # asc | desc
    filters: list[tuple[str, str, str]] = field(default_factory=list)
    # each filter: (name, value, kind) — kind ∈ {exact, any}


def domain_predicate(domain: str) -> Column:
    """Equality on link_domain, plus link_sub_domain when the queried name
    carries a subdomain (controller.go:132-138)."""
    domain = domain.lower()
    parsed = etld_plus_one_py(domain) or domain
    if parsed != domain:
        sub = domain[: len(domain) - len(parsed) - 1]
        return (F.col("link_domain") == parsed) & (
            F.col("link_sub_domain") == sub
        )
    return F.col("link_domain") == domain


def filters_predicate(filters: list[tuple[str, str, str]]) -> Column:
    """Optional filters (controller.go:139-185): nofollow int equality;
    case-insensitive regex on path/host/text/ip — ``exact`` anchors the
    pattern, ``any`` is substring search."""
    cond = F.lit(True)
    for name, val, kind in filters:
        if name == "No Follow":
            try:
                cond = cond & (F.col("no_follow") == int(val))
            except ValueError:
                continue  # reference ignores non-integer values
        elif name in _REGEX_FILTER_COLS:
            col = F.col(_REGEX_FILTER_COLS[name])
            pat = f"(?i)^{val}$" if kind == FILTER_KIND_EXACT else f"(?i){val}"
            cond = cond & col.rlike(pat)
    return cond


def _sort_columns(sort: str | None, order: str) -> list[Column]:
    """O3 — sort specs (controller.go:46-92). The default is the 8-column
    serving order; named sorts override it."""
    specs = {
        None: ["link_domain", "link_path", "link_raw_query", "page_host",
               "page_path", "page_raw_query", "date_from", "date_to"],
        "linkUrl": ["link_domain", "link_path", "link_raw_query"],
        "pageUrl": ["page_host", "page_path", "page_raw_query"],
        "linkText": ["link_text"],
        "dateFrom": ["date_from"],
        "dateTo": ["date_to"],
    }
    cols = specs.get(sort, specs[None])
    desc = order == "desc"
    return [F.col(c).desc() if desc else F.col(c).asc() for c in cols]


def merge_links(rows: DataFrame) -> DataFrame:
    """A6 — merge serving rows that render to the same output link
    (cleanDomainLinks, controller.go:190-237). Group key: reconstructed
    (link_url, page_url, link_text, no_follow); dates widen to
    [min(date_from), max(date_to)] (spec, see module docstring); ip becomes
    a distinct sorted set; qty sums."""
    link_url = reconstruct_url(
        F.col("link_scheme"), F.col("link_sub_domain"), F.col("link_domain"),
        F.col("link_path"), F.col("link_raw_query"),
    )
    page_url = reconstruct_url(
        F.col("page_scheme"), F.lit(""), F.col("page_host"),
        F.col("page_path"), F.col("page_raw_query"),
    )
    enriched = rows.withColumn("link_url", link_url).withColumn(
        "page_url", page_url
    )
    return enriched.groupBy(
        "link_url", "page_url", "link_text", "no_follow"
    ).agg(
        F.min_by(F.col("no_index"), F.struct("date_from", "date_to")).alias("no_index"),
        F.min("date_from").alias("date_from"),
        F.max("date_to").alias("date_to"),
        F.array_sort(F.collect_set("ip")).alias("ip"),
        F.sum("qty").cast("int").alias("qty"),
        # carry the sort keys through the merge (min = first sorted row)
        F.min("link_domain").alias("link_domain"),
        F.min("link_path").alias("link_path"),
        F.min("link_raw_query").alias("link_raw_query"),
        F.min("page_host").alias("page_host"),
        F.min("page_path").alias("page_path"),
        F.min("page_raw_query").alias("page_raw_query"),
    )


def get_domain_links(serving: DataFrame, q: LinkQuery) -> DataFrame:
    """The whole query surface of the reference, one plan. ``serving`` is
    the (already partition-pruned, see sources.serving) compacted table."""
    limit = q.limit if 0 < q.limit <= MAX_LIMIT else 100
    page = q.page if q.page > 0 else 1

    rows = serving.filter(domain_predicate(q.domain)).filter(
        filters_predicate(q.filters)
    )
    merged = merge_links(rows)
    ordered = merged.orderBy(*_sort_columns(q.sort, q.order))
    out = ordered.select(
        "link_url", "page_url", "link_text", "no_follow", "no_index",
        "date_from", "date_to", "ip", "qty",
    )
    return out.offset((page - 1) * limit).limit(limit)


def to_json_response(result: DataFrame) -> list[str]:
    """K5 — render a (already paginated, ≤100-row) query result as JSON
    strings matching the reference's LinkOut JSON tags field-for-field
    (pkg/linkdb/models.go:28-38: link_url, page_url, link_text,
    no_follow, no_index, date_from, date_to, ip, qty; marshal
    handler.go:66-72). The collect is bounded by MAX_LIMIT — this is the
    API edge, not a data path."""
    renamed = result.select(
        "link_url", "page_url", "link_text", "no_follow", "no_index",
        F.date_format("date_from", "yyyy-MM-dd").alias("date_from"),
        F.date_format("date_to", "yyyy-MM-dd").alias("date_to"),
        "ip", "qty",
    )
    return [row for row in renamed.toJSON().collect()]
