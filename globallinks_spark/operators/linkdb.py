"""Query layer — the reference's backlink API (§3.3) over the serving table.

Re-expresses ``ControllerGetDomainLinks`` + ``generateFilter`` +
``cleanDomainLinks`` (reference pkg/linkdb/controller.go:22-280) in
``pyarrow.compute``, in process, over the one bucket directory
(sources/serving.py) that plays the reference's ``linkdomain`` index
(SURVEY §1.4); no Spark job, and regex filters run on RE2:

    bucket rows → predicate → A6 group-merge → sort → offset/limit

Two deliberate upgrades over the reference, both documented there as
workarounds for Mongo's execution model:

- the merge (A6) runs *before* pagination, so the ×3 overscan
  (controller.go:95, SURVEY §4 X13) is unnecessary — page boundaries are
  exact.
- the reference merges only *adjacent* sorted rows (cleanDomainLinks is a
  streaming pass), so equal groups split across a page boundary stay
  split; the group-by merges exactly.

Date-merge direction: the reference code *narrows* the range (max from,
min to — controller.go:222-228), contradicting its own docs
(LINKDB.md:203-204) and the compaction stage (A5). Per SURVEY §7.3 this is
treated as a reference bug: the engine implements the spec —
earliest date_from, latest date_to. NULLs behave as in Spark SQL: NULL
keys group together and sort first ascending, last descending.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from globallinks_spark.functions.psl import etld_plus_one_py
from globallinks_spark.sources import serving as SV

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

# LinkOut's JSON tags, in order (pkg/linkdb/models.go:28-38)
LINKOUT_FIELDS = ("link_url", "page_url", "link_text", "no_follow",
                  "no_index", "date_from", "date_to", "ip", "qty")
# O3 — sort specs (controller.go:46-92); None is the 8-column serving order
_SORTS = {
    None: ["link_domain", "link_path", "link_raw_query", "page_host",
           "page_path", "page_raw_query", "date_from", "date_to"],
    "linkUrl": ["link_domain", "link_path", "link_raw_query"],
    "pageUrl": ["page_host", "page_path", "page_raw_query"],
    "linkText": ["link_text"],
    "dateFrom": ["date_from"],
    "dateTo": ["date_to"],
}


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


def split_domain(domain: str) -> tuple[str, str | None]:
    """(eTLD+1, subdomain or None) of a queried name
    (controller.go:132-138)."""
    domain = domain.lower()
    parsed = etld_plus_one_py(domain) or domain
    if parsed != domain:
        return parsed, domain[: len(domain) - len(parsed) - 1]
    return domain, None


def _pattern(val: str, kind: str) -> str:
    return f"(?i)^{val}$" if kind == "exact" else f"(?i){val}"


def check_patterns(filters: list[tuple[str, str, str]]) -> None:
    """Raise ArrowInvalid (a ValueError) on a pattern RE2 rejects."""
    for name, val, kind in filters:
        if name in _REGEX_FILTER_COLS:
            pc.match_substring_regex(pa.array([""]), _pattern(val, kind))


def filters_mask(rows: pa.Table, filters: list[tuple[str, str, str]]):
    """Optional filters (controller.go:139-185): nofollow int equality;
    case-insensitive regex on path/host/text/ip — ``exact`` anchors the
    pattern, ``any`` is substring search."""
    mask = pa.scalar(True)
    for name, val, kind in filters:
        if name == "No Follow":
            try:
                mask = pc.and_(mask, pc.equal(rows["no_follow"], int(val)))
            except ValueError:
                pass  # reference ignores non-integer values
        elif name in _REGEX_FILTER_COLS:
            mask = pc.and_(mask, pc.match_substring_regex(
                rows[_REGEX_FILTER_COLS[name]], _pattern(val, kind)))
    return mask


def reconstruct_url(scheme, sub, domain, path, query) -> pa.ChunkedArray:
    """P10 — scheme://[sub.]domain[path][?query] for API output
    (controller.go:201-211, 246-265). '1' decodes to http, all else to
    https: the reference's lossy '0' round trip (controller.go:239-244)."""
    proto = pc.if_else(pc.fill_null(pc.equal(scheme, "1"), False),
                       "http", "https")
    host = pc.coalesce(pc.if_else(
        pc.equal(sub, ""), domain,
        pc.binary_join_element_wise(sub, domain, ".")), domain)
    q = pc.if_else(pc.equal(query, ""), "",
                   pc.binary_join_element_wise("?", query, ""))
    return pc.binary_join_element_wise(proto, "://", host, path, q, "")


def merge_links(rows: pa.Table) -> pa.Table:
    """A6 — merge serving rows that render to the same output link
    (cleanDomainLinks, controller.go:190-237). Group key: reconstructed
    (link_url, page_url, link_text, no_follow); dates widen to
    [min(date_from), max(date_to)] (spec, see module docstring); no_index
    of the row with the smallest (date_from, date_to); ip becomes a
    distinct set (sorted per page by ``get_domain_links``); qty sums."""
    rows = rows.append_column("link_url", reconstruct_url(
        rows["link_scheme"], rows["link_sub_domain"], rows["link_domain"],
        rows["link_path"], rows["link_raw_query"],
    )).append_column("page_url", reconstruct_url(
        rows["page_scheme"], "", rows["page_host"],
        rows["page_path"], rows["page_raw_query"],
    ))
    # each group's first row is then its earliest (Spark's min_by)
    rows = rows.sort_by([("date_from", "ascending"), ("date_to", "ascending")],
                        null_placement="at_start")
    aggs = [
        ("no_index", "first", pc.ScalarAggregateOptions(skip_nulls=False)),
        ("date_from", "min"), ("date_to", "max"),
        ("ip", "distinct", pc.CountOptions("only_valid")), ("qty", "sum"),
        # carry the sort keys through the merge (min = first sorted row)
        *((c, "min") for c in _SORTS[None] if not c.startswith("date_")),
    ]
    keys = ["link_url", "page_url", "link_text", "no_follow"]
    merged = rows.group_by(keys, use_threads=False).aggregate(aggs)
    return merged.rename_columns(  # "<column>_<aggregate>" → "<column>"
        [c if c in keys else c.rsplit("_", 1)[0] for c in merged.column_names])


def get_domain_links(rows: pa.Table, q: LinkQuery) -> pa.Table:
    """The whole query surface of the reference over serving rows:
    predicates, merge, sort, one page of LinkOut columns."""
    limit = q.limit if 0 < q.limit <= MAX_LIMIT else 100
    page = q.page if q.page > 0 else 1
    domain, sub = split_domain(q.domain)
    mask = pc.equal(rows["link_domain"], domain)
    if sub is not None:
        mask = pc.and_(mask, pc.equal(rows["link_sub_domain"], sub))
    merged = merge_links(
        rows.filter(pc.and_(mask, filters_mask(rows, q.filters))))
    desc = q.order == "desc"
    ordered = merged.sort_by(
        [(c, "descending" if desc else "ascending")
         for c in _SORTS.get(q.sort, _SORTS[None])],
        null_placement="at_end" if desc else "at_start")
    # a page far past the end is empty, never an offset past int64
    offset = min((page - 1) * limit, ordered.num_rows)
    out = ordered.select(list(LINKOUT_FIELDS)).slice(offset, limit)
    ip = pa.array([sorted(v) for v in out["ip"].to_pylist()], out["ip"].type)
    return out.set_column(LINKOUT_FIELDS.index("ip"), "ip", ip)


def query_serving(serving_path: str, q: LinkQuery) -> pa.Table:
    """POST /api/links over a stored table: ``get_domain_links`` over the
    bucket directory of the query's eTLD+1, read with pyarrow."""
    domain = split_domain(q.domain)[0]
    bucket = SV.bucket_dir(serving_path, domain)
    if not os.path.isdir(bucket):  # no domain hashed to that bucket
        return pa.table({f: [] for f in LINKOUT_FIELDS})
    rows = pq.read_table(bucket, filters=[("link_domain", "==", domain)])
    return get_domain_links(rows, q)


def to_json_response(result: pa.Table) -> list[str]:
    """K5 — render a (already paginated, ≤100-row) query result as JSON
    strings matching the reference's LinkOut JSON tags field-for-field
    (pkg/linkdb/models.go:28-38; marshal handler.go:66-72); like Spark's
    toJSON, NULL fields are left out."""
    dump = json.JSONEncoder(ensure_ascii=False, separators=(",", ":")).encode
    return [dump({k: v.isoformat() if k.startswith("date_") else v
                  for k, v in row.items() if v is not None})
            for row in result.to_pylist()]
