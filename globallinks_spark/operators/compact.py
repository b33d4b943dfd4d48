"""Dedup + compaction — A4 (segment distinct) and A5 (group-merge).

A4: the reference shells out to ``zcat tmp/*.txt.gz | sort -u -S 1G | gzip``
(/root/reference/cmd/importer/main.go:372-386) — a global external sort
whose only *semantic* content is whole-row dedup. Spark's ``distinct()``
expresses that as a partial-aggregate → shuffle → final-aggregate plan
(Tungsten external sort/spill replacing ``sort -S 1G`` + lzop, SURVEY §4
X1/X2) without the global ordering A5 no longer needs.

A5: the reference streams sorted rows and merges adjacent rows sharing
(link_domain, link_sub_domain, link_path, link_raw_query, page_host)
(``aggressiveCompacting`` + ``compareRecords``, main.go:389-476, 567-609).
The merge rules, re-expressed order-free:

- dofollow preference: when a group has any no_follow=0 row, its
  no_follow=1 rows are discarded entirely — their dates/ip/qty never merge
  (main.go:578-580). Implemented as a min-over-window filter *before* the
  aggregation, exactly matching the reference's skip.
- date_from = min, date_to = max over surviving rows (main.go:583-588).
- ip = "latest record" (main.go:591). The reference takes the last merged
  row in file order, which is not reproducible order-free; the engine's
  deterministic spec is the ip of the max (date_imported, ip) row.
- representative page_path/page_raw_query = shortest path, then shortest
  query (main.go:593-603) — deterministic spec: lexicographically smallest
  (length(path), length(query), path, query).
- qty = number of distinct (page_path, page_raw_query) variants
  (main.go:604 increments per variant change against the evolving
  representative; distinct-count is the order-free equivalent, ≥1).
- remaining columns (schemes, text, no_index) = first surviving row in the
  reference's whole-line sort order.

Known deviation (documented): when a group's rows interleave with other
groups under whole-line sort (same 5-key group split by link_scheme), the
reference emits multiple partial rows; the groupBy merges them fully. The
merged output dominates (it is what the docs LINKDB.md:203-204 describe).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GROUP_KEYS = (
    "link_domain", "link_sub_domain", "link_path", "link_raw_query",
    "page_host",
)

# Reference tie-break order = whole-line string sort of the remaining
# fields in pipe order (link_scheme sorts before the page columns).
_LINE_ORDER = (
    "link_scheme", "page_path", "page_raw_query", "page_scheme",
    "link_text", "no_follow", "no_index", "date_imported", "ip",
)


def compact_links(links: DataFrame) -> DataFrame:
    """A5 — 14-col link rows → 16-col compacted rows.

    Two aggregations, exactly 2 Exchanges (an earlier formulation mixed
    ``countDistinct`` with ``min_by`` in one agg, which Spark rewrites
    into a multi-pass distinct-aggregate plan — 7 Exchanges):

    phase 1 groups by (GROUP_KEYS, no_follow, page variant): partial
    (map-side) aggregation collapses duplicate links before the shuffle,
    and the variant count A5 needs becomes ``count(*)`` downstream
    because the variant is a grouping key here. Phase 2 reduces to one
    row per group, encoding the dofollow preference by leading every
    ordering struct with ``no_follow`` (for min) or its complement (for
    max): ``min(struct(nf, x))`` selects the min x AMONG the min-nf
    class — when a dofollow row exists, nofollow rows' dates/ip/qty are
    discarded wholesale, exactly the reference's skip (main.go:578-580).

    Physical note: these aggregates run as SortAggregate, necessarily —
    representative selection is lexicographic over strings, and Spark's
    HashAggregate requires fixed-width buffers (probed: even
    ``min(string)`` falls back). That is the same work the reference's
    ``sort -u`` does, minus its global ordering. The alternative — a
    min-over-window prefilter — needs a full-data shuffle+sort with no
    partial aggregation; on Zipfian link_domain keys that is strictly
    worse.
    """
    first_order = F.struct(*[F.col(c) for c in _LINE_ORDER])
    rep_order = F.struct(
        F.length("page_path").alias("lp"),
        F.length("page_raw_query").alias("lq"),
        F.col("page_path").alias("page_path"),
        F.col("page_raw_query").alias("page_raw_query"),
    )
    latest_order = F.struct(
        F.col("date_imported").alias("d"), F.col("ip").alias("ip")
    )

    # Phase 1 — per (group, no_follow class, page variant): collapses raw
    # duplicate rows AND the variant fan-out map-side; every aggregate is
    # a plain min/max (struct min = lexicographic), so the earlier
    # min_by + countDistinct mix — which Spark plans as a multi-pass
    # distinct-aggregate rewrite, 7 Exchanges total — becomes one
    # aggregation (countDistinct over variants is count(*) here because
    # the variant IS a grouping key).
    pre = links.groupBy(
        *GROUP_KEYS, "no_follow", "page_path", "page_raw_query"
    ).agg(
        F.min(first_order).alias("_fo"),
        F.min(rep_order).alias("_ro"),
        F.min("date_imported").alias("_dmin"),
        F.max("date_imported").alias("_dmax"),
        F.max(latest_order).alias("_lo"),
    )

    # Phase 2 — one aggregate per group encodes the dofollow preference
    # by leading every ordering struct with no_follow (min) or its
    # complement (max): min(struct(nf, x)) selects the min x AMONG the
    # min-nf class, which is exactly "a dofollow row exists → nofollow
    # rows' dates/ip/qty are discarded wholesale" (main.go:578-580).
    nf = F.col("no_follow")
    pref = (F.lit(1) - nf).alias("pref")  # 1 for dofollow: wins max()
    merged = pre.groupBy(*GROUP_KEYS).agg(
        F.min(nf).alias("no_follow"),
        F.min(F.struct(nf.alias("nf"), F.col("_fo").alias("v"))).alias("_fo"),
        F.min(F.struct(nf.alias("nf"), F.col("_ro").alias("v"))).alias("_ro"),
        F.min(F.struct(nf.alias("nf"), F.col("_dmin").alias("v"))).alias("_dmin"),
        F.max(F.struct(pref, F.col("_dmax").alias("v"))).alias("_dmax"),
        F.max(F.struct(pref, F.col("_lo").alias("v"))).alias("_lo"),
        F.sum(F.when(nf == 0, 1).otherwise(0)).alias("_c0"),
        F.count("*").alias("_call"),
    )
    return merged.select(
        "link_domain", "link_sub_domain", "link_path", "link_raw_query",
        F.col("_fo.v.link_scheme").alias("link_scheme"), "page_host",
        F.col("_ro.v.page_path").alias("page_path"),
        F.col("_ro.v.page_raw_query").alias("page_raw_query"),
        F.col("_fo.v.page_scheme").alias("page_scheme"),
        F.col("_fo.v.link_text").alias("link_text"),
        "no_follow",
        F.col("_fo.v.no_index").alias("no_index"),
        F.col("_dmin.v").alias("date_from"),
        F.col("_dmax.v").alias("date_to"),
        F.col("_lo.v.ip").alias("ip"),
        F.when(F.col("no_follow") == 0, F.col("_c0"))
        .otherwise(F.col("_call")).cast("int").alias("qty"),
    )


def compact_segment(links: DataFrame) -> DataFrame:
    """Full segment finalize (compactSegmentData, main.go:507-564).

    The reference runs A4 (``sort -u``) before A5 because its streaming
    merge needs sorted, de-duplicated input. The group-merge itself does
    not: every A5 aggregate — min/max dates, min_by/max_by, countDistinct
    variants, min(no_follow) — is invariant under row duplication, so
    feeding raw (possibly duplicated) link rows produces byte-identical
    compacted output while skipping an entire full-table shuffle. A
    caller that needs the reference's intermediate sorted file (K1
    byte-compat) applies ``.distinct()`` itself; the serving path
    doesn't pay for it."""
    return compact_links(links)
