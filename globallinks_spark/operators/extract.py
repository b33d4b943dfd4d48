"""Extraction pipeline — WAT pages → filtered external-link rows.

Re-expresses the reference's per-file parse loop
(/root/reference/pkg/commoncrawl/wat.go:249-556) as one declarative plan:

    read_wat_pages → page kernel+gates (P1-P6, F1,F7,F13,F14)
    → explode(links) (J1 avoided: page columns carried through the explode)
    → link kernel+classification (F3-F6,F7,F11,F12) → per-file dedup (A1/A2)
    → 14-column link frame (+ optional 10-column page frame with A3 counters)

The reference needs an explicit link→page hash join (J1, wat.go:897-917)
because pages and links travel in separate hash maps; the explode keeps
them in one row, so the join disappears entirely.

Plan-shape discipline (load-bearing for throughput): each stage is ONE
Project followed by ONE Filter on a boolean computed in that Project.
Catalyst's filter pushdown inlines a predicate's full definition through
every intermediate Project it crosses — a chain of withColumn+filter
steps multiplies the URL/eTLD kernel hundreds of times into the plan
(measured: 494 copies of the tokenizer in the naive formulation, 2.7×
slower end-to-end). With the single-Project shape, each operator
evaluates every unique subexpression once (whole-stage codegen
subexpression elimination), so the kernel costs ~2 evaluations per row
(Project + pushed Filter) regardless of how many predicates consume it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from globallinks_spark.functions import predicates as P
from globallinks_spark.functions import urltools as U


from globallinks_spark.functions.binding import bind_once as _bind


def _robots_flag(metas: Column, token: str) -> Column:
    """P5 — 1 when any meta name=='robots' has content containing token
    (getNoFollowNoIndex, wat.go:448-477); 0 when metas is null/empty."""
    hit = F.exists(
        metas,
        lambda m: (m.getField("name") == "robots")
        & m.getField("content").contains(token),
    )
    return F.when(hit, F.lit(1)).otherwise(F.lit(0))


def _canonicals(head_links: Column) -> Column:
    """rel=canonical hrefs from Head.Link (wat.go:775-780)."""
    return F.transform(
        F.filter(
            F.coalesce(head_links, F.array()),
            lambda l: (l.getField("rel") == "canonical")
            & (l.getField("url") != ""),
        ),
        lambda l: l.getField("url"),
    )


def pages_with_url_record(wat_pages: DataFrame) -> DataFrame:
    """Page kernel: URL parts, eTLD+1, robots flags, dates, then the
    F1+F7 gates. Shape: cheap raw gate (pushes into the scan) → binding
    Project (parse/eTLD evaluated once each) → gates on attributes."""
    uri = F.col("target_uri")
    # F1 raw-string part — before the binding Project so it reaches the scan
    gated = wat_pages.filter(uri.startswith("http") & ~uri.contains("\n"))

    host = U.url_host(uri)
    # Explicit column list, not "*": the eTLD+1 UDF's ArrowEvalPython
    # buffers every input row in the JVM until its batch returns, so
    # metas collapses to the two robots flags and head_links to the
    # (rare, short) canonicals array right here; only the links array
    # must survive to the explode.
    bound = gated.select(
        F.col("title"),
        F.col("links"),
        _canonicals(F.col("head_links")).alias("canonicals"),
        U.scheme_code(U.url_scheme(uri)).alias("page_scheme"),
        _bind(host).alias("page_host"),
        _bind(U.url_path(uri)).alias("page_path"),
        _bind(U.url_raw_query(uri)).alias("page_raw_query"),
        _robots_flag(F.col("metas"), "noindex").alias("no_index"),
        _robots_flag(F.col("metas"), "nofollow").alias("page_no_follow"),
        F.try_to_date(F.col("warc_date")).alias("date_imported"),
        F.coalesce(F.col("warc_ip"), F.lit("")).alias("ip"),
    )
    # eTLD+1 over the bound host attribute, once per distinct host of
    # each Arrow batch (see with_registrable_domain); bound so the F7
    # gate below references an attribute instead of a second UDF call
    bound = U.with_registrable_domain(bound, "page_host", "page_domain")
    return bound.filter(
        P.path_ok(F.col("page_path"))
        & P.record_quality_ok(                           # F7
            F.col("page_domain"), F.col("page_host"), F.col("page_raw_query")
        )
    )


def content_quality_gate(pages: DataFrame) -> DataFrame:
    """F13 (noindex) + F14 (canonical mismatch) — verifyContentQuality,
    wat.go:736-755. All canonical entries must point at this page. The
    predicate only references already-computed columns, so pushdown
    duplicates nothing heavy."""
    canon_ok = F.forall(
        F.col("canonicals"),
        lambda c: P.canonical_ok(
            F.col("page_host"), F.col("page_path"),
            F.col("page_raw_query"), c,
        ),
    )
    return pages.filter(P.page_indexable(F.col("no_index")) & canon_ok)


def explode_links(pages: DataFrame) -> DataFrame:
    """Explode the nested link array; classify each href exactly as the
    reference's parseLinks loop does (wat.go:482-556). Emits every anchor
    with a ``link_class`` column ∈ {internal, external, emitted, skipped}
    so A3 counters and the link output share one pass.

    One Project computes the link kernel AND the classification; the
    anchor gate (F3) runs on the raw exploded struct before any kernel
    work."""
    # Explicit column list again: the link-side eTLD+1 UDF below buffers
    # every exploded row, so only the slim page scalars may ride along
    # (the links array is consumed here; canonicals was only for the
    # page gate).
    exploded = pages.select(
        "page_host", "page_path", "page_raw_query", "page_scheme",
        "page_domain", "no_index", "page_no_follow", "date_imported",
        "ip", "title",
        F.explode(F.col("links")).alias("l"),
    ).filter(P.is_anchor(F.col("l.path")))  # F3 — <a href> only

    href = F.col("l.url")
    is_absolute = P.is_absolute(href)
    link_host = U.url_host(href)

    # binding Project: each URL parse evaluated once per link row
    bound_parts = exploded.select(
        "*",
        F.coalesce(F.col("l.text"), F.lit("")).alias("link_text"),
        F.greatest(
            F.col("page_no_follow"),
            F.when(
                F.coalesce(F.col("l.rel"), F.lit("")).startswith("nofollow"),
                F.lit(1),
            ).otherwise(F.lit(0)),
        ).alias("no_follow"),
        is_absolute.alias("_is_absolute"),
        (~href.contains("\n")).alias("_href_clean"),
        U.scheme_code(U.url_scheme(href)).alias("link_scheme"),
        # relative hrefs classify as 'internal' before any kernel column
        # is consulted (CaseWhen short-circuits), so parsing them would be
        # pure waste — on real crawls ~half of all anchors are relative
        _bind(F.when(is_absolute, link_host)).alias("link_host"),
        _bind(F.when(is_absolute, U.url_path(href))).alias("link_path"),
        _bind(F.when(is_absolute, U.url_raw_query(href)))
        .alias("link_raw_query"),
    )
    # eTLD+1 over the bound host attribute, bound behind the barrier so
    # the downstream references (classification, dedup keys, subdomain)
    # see an attribute instead of another UDF call. A null host
    # (relative href) comes out NULL.
    bound = U.with_registrable_domain(bound_parts, "link_host", "link_domain")

    # classification references only attributes — a small tree that stays
    # in codegen even after the downstream filter inlines it once
    parse_ok = (
        F.col("_href_clean")
        & P.path_ok(F.col("link_path"))
        & F.col("link_host").isNotNull()
    )
    quality_ok = P.record_quality_ok(
        F.col("link_domain"), F.col("link_host"), F.col("link_raw_query")
    )
    classify = (
        # F4 — relative href: internal, not emitted (wat.go:509-512)
        F.when(~F.col("_is_absolute"), F.lit("internal"))
        # unparseable href: skipped silently (buildURLRecord false, wat.go:521-524)
        .when(~parse_ok, F.lit("skipped"))
        # F5 — same host: internal (wat.go:527-530)
        .when(F.col("link_host") == F.col("page_host"), F.lit("internal"))
        # F6 — same registrable domain: counted external, not emitted
        .when(F.col("link_domain") == F.col("page_domain"), F.lit("external"))
        # F7 — record quality: counted external, not emitted (wat.go:548-551)
        .when(~quality_ok, F.lit("external"))
        # F12 — media/doc extension: skipped, no counter (wat.go:543-546)
        .when(~P.extension_not_blocked(F.col("link_path")), F.lit("skipped"))
        # F11 — blocklisted domain: counted external, not emitted
        .when(~P.domain_not_blocked(F.col("link_domain")), F.lit("external"))
        .otherwise(F.lit("emitted"))
    )
    return bound.select("*", classify.alias("link_class")).drop(
        "_is_absolute", "_href_clean"
    )


A2_DEDUP_KEY = (
    "link_domain", "link_sub_domain", "link_path", "link_raw_query",
    "page_host", "page_path", "page_raw_query",
)


def link_rows(classified: DataFrame) -> DataFrame:
    """The 14-column link frame (LINK_SCHEMA order), deduped on the
    reference's per-file key — link host+path+query × page host+path+query
    (A2, farmhash key at wat.go:365). dropDuplicates compiles to a
    partial-then-final aggregate around one shuffle, which is exactly the
    reference's per-file map + global sort -u staging (SURVEY §4 X1).
    The map-side partial aggregate stays small because archive inputs
    are cluster-sized (~125k pages per unsplittable WAT file).

    The filter and subdomain derivation reference only named columns —
    nothing heavy re-inlines."""
    return (
        classified.filter(F.col("link_class") == "emitted")
        .select(
            "link_domain",
            U.subdomain(F.col("link_host"), F.col("link_domain"))
            .alias("link_sub_domain"),
            "link_path", "link_raw_query", "link_scheme",
            "page_host", "page_path", "page_raw_query", "page_scheme",
            U.scrub_delimiter(F.col("link_text")).alias("link_text"),
            "no_follow", "no_index", "date_imported", "ip",
        )
        .dropDuplicates(list(A2_DEDUP_KEY))
    )


def page_rows(classified: DataFrame) -> DataFrame:
    """The 10-column page frame with A3 internal/external counters
    (increments at wat.go:510,528,534,539,549,553), deduped on the page key
    (A1, wat.go:341-342).

    A page row is emitted only when the page produced at least one
    EMITTED link: the reference appends to ``content.Links`` solely in
    parseLinks' final fall-through (wat.go:548-556) and writes the page
    record only under ``len(content.Links) > 0`` (wat.go:327) — a page
    whose anchors are all internal/blocked/skipped gets counters
    tallied but never written."""
    counters = classified.groupBy(
        "page_host", "page_path", "page_raw_query", "page_scheme",
        "title", "ip", "date_imported", "no_index",
    ).agg(
        F.sum(F.when(F.col("link_class") == "internal", 1).otherwise(0))
        .cast("int").alias("internal_links"),
        F.sum(F.when(F.col("link_class").isin("external", "emitted"), 1).otherwise(0))
        .cast("int").alias("external_links"),
        F.max(F.when(F.col("link_class") == "emitted", 1).otherwise(0))
        .alias("_has_emitted"),
    ).filter(F.col("_has_emitted") == 1)
    return counters.select(
        F.col("page_host").alias("host"),
        F.col("page_path").alias("path"),
        F.col("page_raw_query").alias("raw_query"),
        F.col("page_scheme").alias("scheme"),
        U.scrub_delimiter(F.coalesce(F.col("title"), F.lit(""))).alias("title"),
        "ip",
        F.col("date_imported").alias("imported"),
        "internal_links", "external_links", "no_index",
    ).dropDuplicates(["host", "path", "raw_query"])


def extract_links(wat_pages: DataFrame) -> DataFrame:
    """End-to-end: WAT page frame → 14-column external link rows."""
    return link_rows(
        explode_links(content_quality_gate(pages_with_url_record(wat_pages)))
    )


def extract_pages(wat_pages: DataFrame) -> DataFrame:
    """End-to-end: WAT page frame → 10-column page rows with counters."""
    return page_rows(
        explode_links(content_quality_gate(pages_with_url_record(wat_pages)))
    )
