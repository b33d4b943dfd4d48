"""Row-level predicates F1-F16 (SURVEY §2.3) as Column builders.

Each returns a BooleanType Column meaning "keep the row". Blocklist
membership compiles to ``isin`` (a hash set in codegen — the Spark analogue
of the reference's Go maps, wat.go:681-713); nothing here leaves the JVM.

Citations: verifyRecordQuality wat.go:562-592, validateHost wat.go:595-610,
IsValidDomain wat.go:613-620 (regex wat.go:125), ignoreTLD wat.go:716-723,
isIgnoredDomain wat.go:699-704, isIgnoredExtension wat.go:707-713,
canonical check wat.go:758-818, content quality wat.go:736-755.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from globallinks_spark.config import (
    BAD_HOST_CHARS,
    IGNORED_DOMAINS,
    IGNORED_EXTENSIONS,
    IGNORED_TLDS,
    IPV4_REGEX,
    MAX_QUERY_LENGTH,
    VALID_DOMAIN_REGEX,
)

# ---------------------------------------------------------------------------
# F8 — host sanity


def host_is_clean(host: Column) -> Column:
    """No forbidden characters, not a raw IPv4, contains a dot
    (validateHost, wat.go:595-610)."""
    bad_chars = "[" + "".join("\\" + c for c in BAD_HOST_CHARS) + "]"
    return (
        ~host.rlike(bad_chars)
        & ~host.rlike(IPV4_REGEX)
        & host.contains(".")
    )


# F9 — domain shape
def domain_is_valid(domain: Column) -> Column:
    """Regex gate on the registrable domain (IsValidDomain, wat.go:613-620).
    Spark's Java regex supports the reference's inline (?i) flag as-is."""
    return domain.rlike(VALID_DOMAIN_REGEX)


# F10 — TLD blocklist (suffix match)
def tld_not_blocked(domain: Column) -> Column:
    cond = F.lit(True)
    for suf in IGNORED_TLDS:
        cond = cond & ~F.lower(domain).endswith(suf)
    return cond


# F11 — domain blocklist (exact match, lowercased)
def domain_not_blocked(domain: Column) -> Column:
    return ~F.lower(domain).isin(*IGNORED_DOMAINS)


# F12 — extension blocklist. filepath.Ext semantics: the suffix starting at
# the final dot of the final path element ('' if none).
def extension_not_blocked(path: Column) -> Column:
    ext = F.lower(F.regexp_extract(path, r"(\.[^./\\]*)$", 1))
    return (ext == "") | ~ext.isin(*IGNORED_EXTENSIONS)


# F7 — record quality composite (verifyRecordQuality, wat.go:562-592)
def record_quality_ok(domain: Column, host: Column, raw_query: Column) -> Column:
    return (
        domain.isNotNull()
        & (domain != "")
        & tld_not_blocked(domain)
        & host_is_clean(host)
        & domain_is_valid(domain)
        & (F.length(raw_query) <= MAX_QUERY_LENGTH)
        & ~raw_query.contains("|")
    )


def path_ok(path: Column) -> Column:
    """Path free of delimiter/newline (buildURLRecord, wat.go:637-639)."""
    return ~path.contains("|") & ~path.contains("\n")


# F3 — anchors only: WAT link struct 'path' field == 'A@/href'
def is_anchor(link_path_field: Column) -> Column:
    return link_path_field == "A@/href"


# F4 — absolute links only (relative → internal, not emitted)
def is_absolute(href: Column) -> Column:
    return href.startswith("http") | href.startswith("//")


# F13 — page-level noindex (verifyContentQuality, wat.go:736-755)
def page_indexable(no_index: Column) -> Column:
    return no_index == 0


# F15 — malformed pipe row (split count gate) is applied in sources.pipe_text
# F1 (source URL sanity) and F5/F6 (same host / same registrable domain)
# are applied inline by operators/extract.py


def canonical_ok(
    page_host: Column,
    page_path: Column,
    page_raw_query: Column,
    canonical_url: Column,
) -> Column:
    """F14 — drop pages whose rel=canonical points elsewhere
    (checkPageCanonicalLink, wat.go:758-818). ``canonical_url`` is a
    rel=canonical href from Head.Link ('' / null when absent — keep).

    Reference semantics, kept exactly:
    - absolute canonical (http… or //…): parsed host must equal the page
      host, then the *parsed* path (defaulted to '/') must equal the page
      path; the canonical's own query is ignored in that compare.
    - relative canonical: the RAW string (defaulted to '/') is compared to
      the page path — '/a?x=1' ≠ '/a' drops, exactly like the reference
      (wat.go:800-806 compares link.URL, not a parsed path).
    - any canonical present while the page itself has a query → drop
      (wat.go:809-814).
    """
    has = canonical_url.isNotNull() & (canonical_url != "")
    is_abs = canonical_url.startswith("http") | canonical_url.startswith("//")
    parseable = F.when(
        canonical_url.startswith("//"),
        F.concat(F.lit("http:"), canonical_url),
    ).otherwise(canonical_url)
    c_host = F.parse_url(parseable, F.lit("HOST"))
    c_path_raw = F.parse_url(parseable, F.lit("PATH"))
    c_path_abs = F.when(
        (c_path_raw.isNull()) | (c_path_raw == ""), F.lit("/")
    ).otherwise(c_path_raw)
    c_path_rel = F.when(canonical_url == "", F.lit("/")).otherwise(
        canonical_url
    )
    same = F.when(
        is_abs,
        c_host.isNotNull() & (c_host == page_host)
        & (c_path_abs == page_path),
    ).otherwise(c_path_rel == page_path)
    return ~has | (same & (page_raw_query == ""))
